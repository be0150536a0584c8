"""Pure-stdlib MP4 (ISO BMFF) and MP3 container parsers.

No media codec exists in this environment, but the CONTAINERS are plain
byte structures: an MP4's box tree carries the real duration, timescale,
and per-sample (frame) byte ranges; an MP3 is a sequence of
self-describing frame headers. Parsing them upgrades the multimodal
operators from "trust the metadata column" to "read the payload":

- ``parse_mp4``: walks the box tree (ftyp/moov/mvhd/trak/mdia/stbl),
  returning the movie duration and, per track, the codec fourcc and the
  sample table (sizes via stsz, chunk offsets via stco/co64, per-chunk
  sample counts via stsc, timing via stts) resolved into absolute
  (offset, size, timestamp) triples — the exact byte range of every
  frame, no codec needed.
- ``parse_mp3``: scans MPEG-1/2 Layer III frame headers (sync, bitrate,
  sample-rate tables), returning per-frame offsets/sizes and the exact
  audio duration implied by the frame count.

Frame *decoding* (H.264/AAC/MP3 synthesis) still requires codecs that do
not exist here and stays behind the digest stub; everything in this
module is real.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

# --- MP4 / ISO base media file format --------------------------------------

_CONTAINER_BOXES = {
    b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"udta",
}


@dataclass
class Mp4Track:
    codec: str
    timescale: int
    sample_sizes: list[int] = field(default_factory=list)
    sample_offsets: list[int] = field(default_factory=list)
    sample_times: list[int] = field(default_factory=list)  # in timescale units

    @property
    def n_samples(self) -> int:
        return len(self.sample_sizes)


@dataclass
class Mp4Info:
    duration_ms: int
    timescale: int
    tracks: list[Mp4Track] = field(default_factory=list)


def is_mp4(payload: bytes) -> bool:
    return (
        len(payload) >= 12
        and payload[4:8] == b"ftyp"
        and len(payload) >= struct.unpack(">I", payload[:4])[0]
    )


def _iter_boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        size = struct.unpack(">I", data[pos : pos + 4])[0]
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                break
            size = struct.unpack(">Q", data[pos + 8 : pos + 16])[0]
            body = pos + 16
        elif size == 0:  # to end of file
            size = end - pos
        if size < 8 or pos + size > end:
            break
        yield btype, body, pos + size
        pos += size


def _find_boxes(data: bytes, start: int, end: int, path: tuple) -> list:
    """All boxes matching a type path, as (body_start, box_end) spans."""
    if not path:
        return [(start, end)]
    out = []
    for btype, body, box_end in _iter_boxes(data, start, end):
        if btype == path[0]:
            out.extend(_find_boxes(data, body, box_end, path[1:]))
    return out


def _fullbox(data: bytes, pos: int) -> tuple[int, int]:
    """version, body position after the version/flags word."""
    return data[pos], pos + 4


def parse_mp4(payload: bytes) -> Mp4Info:
    """Raises ``ValueError`` for anything unparseable — corrupt boxes
    surface as struct/index errors from the walk, and every count field
    is bounded by the bytes actually present (a corrupted stsz/stts
    count must not drive an unbounded allocation)."""
    try:
        return _parse_mp4(payload)
    except (IndexError, KeyError, OverflowError, struct.error,
            UnicodeDecodeError) as e:
        raise ValueError(f"corrupt MP4 stream: {type(e).__name__}") from e


def _parse_mp4(payload: bytes) -> Mp4Info:
    if not is_mp4(payload):
        raise ValueError("not an MP4 payload")
    d = payload
    end = len(d)
    mvhd = _find_boxes(d, 0, end, (b"moov", b"mvhd"))
    if not mvhd:
        raise ValueError("MP4 without moov/mvhd")
    pos, _ = mvhd[0]
    ver, p = _fullbox(d, pos)
    if ver == 1:
        timescale, duration = struct.unpack(">IQ", d[p + 16 : p + 28])
    else:
        timescale, duration = struct.unpack(">II", d[p + 8 : p + 16])
    info = Mp4Info(
        duration_ms=int(duration * 1000 // max(timescale, 1)),
        timescale=timescale,
    )
    for trak_start, trak_end in _find_boxes(d, 0, end, (b"moov", b"trak")):
        track = _parse_track(d, trak_start, trak_end)
        if track is not None:
            info.tracks.append(track)
    return info


def _u32s(data: bytes, pos: int, n: int) -> list[int]:
    return list(struct.unpack(f">{n}I", data[pos : pos + 4 * n]))


def _parse_track(d: bytes, start: int, end: int) -> Mp4Track | None:
    mdhd = _find_boxes(d, start, end, (b"mdia", b"mdhd"))
    stbl = _find_boxes(d, start, end, (b"mdia", b"minf", b"stbl"))
    if not mdhd or not stbl:
        return None
    pos, _ = mdhd[0]
    ver, p = _fullbox(d, pos)
    timescale = struct.unpack(
        ">I", d[p + (16 if ver == 1 else 8) :][:4]
    )[0]
    s_start, s_end = stbl[0]

    def one(name: bytes):
        found = _find_boxes(d, s_start, s_end, (name,))
        return found[0] if found else None

    stsd = one(b"stsd")
    codec = "unknown"
    if stsd:
        pos, _ = stsd[0], stsd[1]
        _, p = _fullbox(d, pos)
        n_entries = struct.unpack(">I", d[p : p + 4])[0]
        if n_entries >= 1:
            codec = d[p + 8 : p + 12].decode("latin1")
    def bounded(count: int, p: int, box_end: int, width: int) -> int:
        """A table's declared entry count may not exceed the bytes the
        box actually holds — corrupt counts must not drive unbounded
        allocations or reads."""
        if count < 0 or p + count * width > box_end:
            raise ValueError(
                f"MP4 table count {count} exceeds box bounds"
            )
        return count

    stsz = one(b"stsz")
    sizes: list[int] = []
    if stsz:
        pos, box_end = stsz
        _, p = _fullbox(d, pos)
        fixed, count = struct.unpack(">II", d[p : p + 8])
        if fixed:
            # fixed-size samples carry no per-entry table; the count is
            # still sanity-bounded by the file (every sample has bytes)
            if count > len(d):
                raise ValueError("MP4 fixed sample count exceeds file size")
            sizes = [fixed] * count
        else:
            sizes = _u32s(d, p + 8, bounded(count, p + 8, box_end, 4))
    # chunk offsets
    offsets_of_chunks: list[int] = []
    stco = one(b"stco")
    co64 = one(b"co64")
    if stco:
        pos, box_end = stco
        _, p = _fullbox(d, pos)
        n = struct.unpack(">I", d[p : p + 4])[0]
        offsets_of_chunks = _u32s(d, p + 4, bounded(n, p + 4, box_end, 4))
    elif co64:
        pos, box_end = co64
        _, p = _fullbox(d, pos)
        n = struct.unpack(">I", d[p : p + 4])[0]
        n = bounded(n, p + 4, box_end, 8)
        offsets_of_chunks = list(
            struct.unpack(f">{n}Q", d[p + 4 : p + 4 + 8 * n])
        )
    # samples-per-chunk runs
    stsc_runs: list[tuple[int, int]] = []  # (first_chunk 1-based, per_chunk)
    stsc = one(b"stsc")
    if stsc:
        pos, box_end = stsc
        _, p = _fullbox(d, pos)
        n = struct.unpack(">I", d[p : p + 4])[0]
        for i in range(bounded(n, p + 4, box_end, 12)):
            first, per, _desc = struct.unpack(
                ">III", d[p + 4 + 12 * i : p + 16 + 12 * i]
            )
            stsc_runs.append((first, per))
    # resolve absolute sample offsets
    sample_offsets: list[int] = []
    if offsets_of_chunks and sizes:
        si = 0
        for ci, chunk_off in enumerate(offsets_of_chunks, start=1):
            per = 0
            for first, count in stsc_runs:
                if first <= ci:
                    per = count
                else:
                    break
            off = chunk_off
            for _ in range(per):
                if si >= len(sizes):
                    break
                sample_offsets.append(off)
                off += sizes[si]
                si += 1
    # timing: stts runs -> absolute timestamps
    sample_times: list[int] = []
    stts = one(b"stts")
    if stts:
        pos, box_end = stts
        _, p = _fullbox(d, pos)
        n = struct.unpack(">I", d[p : p + 4])[0]
        t = 0
        # total timestamps bounded by the declared sample count (itself
        # byte-bounded above) — a corrupt run count can't loop forever
        cap = len(sizes) if sizes else len(d)
        for i in range(bounded(n, p + 4, box_end, 8)):
            count, delta = struct.unpack(
                ">II", d[p + 4 + 8 * i : p + 12 + 8 * i]
            )
            for _ in range(min(count, cap - len(sample_times))):
                sample_times.append(t)
                t += delta
            if len(sample_times) >= cap:
                break
    return Mp4Track(
        codec=codec,
        timescale=timescale,
        sample_sizes=sizes,
        sample_offsets=sample_offsets,
        sample_times=sample_times,
    )


def mp4_frame_ranges(payload: bytes) -> list[tuple[int, int, int]]:
    """(offset, size, timestamp_ms) of every video-track sample.

    Prefers the track whose stsd codec looks like video (avc1/hev1/mp4v
    etc.); falls back to the track with the most samples.
    """
    info = parse_mp4(payload)
    video = [
        t for t in info.tracks
        if t.codec[:3] in ("avc", "hev", "hvc", "mp4", "vp0", "av0")
        and t.n_samples
    ]
    cands = video or sorted(info.tracks, key=lambda t: -t.n_samples)
    if not cands or not cands[0].n_samples:
        return []
    t = cands[0]
    out = []
    scale = max(t.timescale, 1)
    for i in range(len(t.sample_sizes)):
        off = t.sample_offsets[i] if i < len(t.sample_offsets) else 0
        ts = t.sample_times[i] if i < len(t.sample_times) else 0
        out.append((off, t.sample_sizes[i], int(ts * 1000 // scale)))
    return out


# --- MP3 -------------------------------------------------------------------

# bitrate kbps tables, index 1..14 (0 = free, 15 = bad)
_BITRATES_V1_L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                   256, 320]
_BITRATES_V2_L3 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
                   160]
_SAMPLE_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000],
                 0: [11025, 12000, 8000]}


@dataclass
class Mp3Frame:
    offset: int
    size: int
    bitrate_kbps: int
    sample_rate: int
    samples: int  # samples per frame


def is_mp3(payload: bytes) -> bool:
    if len(payload) < 4:
        return False
    if payload[:3] == b"ID3":
        return True
    return _frame_at(payload, 0) is not None


def _frame_at(d: bytes, pos: int) -> Mp3Frame | None:
    if pos + 4 > len(d):
        return None
    b0, b1, b2, _b3 = d[pos : pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    version = (b1 >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer = (b1 >> 1) & 0x3  # 1 = Layer III
    if version == 1 or layer != 1:
        return None
    br_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 0x3
    padding = (b2 >> 1) & 0x1
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    table = _BITRATES_V1_L3 if version == 3 else _BITRATES_V2_L3
    bitrate = table[br_idx]
    sample_rate = _SAMPLE_RATES[version][sr_idx]
    samples = 1152 if version == 3 else 576
    size = (samples // 8) * bitrate * 1000 // sample_rate + padding
    if size < 4:
        return None
    return Mp3Frame(pos, size, bitrate, sample_rate, samples)


def parse_mp3(payload: bytes) -> list[Mp3Frame]:
    """All Layer III frames, walking header-to-header (skips ID3v2)."""
    d = payload
    pos = 0
    if d[:3] == b"ID3" and len(d) >= 10:
        syncsafe = d[6:10]
        tag_size = (
            (syncsafe[0] << 21) | (syncsafe[1] << 14)
            | (syncsafe[2] << 7) | syncsafe[3]
        )
        pos = 10 + tag_size
    frames: list[Mp3Frame] = []
    while pos + 4 <= len(d):
        frame = _frame_at(d, pos)
        if frame is None:
            if frames:
                break  # trailing junk / ID3v1 tag
            pos += 1  # still hunting for first sync
            continue
        if frame.offset + frame.size > len(d):
            break
        frames.append(frame)
        pos = frame.offset + frame.size
    return frames
