"""Pure-numpy baseline JPEG codec (ITU-T T.81 / JFIF).

No codec library exists in this environment, so this implements the
subset a real multimodal corpus overwhelmingly consists of: baseline
sequential DCT, 8-bit samples, Huffman entropy coding, grayscale or
YCbCr with 4:4:4 / 4:2:2 / 4:2:0 subsampling, restart intervals.
Progressive (SOF2) and arithmetic-coded files raise ``ValueError`` —
callers fall back to the documented digest stub.

Decoder: marker parse -> Huffman-decode MCUs -> dequantize -> de-zigzag
-> 8x8 IDCT (vectorized orthonormal matrix form) -> chroma upsample ->
BT.601 full-range YCbCr->RGB (the JFIF convention).

Encoder (baseline, 4:4:4, Annex K tables scaled by quality): the exact
inverse pipeline, used for round-trip tests; correctness of the decoder is additionally pinned against
hand-crafted spec-derived bitstreams in tests (not just the encoder's
own output).

Reference parity: the reference engine treats media as opaque bytes;
this codec exists for the training-data-pipeline extension operators
(feature extraction over binary media columns).
"""

from __future__ import annotations

import struct

import numpy as np

# --- shared tables ---------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1 quantization tables (luminance, chrominance)
QTAB_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
QTAB_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 typical Huffman tables: (bits per code length 1..16, values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal 8x8 DCT-II matrix: block_dct = C @ x @ C.T, idct = C.T @ X @ C
_k = np.arange(8).reshape(-1, 1)
_n = np.arange(8).reshape(1, -1)
_C = np.sqrt(2.0 / 8.0) * np.cos((2 * _n + 1) * _k * np.pi / 16.0)
_C[0, :] = np.sqrt(1.0 / 8.0)


def is_jpeg(payload: bytes) -> bool:
    return len(payload) > 3 and payload[:2] == b"\xff\xd8"


# --- Huffman -------------------------------------------------------------


def _build_decode_table(bits, vals):
    """length-1..16 counts + values -> {(length, code): value}."""
    table = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[idx]
            idx += 1
            code += 1
        code <<= 1
    return table


def _build_encode_table(bits, vals):
    return {v: (l, c) for (l, c), v in _build_decode_table(bits, vals).items()}


class _BitReader:
    """MSB-first reader over the entropy-coded segment.

    Handles byte stuffing (FF 00 -> FF) and stops at any real marker;
    restart markers are consumed explicitly via ``restart()``.
    """

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self):
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                self.bitbuf = (self.bitbuf << 8) | 0
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: pad until restart() consumes it
                    self.bitbuf = (self.bitbuf << 8) | 0
                    self.nbits += 8
                    continue
                else:
                    # real marker (EOI/next segment): pad with zeros
                    self.bitbuf = (self.bitbuf << 8) | 0
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid Huffman code in JPEG stream")

    def restart(self):
        """Byte-align and consume an RSTn marker."""
        self.bitbuf = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker")


def _extend(value: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: magnitude bits -> signed coefficient."""
    if size == 0:
        return 0
    if value < (1 << (size - 1)):
        return value - (1 << size) + 1
    return value


# --- decoder -------------------------------------------------------------


def decode(payload: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 array (h, w) grayscale or (h, w, 3) RGB.

    Raises ``ValueError`` for anything undecodable — including corrupt
    streams, whose parse errors surface as index/struct errors from the
    marker walk; callers rely on the single exception type.
    """
    try:
        return _decode(payload)
    except (IndexError, KeyError, OverflowError, struct.error) as e:
        raise ValueError(f"corrupt JPEG stream: {type(e).__name__}") from e


def _decode(payload: bytes) -> np.ndarray:
    if not is_jpeg(payload):
        raise ValueError("not a JPEG payload")
    d = payload
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    comps = None  # list of (cid, h, v, tq)
    size = None  # (height, width)
    restart_interval = 0
    while pos + 4 <= len(d):
        if d[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = d[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack(">H", d[pos + 2 : pos + 4])[0]
        body = d[pos + 4 : pos + 2 + seg_len]
        if marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            precision = body[0]
            if precision != 8:
                raise ValueError("only 8-bit JPEG supported")
            h, w = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            comps = []
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            size = (h, w)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG (progressive/arithmetic)")
        elif marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                p += 1
                if pq == 0:
                    tab = np.frombuffer(
                        body[p : p + 64], dtype=np.uint8
                    ).astype(np.int64)
                    p += 64
                else:
                    tab = np.frombuffer(
                        body[p : p + 128], dtype=">u2"
                    ).astype(np.int64)
                    p += 128
                qtabs[tq] = tab
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(body[p + 17 : p + 17 + nv])
                table = _build_decode_table(bits, vals)
                (ac_tabs if tc else dc_tabs)[th] = table
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = []
            for i in range(ns):
                cs, tdta = body[1 + 2 * i : 3 + 2 * i]
                scan.append((cs, tdta >> 4, tdta & 0xF))
            ecs_start = pos + 2 + seg_len
            return _decode_scan(
                d, ecs_start, size, comps, scan, qtabs, dc_tabs, ac_tabs,
                restart_interval,
            )
        pos += 2 + seg_len
    raise ValueError("no SOS marker found")


def _decode_scan(
    d, pos, size, comps, scan, qtabs, dc_tabs, ac_tabs, restart_interval
):
    h, w = size
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    # per-component block grids
    planes = {}
    nblocks = {}
    for cid, ch, cv, _tq in comps:
        planes[cid] = np.zeros((mcus_y * cv * 8, mcus_x * ch * 8), np.float64)
        nblocks[cid] = (mcus_y * cv, mcus_x * ch)
    coeffs = {
        cid: np.zeros((nblocks[cid][0], nblocks[cid][1], 64), np.int64)
        for cid in planes
    }
    reader = _BitReader(d, pos)
    pred = {cid: 0 for cid in planes}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.restart()
                pred = {cid: 0 for cid in planes}
            for cs, td, ta in scan:
                _cid, ch, cv, _tq = by_id[cs]
                for v in range(cv):
                    for hh in range(ch):
                        blk = _decode_block(
                            reader, dc_tabs[td], ac_tabs[ta], pred, cs
                        )
                        coeffs[cs][my * cv + v, mx * ch + hh] = blk
            mcu_count += 1
    # dequantize + IDCT, vectorized per component
    out_planes = []
    for cid, ch, cv, tq in comps:
        c = coeffs[cid].reshape(-1, 64) * qtabs[tq][np.newaxis, :]
        spatial = np.zeros((c.shape[0], 64))
        spatial[:, ZIGZAG] = c  # de-zigzag
        blocks = spatial.reshape(-1, 8, 8)
        idct = np.einsum("ij,njk,kl->nil", _C.T, blocks, _C) + 128.0
        rows, cols = nblocks[cid]
        plane = (
            idct.reshape(rows, cols, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows * 8, cols * 8)
        )
        # upsample to full MCU resolution then crop
        ry, rx = vmax // cv, hmax // ch
        plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out_planes.append(plane[:h, :w])
    rgb = _color_convert(out_planes)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _decode_block(reader, dc_tab, ac_tab, pred, cid):
    blk = np.zeros(64, np.int64)
    t = reader.decode_huff(dc_tab)
    diff = _extend(reader.read_bits(t), t)
    pred[cid] += diff
    blk[0] = pred[cid]
    k = 1
    while k < 64:
        rs = reader.decode_huff(ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC coefficient index out of range")
        blk[k] = _extend(reader.read_bits(s), s)
        k += 1
    return blk


def _color_convert(planes):
    if len(planes) == 1:
        return planes[0]
    if len(planes) != 3:
        raise ValueError(f"unsupported component count {len(planes)}")
    y, cb, cr = planes
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


# --- encoder (baseline, 4:4:4, Annex K tables) ----------------------------


def _quality_scale(qtab: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(quality, 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    out = (qtab * scale + 50) // 100
    return np.clip(out, 1, 255)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per T.81


def encode(
    arr: np.ndarray, quality: int = 90, subsampling: str = "444"
) -> bytes:
    """uint8 (h, w) or (h, w, 3) array -> baseline JFIF bytes.

    ``subsampling``: "444" (every plane full resolution) or "420"
    (chroma box-averaged 2x2 — the dominant wild-JPEG layout, ~half the
    entropy-coded bytes on color content). Ignored for grayscale.
    """
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    arr = np.asarray(arr)
    gray = arr.ndim == 2
    if gray:
        subsampling = "444"
    h, w = arr.shape[:2]
    if gray:
        planes = [arr.astype(np.float64)]
    else:
        x = arr.astype(np.float64)
        r, g, b = x[..., 0], x[..., 1], x[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
    qluma = _quality_scale(QTAB_LUMA, quality)
    qchroma = _quality_scale(QTAB_CHROMA, quality)
    qtabs = [qluma] + ([] if gray else [qchroma])

    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    for i, q in enumerate(qtabs):
        # DQT elements are stored in zigzag order (T.81 B.2.4.1)
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([i]) + bytes(
            int(v) for v in q[ZIGZAG]
        )
    ncomp = 1 if gray else 3
    luma_hv = 0x22 if subsampling == "420" else 0x11
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for i in range(ncomp):
        sof += bytes(
            [i + 1, luma_hv if i == 0 else 0x11, 0 if i == 0 else 1]
        )
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    huffs = [
        (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
        (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
    ]
    if not gray:
        huffs += [
            (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
        ]
    for tid, bits, vals in huffs:
        body = bytes([tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_enc = [_build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS)]
    ac_enc = [_build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)]
    if not gray:
        dc_enc.append(_build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS))
        ac_enc.append(_build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS))

    def quantized_blocks(plane, qtab, ph, pw):
        """Edge-pad to (ph, pw), 8x8 DCT + quantize, zigzag rows."""
        hh, ww = plane.shape
        p = np.pad(plane, ((0, ph - hh), (0, pw - ww)), mode="edge") - 128.0
        blocks = (
            p.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
        ).reshape(-1, 8, 8)
        dct = np.einsum("ij,njk,kl->nil", _C, blocks, _C.T)
        quant = np.rint(dct / qtab.reshape(8, 8)[np.newaxis]).astype(np.int64)
        # zigzag order: position k holds natural coefficient ZIGZAG[k]
        return quant.reshape(-1, 64)[:, ZIGZAG]

    writer = _BitWriter()
    pred = [0] * ncomp
    if subsampling == "444":
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        comp_blocks = [
            quantized_blocks(plane, qtabs[min(ci, len(qtabs) - 1)], ph, pw)
            for ci, plane in enumerate(planes)
        ]
        n_by, n_bx = ph // 8, pw // 8
        for by in range(n_by):
            for bx in range(n_bx):
                for ci in range(ncomp):
                    _encode_block(
                        writer, comp_blocks[ci][by * n_bx + bx], pred, ci,
                        dc_enc[min(ci, len(dc_enc) - 1)],
                        ac_enc[min(ci, len(ac_enc) - 1)],
                    )
    else:
        # 4:2:0 MCU = four 8x8 Y blocks + one Cb + one Cr (chroma box-
        # averaged 2x2 over the 16-aligned luma grid)
        ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
        y, cb, cr = planes
        ypad = np.pad(y, ((0, ph - h), (0, pw - w)), mode="edge")
        y_blocks = quantized_blocks(ypad, qluma, ph, pw)

        def down2(p):
            pp = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            return pp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))

        cb_blocks = quantized_blocks(down2(cb), qchroma, ph // 2, pw // 2)
        cr_blocks = quantized_blocks(down2(cr), qchroma, ph // 2, pw // 2)
        n_my, n_mx = ph // 16, pw // 16
        y_bx = pw // 8
        for my in range(n_my):
            for mx in range(n_mx):
                for v in (0, 1):
                    for hh in (0, 1):
                        idx = (my * 2 + v) * y_bx + (mx * 2 + hh)
                        _encode_block(
                            writer, y_blocks[idx], pred, 0,
                            dc_enc[0], ac_enc[0],
                        )
                cidx = my * n_mx + mx
                _encode_block(
                    writer, cb_blocks[cidx], pred, 1, dc_enc[1], ac_enc[1]
                )
                _encode_block(
                    writer, cr_blocks[cidx], pred, 2, dc_enc[1], ac_enc[1]
                )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _magnitude(v: int) -> tuple[int, int]:
    """signed coefficient -> (size, magnitude bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(writer, blk, pred, ci, dc_tab, ac_tab):
    diff = int(blk[0]) - pred[ci]
    pred[ci] = int(blk[0])
    size, bits = _magnitude(diff)
    l, c = dc_tab[size]
    writer.write(c, l)
    if size:
        writer.write(bits, size)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if blk[k] != 0:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(blk[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            l, c = ac_tab[0xF0]  # ZRL
            writer.write(c, l)
            run -= 16
        size, bits = _magnitude(v)
        l, c = ac_tab[(run << 4) | size]
        writer.write(c, l)
        writer.write(bits, size)
        run = 0
    if last_nz < 63:
        l, c = ac_tab[0x00]  # EOB
        writer.write(c, l)
