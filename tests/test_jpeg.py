"""Pure-numpy baseline JPEG codec tests.

Two independent lines of evidence (no codec library exists here to
compare against):

1. SPEC-DERIVED decode goldens: minimal JPEG streams hand-assembled in
   the test from T.81's marker layout, Annex K Huffman tables, and a
   DC-only coefficient whose IDCT output is analytically known
   (F(0,0)=8, qtab=1 -> every pixel = 128 + 8/8 = 129). These validate
   the decoder against the standard, not against our own encoder —
   including 4:2:0 subsampling and restart-marker handling the encoder
   never produces.
2. Round-trip PSNR: encoder->decoder reconstruction quality on
   gradients and noise at several qualities and odd sizes.
"""

import struct

import numpy as np
import pytest

from amazon_s3_find_and_forget_spark.operators import jpeg


class _SpecBits:
    """Minimal MSB-first bit assembler for hand-crafting scan data."""

    def __init__(self):
        self.bits = []

    def put(self, code: str):
        self.bits.extend(int(b) for b in code)

    def bytes(self) -> bytes:
        bits = self.bits + [1] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


def _dht(tc_th: int, bits, vals) -> bytes:
    body = bytes([tc_th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


def _dqt_ones(tid: int) -> bytes:
    return b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + b"\x01" * 64


# Annex K code words used below (derived from the bits/vals tables):
# DC luma:   category 0 = '00',  category 4 = '101'
# AC luma:   EOB (0x00) = '1010'
# DC chroma: category 0 = '00'
# AC chroma: EOB (0x00) = '00'


def test_decode_spec_grayscale_dc_only():
    """8x8 grayscale, qtab all ones, single DC coefficient 8 ->
    every pixel is exactly 128 + 8·(1/√8)·(1/√8)·... = 129."""
    sof = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    scan = _SpecBits()
    scan.put("101")   # DC category 4
    scan.put("1000")  # magnitude bits for +8
    scan.put("1010")  # EOB
    data = (
        b"\xff\xd8"
        + _dqt_ones(0)
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + _dht(0x00, jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
        + _dht(0x10, jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
        + b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        + scan.bytes()
        + b"\xff\xd9"
    )
    out = jpeg.decode(data)
    assert out.shape == (8, 8)
    assert (out == 129).all()


def test_decode_spec_420_subsampled_color():
    """16x16 YCbCr 4:2:0: four Y blocks with DC=8 (diff 8,0,0,0 through
    the predictor), zero chroma -> every RGB pixel exactly (129,129,129).
    Exercises the multi-block-per-MCU path and chroma upsampling."""
    sof = bytes([8]) + struct.pack(">HH", 16, 16) + bytes(
        [3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    scan = _SpecBits()
    scan.put("101"); scan.put("1000"); scan.put("1010")  # Y1: DC diff +8
    for _ in range(3):                                    # Y2..Y4: diff 0
        scan.put("00"); scan.put("1010")
    scan.put("00"); scan.put("00")                        # Cb: DC 0, EOB
    scan.put("00"); scan.put("00")                        # Cr: DC 0, EOB
    data = (
        b"\xff\xd8"
        + _dqt_ones(0) + _dqt_ones(1)
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + _dht(0x00, jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
        + _dht(0x10, jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
        + _dht(0x01, jpeg.DC_CHROMA_BITS, jpeg.DC_CHROMA_VALS)
        + _dht(0x11, jpeg.AC_CHROMA_BITS, jpeg.AC_CHROMA_VALS)
        + b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        + scan.bytes()
        + b"\xff\xd9"
    )
    out = jpeg.decode(data)
    assert out.shape == (16, 16, 3)
    assert (out == 129).all()


def test_decode_spec_restart_markers_reset_dc_predictor():
    """16x8 grayscale, DRI=1, RST0 between the two MCUs: the second
    block's DC diff +8 lands on a RESET predictor, so both blocks decode
    to 129 (without the reset the second would be 130)."""
    sof = bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    one_block = _SpecBits()
    one_block.put("101"); one_block.put("1000"); one_block.put("1010")
    data = (
        b"\xff\xd8"
        + _dqt_ones(0)
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + _dht(0x00, jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
        + _dht(0x10, jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
        + b"\xff\xdd" + struct.pack(">H", 4) + struct.pack(">H", 1)  # DRI
        + b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        + one_block.bytes()
        + b"\xff\xd0"  # RST0
        + one_block.bytes()
        + b"\xff\xd9"
    )
    out = jpeg.decode(data)
    assert out.shape == (8, 16)
    assert (out == 129).all()


def test_decode_rejects_progressive():
    sof2 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    data = (
        b"\xff\xd8"
        + b"\xff\xc2" + struct.pack(">H", 2 + len(sof2)) + sof2
    )
    with pytest.raises(ValueError, match="non-baseline"):
        jpeg.decode(data)


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_roundtrip_uniform_exact():
    img = np.full((16, 24), 128, np.uint8)
    assert (jpeg.decode(jpeg.encode(img, 90)) == img).all()


@pytest.mark.parametrize(
    "shape,quality,min_psnr",
    [
        ((64, 64, 3), 90, 40.0),   # smooth gradient, color
        ((40, 56, 3), 95, 33.0),   # random noise, high quality
        ((17, 23), 85, 30.0),      # odd size, grayscale
        ((128, 128, 3), 75, 20.0), # noise at medium quality
    ],
)
def test_roundtrip_psnr(shape, quality, min_psnr):
    rng = np.random.default_rng(7)
    if shape == (64, 64, 3):
        x = np.linspace(0, 255, 64).astype(np.uint8)
        img = np.stack(
            np.meshgrid(x, x) + [np.full((64, 64), 77)], axis=-1
        ).astype(np.uint8)
    else:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
    dec = jpeg.decode(jpeg.encode(img, quality))
    assert dec.shape == img.shape
    assert _psnr(img, dec) >= min_psnr


def test_multimodal_routes_jpeg_through_real_decoder():
    from amazon_s3_find_and_forget_spark.operators import multimodal

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    payload = jpeg.encode(img, 90)
    feats = multimodal._decode_features(payload, "image")
    # real image features start with width/4096, height/4096
    assert feats[0] == pytest.approx(32 / 4096.0)
    assert feats[1] == pytest.approx(32 / 4096.0)
    # and differ from the digest stub
    stub = multimodal._decode_stub(payload, "image")
    assert not np.allclose(feats, stub)


def test_decoder_survives_corruption_fuzz():
    """300 corrupted variants (truncation, byte flips, splices) must all
    either decode or raise ValueError — never hang, never leak raw
    Index/Key/Overflow errors past the ValueError contract multimodal's
    fallback relies on."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    enc = bytearray(jpeg.encode(img, 85))
    for trial in range(300):
        data = bytearray(enc)
        mode = trial % 3
        if mode == 0:
            data = data[: rng.integers(4, len(data))]
        elif mode == 1:
            for _ in range(rng.integers(1, 6)):
                data[rng.integers(2, len(data))] = rng.integers(0, 256)
        else:
            pos = rng.integers(2, len(data))
            data[pos:pos] = bytes(
                rng.integers(0, 256, 10, dtype=np.uint8).tolist()
            )
        try:
            jpeg.decode(bytes(data))
        except ValueError:
            pass


def test_encode_420_roundtrip_and_size():
    """4:2:0 color: decodes through the subsampled-MCU path, keeps
    gradient quality, and beats 4:4:4 on size for busy content."""
    x = np.linspace(0, 255, 64).astype(np.uint8)
    grad = np.stack(
        np.meshgrid(x, x) + [np.full((64, 64), 77)], axis=-1
    ).astype(np.uint8)
    e420 = jpeg.encode(grad, 90, subsampling="420")
    dec = jpeg.decode(e420)
    assert dec.shape == grad.shape
    assert _psnr(grad, dec) >= 38.0

    rng = np.random.default_rng(9)
    noise = rng.integers(0, 256, (50, 70, 3), dtype=np.uint8)
    assert len(jpeg.encode(noise, 90, "420")) < len(
        jpeg.encode(noise, 90, "444")
    )

    uniform = np.full((17, 19, 3), 128, np.uint8)
    assert (jpeg.decode(jpeg.encode(uniform, 90, "420")) == 128).all()


def test_encode_420_rejects_bad_mode_and_ignores_gray():
    with pytest.raises(ValueError, match="subsampling"):
        jpeg.encode(np.zeros((8, 8), np.uint8), 90, "422")
    gray = np.full((8, 8), 90, np.uint8)
    # grayscale silently encodes single-plane regardless of mode
    assert (jpeg.decode(jpeg.encode(gray, 95, "420")) == 90).all()
