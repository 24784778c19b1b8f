"""Baseline JPEG codec tests — round-trip fidelity, structure, and
cross-validation against a real libjpeg-produced file."""

import os

import numpy as np
import pytest

from tilecloud_chain_spark.functions import image as IMG
from tilecloud_chain_spark.functions import jpeg as J

# a real-world baseline 4:4:4 JPEG (libjpeg output with restart markers)
# present in this container; the decode cross-validation skips elsewhere
_REAL_JPEG = (
    "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/doc/"
    "rust/html/embedded-book/assets/verify.jpeg"
)
_SUBSAMPLED_JPEG = (
    "/root/.pyenv/versions/3.7.16/lib/python3.7/test/imghdrdata/python.jpg"
)


def test_constant_images_roundtrip_exact():
    """A constant block has only a DC coefficient — quantization cannot
    touch it, so constants round-trip bit-exact (gray and RGB)."""
    g = np.full((16, 16), 128, np.uint8)
    assert (J.jpeg_decode(J.jpeg_encode(g, 90)) == g).all()
    c = np.zeros((24, 24, 3), np.uint8)
    c[:] = (200, 30, 90)
    assert (J.jpeg_decode(J.jpeg_encode(c, 90)) == c).all()


def test_roundtrip_psnr_meets_baseline_invariant():
    """The BASELINE 'decoded-pixel PSNR >= 40 dB for lossy formats'
    invariant, at the default quality, on PIPELINE content — a rendered
    tile (flat background + antialias-free strokes, what the image path
    actually carries). Pure random noise is the information-theoretic
    adversarial case and is covered separately."""
    from tilecloud_chain_spark.geometry import Geom
    from tilecloud_chain_spark.operators.raster import render_extent

    geom = Geom([("line", [(5.0, 5.0), (50.0, 40.0), (20.0, 60.0)])])
    img = render_extent(geom, (0.0, 0.0, 64.0, 64.0), 64, 64)
    back = J.jpeg_decode(J.jpeg_encode(img))
    assert back.shape == (64, 64, 3)  # alpha dropped
    assert IMG.psnr(img[..., :3], back) >= 40.0


def test_noise_psnr_floor_and_headroom():
    """Adversarial content (uniform random pixels): the default quality
    stays near the invariant (>= 38 dB worst-case), and q=98 restores
    >= 44 dB while still compressing below raw."""
    worst = 99.0
    for seed in range(8):
        img = IMG.synth_pixels(seed, 32, 32)
        worst = min(worst, IMG.psnr(img, J.jpeg_decode(J.jpeg_encode(img))))
    assert worst >= 38.0
    img = IMG.synth_pixels(5, 32, 32)
    data = J.jpeg_encode(img, 98)
    assert IMG.psnr(img, J.jpeg_decode(data)) >= 44.0
    assert len(data) < img.size


def test_quality_monotone_in_size_and_psnr():
    img = IMG.synth_pixels(11, 64, 64)
    sizes, psnrs = [], []
    for q in (50, 75, 90, 95):
        data = J.jpeg_encode(img, q)
        sizes.append(len(data))
        psnrs.append(IMG.psnr(img, J.jpeg_decode(data)))
    assert sizes == sorted(sizes)
    assert psnrs == sorted(psnrs)
    assert sizes[-1] < img.size  # still compresses below raw


def test_non_multiple_of_8_dimensions():
    img = IMG.synth_pixels(3, 37, 29)
    back = J.jpeg_decode(J.jpeg_encode(img, 95))
    assert back.shape == (37, 29, 3)
    assert IMG.psnr(img, back) >= 38.0  # edge-replicated padding, cropped back


def test_smooth_content_high_fidelity():
    x = np.linspace(0, 255, 64).astype(np.uint8)
    img = np.stack([np.tile(x, (64, 1))] * 3, -1)
    assert IMG.psnr(img, J.jpeg_decode(J.jpeg_encode(img, 90))) >= 50.0


def test_rgba_alpha_dropped_and_grayscale():
    rgba = np.zeros((16, 16, 4), np.uint8)
    rgba[..., :3] = (10, 200, 30)
    rgba[..., 3] = 77
    back = J.jpeg_decode(J.jpeg_encode(rgba, 90))
    assert back.shape == (16, 16, 3)
    assert (back == np.array([10, 200, 30], np.uint8)).all()
    g = (np.outer(np.arange(16), np.ones(16)) * 12).astype(np.uint8)
    bg = J.jpeg_decode(J.jpeg_encode(g, 95))
    assert bg.shape == (16, 16)
    assert IMG.psnr(g, bg) >= 40.0


def test_container_structure():
    data = J.jpeg_encode(IMG.synth_pixels(1, 16, 16), 90)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert data[2:4] == b"\xff\xe0" and data[6:11] == b"JFIF\x00"
    assert data.count(b"\xff\xdb") >= 2  # two quant tables
    assert data.count(b"\xff\xc4") >= 4  # four Huffman tables
    assert b"\xff\xc0" in data  # baseline SOF0


@pytest.mark.skipif(not os.path.exists(_REAL_JPEG),
                    reason=f"fixture not present: {_REAL_JPEG}")
def test_decodes_real_libjpeg_file():
    """Cross-engine validation: a 720x477 libjpeg-produced baseline 4:4:4
    file with 59 restart segments decodes end-to-end with zero Huffman
    desync (any table/bit error desyncs within a few MCUs), yields
    photo-plausible statistics, and re-encodes at high fidelity."""
    img = J.jpeg_decode(open(_REAL_JPEG, "rb").read())
    assert img.shape == (477, 720, 3)
    assert 20 < img.mean() < 235  # not blank/garbage
    # natural image smoothness: consecutive rows correlate strongly
    assert float(np.abs(np.diff(img.astype(int), axis=0)).mean()) < 20.0
    back = J.jpeg_decode(J.jpeg_encode(img, 95))
    assert IMG.psnr(img, back) >= 45.0


@pytest.mark.skipif(not os.path.exists(_SUBSAMPLED_JPEG),
                    reason=f"fixture not present: {_SUBSAMPLED_JPEG}")
def test_decodes_real_420_subsampled_file():
    """A real libjpeg 4:2:0 file (2x2 luma sampling — the most common
    real-world layout): the generalized MCU interleave (Hi x Vi blocks per
    MCU, nearest-neighbor chroma upsample) decodes it without desync."""
    img = J.jpeg_decode(open(_SUBSAMPLED_JPEG, "rb").read())
    assert img.shape == (16, 16, 3)
    assert 30 < img.mean() < 225  # plausible logo content, not garbage


def test_image_module_integration():
    """functions.image routes fmt='jpeg' to the real codec."""
    img = IMG.synth_pixels(5, 32, 32)
    data = IMG.jpeg_encode(img)
    back = IMG.decode(data, "jpeg")
    assert IMG.psnr(img, back) >= 38.0  # synthetic noise at default quality


# --------------------------------------------------------------------------
# property-based (hypothesis): random content must never crash or desync,
# and fidelity bounds must hold across shapes/contents — not just the
# handpicked cases above
# --------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 10_000),
    quality=st.integers(30, 100),
    channels=st.sampled_from([1, 3]),
)
def test_roundtrip_never_desyncs_any_shape(h, w, seed, quality, channels):
    rng = np.random.default_rng(seed)
    shape = (h, w) if channels == 1 else (h, w, 3)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    back = J.jpeg_decode(J.jpeg_encode(img, quality))
    assert back.shape == shape
    # lossy but bounded: worst-case error per pixel stays far from random
    err = np.abs(back.astype(int) - img.astype(int)).mean()
    assert err < 64.0


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(8, 32),
    w=st.integers(8, 32),
    seed=st.integers(0, 10_000),
)
def test_high_quality_noise_floor(h, w, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert IMG.psnr(img, J.jpeg_decode(J.jpeg_encode(img, 98))) >= 42.0


def test_420_subsampled_encode_roundtrip():
    """The 4:2:0 encoder (2x2 Y blocks per MCU + box-mean chroma): constant
    images stay exact, smooth content keeps >= 55 dB, output is smaller
    than 4:4:4 at the same quality, SOF advertises 0x22 sampling, and odd
    dimensions survive."""
    c = np.zeros((24, 24, 3), np.uint8)
    c[:] = (200, 30, 90)
    assert (J.jpeg_decode(J.jpeg_encode(c, 90, subsampling="420")) == c).all()
    x = np.linspace(0, 255, 64).astype(np.uint8)
    sm = np.stack([np.tile(x, (64, 1))] * 3, -1)
    d420 = J.jpeg_encode(sm, 95, subsampling="420")
    assert IMG.psnr(sm, J.jpeg_decode(d420)) >= 55.0
    assert len(d420) < len(J.jpeg_encode(sm, 95))
    # SOF sampling byte: component 1 = 0x22
    sof = d420.index(b"\xff\xc0")
    # FFC0(2) + len(2) + prec(1) + h(2) + w(2) + ncomp(1) + comp-id(1) -> sampling
    assert d420[sof + 11] == 0x22
    odd = IMG.synth_pixels(3, 37, 29)
    assert J.jpeg_decode(J.jpeg_encode(odd, 95, subsampling="420")).shape == (37, 29, 3)


def test_420_invalid_subsampling_rejected():
    with pytest.raises(ValueError, match="subsampling"):
        J.jpeg_encode(np.zeros((8, 8, 3), np.uint8), 90, subsampling="422x")


def test_fill_bytes_before_markers_tolerated():
    """T.81 B.1.1.2: any marker may be preceded by extra 0xFF fill bytes —
    inject them at real segment boundaries (walking the marker structure,
    never touching payload bytes) and the stream must still decode to the
    identical image."""
    import struct as _struct

    img = IMG.synth_pixels(4, 24, 24)
    data = J.jpeg_encode(img, 95)
    out = bytearray(data[:2])  # SOI
    pos = 2
    while True:
        assert data[pos] == 0xFF
        marker = data[pos + 1]
        out += b"\xff\xff\xff"  # two fill bytes, then the marker's 0xFF
        out.append(marker)
        pos += 2
        seglen = _struct.unpack(">H", data[pos : pos + 2])[0]
        out += data[pos : pos + seglen]
        pos += seglen
        if marker == 0xDA:  # SOS: rest is entropy data + EOI
            out += data[pos:]
            break
    assert (J.jpeg_decode(bytes(out)) == J.jpeg_decode(data)).all()
