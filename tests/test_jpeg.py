"""Round-3 stretch (round-2 verdict "What's missing" #1): from-scratch
baseline JFIF codec — real `fmt='jpeg'` decode/encode without PIL.

Reference parity: gis-tools reads imagery via GDAL/PIL; here the jpeg
path is a pure-numpy baseline sequential codec (raster/jpeg.py) wired
into the same fmt-dispatched codec layer and the BASELINE.md
PSNR>=40 lossy verify gate.
"""

import numpy as np
import pytest

from gis_tools_spark.raster import codec, jpeg


def _smooth_rgb(w, h, seed=0):
    rng = np.random.default_rng(seed)
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    base = (127 + 80 * np.sin(x * 0.11 + seed) * np.cos(y * 0.07)
            + rng.normal(0, 3, (h, w))).clip(0, 255)
    return np.stack([base, base * 0.85, base * 0.6], axis=2).astype(np.uint8)


def test_jfif_markers():
    buf = jpeg.encode(_smooth_rgb(32, 32))
    assert buf[:2] == b"\xff\xd8"        # SOI
    assert buf[-2:] == b"\xff\xd9"       # EOI
    assert b"JFIF" in buf[:32]


def test_jpeg_roundtrip_psnr_gate():
    img = _smooth_rgb(96, 64, seed=3)
    buf = codec.encode(img, "jpeg")
    rt = codec.decode(buf, 96, 64, "jpeg")
    assert rt.shape == img.shape
    p = codec.psnr(img, rt)
    assert p >= 40.0, p                  # the BASELINE.md lossy gate
    assert p != float("inf")             # and it IS lossy
    assert len(buf) < img.size // 3      # and it compresses
    # requantization is near-idempotent: second generation stays high
    rt2 = codec.decode(codec.encode(rt, "jpeg"), 96, 64, "jpeg")
    assert codec.psnr(rt, rt2) >= 40.0


def test_jpeg_quality_monotone():
    img = _smooth_rgb(64, 64, seed=7)
    sizes, psnrs = [], []
    for q in (50, 85, 98):
        buf = jpeg.encode(img, quality=q)
        sizes.append(len(buf))
        psnrs.append(codec.psnr(img, jpeg.decode(buf)))
    assert sizes[0] < sizes[1] < sizes[2]
    assert psnrs[0] < psnrs[1] < psnrs[2]


def test_jpeg_grayscale_and_odd_sizes():
    g = _smooth_rgb(37, 23, seed=1)[:, :, 0]
    rt = jpeg.decode(jpeg.encode(g, quality=92))
    assert rt.shape == (23, 37)
    assert codec.psnr(g, rt) >= 40.0


def test_jpeg_progressive_bit_identical():
    """Progressive encode emits the SAME quantized coefficients as
    baseline, so after all scans (DC first+refine, AC spectral bands at
    Al=1, AC refinement to Al=0) the decode must be BIT-identical —
    a far stronger oracle than PSNR. Covers 4:4:4, 4:2:0, odd sizes,
    grayscale, and EOB-runs (the flat AC table emits real EOBn codes)."""
    for (w, h) in ((96, 64), (37, 23), (16, 16)):
        for sub in ("444", "420"):
            img = _smooth_rgb(w, h, seed=h)
            dp = jpeg.decode(jpeg.encode(img, 85, subsampling=sub,
                                         progressive=True))
            db = jpeg.decode(jpeg.encode(img, 85, subsampling=sub))
            assert np.array_equal(dp, db), (w, h, sub)
    g = _smooth_rgb(37, 23, 1)[:, :, 0]
    assert np.array_equal(jpeg.decode(jpeg.encode(g, 85, progressive=True)),
                          jpeg.decode(jpeg.encode(g, 85)))


def test_jpeg_progressive_eobrun_zrl():
    """A mostly-flat image with isolated high-frequency spikes forces
    long EOB runs (EOBn, n>0) and ZRL codes in the AC scans."""
    img = np.full((128, 128), 128, dtype=np.uint8)
    img[5::32, 7::32] = 255              # sparse spikes
    dp = jpeg.decode(jpeg.encode(img, 90, progressive=True))
    db = jpeg.decode(jpeg.encode(img, 90))
    assert np.array_equal(dp, db)


def test_jpeg_restart_markers():
    """DRI/RSTn streams decode identically to the unrestarted stream —
    the round-3 advisory bug (RST treated as end-of-data → gray tail)
    would fail this on every interval."""
    img = _smooth_rgb(96, 64, seed=5)
    ref = {s: jpeg.decode(jpeg.encode(img, 85, subsampling=s))
           for s in ("444", "420")}
    for ri in (1, 2, 5):
        for sub in ("444", "420"):
            dr = jpeg.decode(jpeg.encode(img, 85, subsampling=sub,
                                         restart_interval=ri))
            assert np.array_equal(dr, ref[sub]), (ri, sub)
    # progressive + restart
    dpr = jpeg.decode(jpeg.encode(img, 85, progressive=True,
                                  restart_interval=3))
    assert np.array_equal(dpr, ref["444"])


def test_jpeg_unsupported_modes_rejected():
    buf = bytearray(jpeg.encode(_smooth_rgb(16, 16)))
    i = buf.find(b"\xff\xc0")
    assert i > 0
    for sof in (0xC3, 0xC7, 0xCB):       # lossless / differential
        bad = bytearray(buf)
        bad[i + 1] = sof
        with pytest.raises(NotImplementedError):
            jpeg.decode(bytes(bad))


def test_jpeg_decode_rate_floor():
    """Regression guard for the round-4 LUT decoder: stays well above
    the round-3 interpreter-loop rate (~0.9 MPix/s on this shape). The
    best of 3 timed passes over the same 8 images, so one pass slowed
    by a loaded host does not decide it."""
    import time
    bufs = [jpeg.encode(_smooth_rgb(64, 64, s), 85) for s in range(8)]
    jpeg.decode(bufs[0])                 # warm the LUT cache
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for b in bufs:
            jpeg.decode(b)
        best = min(best, time.perf_counter() - t0)
    rate = 8 * 64 * 64 / best / 1e6
    assert rate > 1.5, f"{rate:.2f} MPix/s"


def test_verify_images_arrow_jpeg_lossy_gate(spark):
    """End-to-end: fmt='jpeg' rows flow through the Arrow verify kernel
    and pass the phash + PSNR>=40 roundtrip gate; a corrupted entropy
    segment is marked not killed."""
    from gis_tools_spark.raster.kernels import verify_images_arrow

    rows = []
    for i in range(8):
        img = _smooth_rgb(32, 32, seed=i)
        buf = codec.encode(img, "jpeg")
        dec = codec.decode(buf, 32, 32, "jpeg")   # store phash of DECODED
        rows.append((f"img{i:09d}", bytearray(buf), 32, 32, "jpeg",
                     f"caption for img{i:09d}", codec.phash64(dec)))
    bad = bytearray(rows[0][1])
    bad[len(bad) // 2:len(bad) // 2 + 16] = b"\x00" * 16
    rows.append(("img_bad", bad, 32, 32, "jpeg", "caption for img_bad", 0))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long")
    out = {r["image_id"]: r["ok"] for r in verify_images_arrow(df).collect()}
    assert all(out[f"img{i:09d}"] for i in range(8))
    assert not out["img_bad"]


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 encode (2x2 Y + downsampled chroma MCUs) exercises the
    decoder's sampling-factor path against our own bytes — real-world
    JPEG corpora are predominantly 4:2:0."""
    for (w, h) in ((64, 48), (37, 23), (16, 16)):
        img = _smooth_rgb(w, h, seed=w)
        b420 = jpeg.encode(img, quality=92, subsampling="420")
        d420 = jpeg.decode(b420)
        assert d420.shape == img.shape
        assert codec.psnr(img, d420) >= 38.0   # ~0.3 dB under 4:4:4
    with pytest.raises(ValueError):
        jpeg.encode(img, subsampling="422")
