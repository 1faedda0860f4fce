"""Vectorized lockstep JPEG batch decoder (raster/jpeg.py decode_batch)
— entropy decode advances every baseline single-scan stream in the Arrow
batch one huffman symbol per numpy iteration, escaping per-symbol
interpreter cost; progressive and other streams in the same batch route
to the scalar decoder. Oracle: bit-exact agreement with the scalar
decoder (which is itself PSNR- and progressive-bit-identity-gated in
test_jpeg.py).

Reference parity: gis-tools decodes imagery via GDAL
(/root/reference/gistools/raster.py:158-165); batching across
independent rows is the Spark-native replacement for libjpeg's C-rate
inner loop.
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


def _force_lockstep(monkeypatch):
    """Drop the entry gate so small test batches exercise the lockstep
    path instead of falling back to the (already-tested) scalar loop."""
    monkeypatch.setattr(jpeg, "_LOCKSTEP_MIN", 1)


def _assert_matches_scalar(bufs):
    res = jpeg.decode_batch(bufs)
    assert len(res) == len(bufs)
    for i, (buf, r) in enumerate(zip(bufs, res)):
        try:
            exp = jpeg.decode(buf)
        except Exception as e:  # noqa: BLE001
            assert isinstance(r, Exception), i
            assert type(r) is type(e), (i, r, e)
            continue
        assert isinstance(r, np.ndarray), (i, r)
        assert np.array_equal(exp, r), i


def test_lockstep_fuzz_agrees_with_scalar(monkeypatch):
    """Shapes x subsampling x quality x restart x progressive-fallback
    x grayscale x corrupt, all in ONE mixed batch."""
    _force_lockstep(monkeypatch)
    bufs = []
    for (w, h) in ((96, 64), (37, 23), (16, 16), (8, 8), (64, 48)):
        for sub in ("444", "420"):
            for q in (50, 85, 98):
                img = _smooth_rgb(w, h, seed=h + q)
                bufs.append(jpeg.encode(img, q, subsampling=sub))
                bufs.append(jpeg.encode(img, q, subsampling=sub,
                                        restart_interval=2))
                bufs.append(jpeg.encode(img, q, subsampling=sub,
                                        progressive=True))
    for (w, h) in ((37, 23), (64, 64)):
        bufs.append(jpeg.encode(_smooth_rgb(w, h, 1)[:, :, 0], 85))
    bufs.append(b"\xff\xd8garbage")
    bufs.append(b"notjpeg")
    _assert_matches_scalar(bufs)


def test_lockstep_restart_interval_one(monkeypatch):
    """RI=1 exercises a segment switch after EVERY MCU — the tightest
    predictor-reset cadence."""
    _force_lockstep(monkeypatch)
    img = _smooth_rgb(48, 32, seed=9)
    _assert_matches_scalar([jpeg.encode(img, 80, restart_interval=1),
                            jpeg.encode(img, 80, subsampling="420",
                                        restart_interval=1)])


def test_lockstep_mixed_sizes_tail(monkeypatch):
    """One much-longer stream keeps the loop alive after the rest finish
    — crosses the straggler cutover into the scalar re-decode path."""
    _force_lockstep(monkeypatch)
    monkeypatch.setattr(jpeg, "_LOCKSTEP_TAIL", 4)
    bufs = [jpeg.encode(_smooth_rgb(16, 16, i), 75) for i in range(8)]
    bufs.append(jpeg.encode(_smooth_rgb(160, 160, 99), 95))
    _assert_matches_scalar(bufs)


def test_narrow_batch_takes_scalar_path():
    """Below the entry gate decode_batch must behave identically (it
    routes through the scalar decoder)."""
    img = _smooth_rgb(32, 24, seed=2)
    bufs = [jpeg.encode(img, 85), b"bad"]
    res = jpeg.decode_batch(bufs)
    assert np.array_equal(res[0], jpeg.decode(bufs[0]))
    assert isinstance(res[1], Exception)


def test_decode_many_mixed_formats():
    """codec.decode_many routes jpeg rows through the batch decoder and
    everything else per-row, preserving order and per-row errors."""
    img = _smooth_rgb(32, 32, seed=5)
    rows = [
        (codec.encode(img, "png"), 32, 32, "png"),
        (codec.encode(img, "jpeg"), 32, 32, "jpeg"),
        (codec.encode(img, "raw"), 32, 32, "raw"),
        (b"corrupt", 32, 32, "jpeg"),
        (b"corrupt", 32, 32, "png"),
        (codec.encode(img, "jpeg"), 32, 32, "jpeg"),
    ]
    out = codec.decode_many(*(list(t) for t in zip(*rows)))
    assert np.array_equal(out[0], img)
    assert np.array_equal(out[1], codec.decode(rows[1][0], 32, 32, "jpeg"))
    assert np.array_equal(out[2], img)
    assert isinstance(out[3], Exception)
    assert isinstance(out[4], Exception)
    assert np.array_equal(out[5], out[1])


def test_vectorized_scan_emitter_bit_identical():
    """_emit_scan_vec must produce the EXACT byte stream of the per-MCU
    scalar emitter — shapes x subsampling x quality x restart interval,
    plus grayscale. (encode() ships the vectorized one; the scalar loop
    is kept precisely as this oracle.)"""
    for (w, h) in ((96, 64), (37, 23), (16, 16), (8, 8)):
        for sub in ("444", "420"):
            for q in (50, 85, 98):
                for ri in (0, 1, 4, 100):
                    img = _smooth_rgb(w, h, seed=h + q)
                    comps, _, _, _ = jpeg._quantized_components(img, q, sub)
                    assert jpeg._emit_scan_vec(comps, ri) == \
                        jpeg._emit_scan_scalar(comps, ri), (w, h, sub, q, ri)
    g = _smooth_rgb(37, 23, 1)[:, :, 0]
    comps, _, _, _ = jpeg._quantized_components(g, 85, "444")
    for ri in (0, 3):
        assert jpeg._emit_scan_vec(comps, ri) == \
            jpeg._emit_scan_scalar(comps, ri)


def test_corrupt_stream_parity_and_termination(monkeypatch):
    """Random byte flips and truncations over baseline/progressive/
    restart streams: decode_batch must terminate, contain each row's
    failure, and agree with the scalar decoder row-by-row (value-equal
    where scalar decodes, an Exception where scalar raises)."""
    _force_lockstep(monkeypatch)
    rng = np.random.default_rng(11)
    bufs = []
    for i in range(60):
        b = bytearray(jpeg.encode(_smooth_rgb(24, 24, i), 80,
                                  progressive=(i % 2 == 0),
                                  restart_interval=(2 if i % 3 == 0
                                                    else 0)))
        mode = i % 4
        if mode == 0:
            b[rng.integers(100, len(b))] ^= int(rng.integers(1, 256))
        elif mode == 1:
            b = b[:rng.integers(20, len(b))]
        elif mode == 2:
            for _ in range(5):
                b[rng.integers(2, len(b))] ^= int(rng.integers(1, 256))
        bufs.append(bytes(b))
    # the shared helper also pins result LENGTH and exception TYPE
    _assert_matches_scalar(bufs)


def test_decode_many_batch_wins_are_measured():
    """Not a perf assert (sandbox jitter): just pins that a wide batch
    through decode_batch is value-identical to scalar over 300+ mixed
    streams — the configuration the verify kernel actually runs."""
    bufs = []
    for i in range(270):
        w = h = (16, 24, 32)[i % 3]
        bufs.append(jpeg.encode(_smooth_rgb(w, h, i), 75,
                                subsampling="420"))
    res = jpeg.decode_batch(bufs)
    for i in (0, 1, 2, 133, 268, 269):
        assert np.array_equal(res[i], jpeg.decode(bufs[i])), i
