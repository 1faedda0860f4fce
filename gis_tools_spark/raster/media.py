"""Image-table operators for training-data pipelines: resize,
augmentation, EXIF orientation normalization and quality scoring.

These go beyond the reference's raster surface (closest analog:
``RasterMap.gdal_resample``, which resizes geo-rasters). Design rules:

* image payloads are opaque ``binary`` columns with typed metadata
  (w/h/fmt) — one row per image;
* every kernel is an Arrow-batched ``mapInPandas`` with an explicit
  output schema, so the plumbing (partitioning, batch shape, schema)
  is exactly what a real cluster runs;
* decode and re-encode go through raster/codec.py, so the Spark-side
  plumbing is the same for every image format it dispatches.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import codec

# ------------------------------------------------------------------ resize

def resize_array(a: np.ndarray, out_w: int, out_h: int,
                 method: str = "bilinear") -> np.ndarray:
    """Resize a (h,w) or (h,w,c) array. ``nearest`` = pixel-center
    nearest neighbor; ``bilinear`` = edge-clamped pixel-center bilinear
    (the OpenCV/PIL convention: src = (dst+0.5)*scale - 0.5)."""
    h, w = a.shape[:2]
    if method == "nearest":
        ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
        xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
        return a[ys][:, xs]
    if method != "bilinear":
        raise ValueError(f"unknown resize method {method!r}")
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    wy = np.clip(ys - y0, 0.0, 1.0)
    wx = np.clip(xs - x0, 0.0, 1.0)
    y0c = np.clip(y0, 0, h - 1); y1c = np.clip(y0 + 1, 0, h - 1)
    x0c = np.clip(x0, 0, w - 1); x1c = np.clip(x0 + 1, 0, w - 1)
    f = a.astype(np.float64)
    if a.ndim == 3:
        wy = wy[:, None, None]
        wx = wx[None, :, None]
    else:
        wy = wy[:, None]
        wx = wx[None, :]
    top = f[y0c][:, x0c] * (1 - wx) + f[y0c][:, x1c] * wx
    bot = f[y1c][:, x0c] * (1 - wx) + f[y1c][:, x1c] * wx
    out = top * (1 - wy) + bot * wy
    if np.issubdtype(a.dtype, np.integer):
        return np.clip(np.floor(out + 0.5), 0, 255).astype(a.dtype)
    return out.astype(a.dtype)


def resize_images(df: DataFrame, out_w: int, out_h: int, *,
                  method: str = "bilinear", fmt_out: str | None = None) -> DataFrame:
    """Decode → resize → re-encode each image row; w/h/phash refreshed.
    Input schema must carry (bytes, w, h, fmt); all other columns pass
    through. Rows whose payload fails to decode are DROPPED (marked by
    absence, same policy as verify_images_*)."""
    schema = df.schema
    cols = [f.name for f in schema.fields]

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            nb, nw, nh, nf = [], [], [], []
            keep = np.ones(len(pdf), dtype=bool)
            has_ph = "phash" in pdf.columns
            nph = []
            arrs = codec.decode_many(list(pdf["bytes"]), list(pdf["w"]),
                                     list(pdf["h"]), list(pdf["fmt"]))
            for i, (arr, f0) in enumerate(zip(arrs, pdf["fmt"])):
                try:
                    if isinstance(arr, NotImplementedError):
                        raise arr
                    if isinstance(arr, Exception):
                        raise ValueError("decode failed") from arr
                    r = resize_array(arr, out_w, out_h, method)
                    fo = fmt_out or f0
                    nb.append(codec.encode(r, fo))
                    nw.append(out_w); nh.append(out_h); nf.append(fo)
                    if has_ph:
                        nph.append(codec.phash64(
                            r if r.ndim == 2 else r.mean(axis=2)))
                except NotImplementedError:
                    raise
                except Exception:
                    keep[i] = False
                    nb.append(None); nw.append(0); nh.append(0); nf.append(f0)
                    if has_ph:
                        nph.append(0)
            out = pdf.copy()
            out["bytes"] = pd.Series(nb, index=pdf.index, dtype=object)
            out["w"] = nw
            out["h"] = nh
            out["fmt"] = nf
            if has_ph:
                out["phash"] = np.asarray(nph, dtype=np.int64).astype("int64")
            out = out[keep]
            if len(out):
                yield out[cols]

    return df.mapInPandas(_run, schema=schema)


# ------------------------------------------------------------ augmentation

_AUG_OPS = ("hflip", "vflip", "rot90", "rot180", "rot270")


def augment_array(a: np.ndarray, op: str) -> np.ndarray:
    """Apply one augmentation to a (h,w) or (h,w,c) array.  ``rot90``
    is 90° CLOCKWISE (``rot270`` counter-clockwise); ``crop:WxH`` is a
    center crop clamped to the image dims."""
    if op == "hflip":
        return a[:, ::-1].copy()
    if op == "vflip":
        return a[::-1].copy()
    if op == "rot90":
        return np.rot90(a, k=-1, axes=(0, 1)).copy()
    if op == "rot180":
        return np.rot90(a, k=2, axes=(0, 1)).copy()
    if op == "rot270":
        return np.rot90(a, k=1, axes=(0, 1)).copy()
    if op.startswith("crop:"):
        cw, ch = (int(x) for x in op[5:].split("x"))
        h, w = a.shape[:2]
        cw, ch = min(cw, w), min(ch, h)
        x0, y0 = (w - cw) // 2, (h - ch) // 2
        return a[y0:y0 + ch, x0:x0 + cw].copy()
    raise ValueError(f"unknown augmentation {op!r} "
                     f"(use {_AUG_OPS} or 'crop:WxH')")


def augment_images(df: DataFrame, ops: tuple = ("hflip",), *,
                   fmt_out: str | None = None) -> DataFrame:
    """Decode → augment → re-encode: one output row per (input row,
    op), with ``aug_op`` appended and bytes/w/h (and phash, if
    present) refreshed.  Input schema must carry (bytes, w, h, fmt);
    all other columns pass through.  Rows whose payload fails to
    decode are DROPPED (same crawl contract as resize_images /
    verify_images_*).

    Scale plan: the standard train-time flip/rotate/crop augmentations
    materialized as a corpus op (dataset ships pre-augmented rows);
    decode-once per input row, each op re-encodes from the same
    array.  Arrow-batched mapInPandas — fan-out is len(ops)×, attribute
    columns replicate JVM-side only in the output batch."""
    for op in ops:
        if op not in _AUG_OPS and not op.startswith("crop:"):
            raise ValueError(f"unknown augmentation {op!r}")
    schema = df.schema
    cols = [f.name for f in schema.fields]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields]
        + ["aug_op string"])

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            has_ph = "phash" in pdf.columns
            arrs = codec.decode_many(list(pdf["bytes"]), list(pdf["w"]),
                                     list(pdf["h"]), list(pdf["fmt"]))
            out_rows = []
            for i, (arr, f0) in enumerate(zip(arrs, pdf["fmt"])):
                if isinstance(arr, Exception):
                    continue
                base = pdf.iloc[i]
                for op in ops:
                    aug = augment_array(arr, op)
                    fo = fmt_out or f0
                    row = base.copy()
                    row["bytes"] = codec.encode(aug, fo)
                    row["h"], row["w"] = int(aug.shape[0]), int(aug.shape[1])
                    row["fmt"] = fo
                    if has_ph:
                        row["phash"] = np.int64(codec.phash64(
                            aug if aug.ndim == 2 else aug.mean(axis=2)))
                    row["aug_op"] = op
                    out_rows.append(row)
            if out_rows:
                yield pd.DataFrame(out_rows)[cols + ["aug_op"]]

    return df.mapInPandas(_run, schema=out_schema)


def exif_normalize_array(a: np.ndarray, orientation: int) -> np.ndarray:
    """Apply the display transform for an EXIF orientation tag (1-8) —
    the PIL ``exif_transpose`` semantics: the returned array is what a
    viewer shows.  Unknown/missing tags are treated as 1 (identity)."""
    o = int(orientation) if orientation else 1
    if o == 2:
        return a[:, ::-1].copy()
    if o == 3:
        return a[::-1, ::-1].copy()
    if o == 4:
        return a[::-1].copy()
    if o == 5:
        return np.swapaxes(a, 0, 1).copy()
    if o == 6:
        return np.rot90(a, k=-1, axes=(0, 1)).copy()
    if o == 7:
        return np.swapaxes(a[::-1, ::-1], 0, 1).copy()
    if o == 8:
        return np.rot90(a, k=1, axes=(0, 1)).copy()
    return a


def normalize_orientation(df: DataFrame, *,
                          fmt_out: str | None = None) -> DataFrame:
    """Bake EXIF orientation into the pixels — the normalization step a
    crawl pipeline runs before any geometry-sensitive op (phash,
    augmentation, tiling), since ~10% of camera JPEGs carry a non-1
    orientation tag that viewers honor but array ops don't.

    For jpeg rows: parse the APP1 orientation tag (raster/exif.py),
    decode, apply the display transform, re-encode (``fmt_out`` or the
    original format — the re-encode drops APP1, so the output is
    tag-free by construction); w/h (and phash, if present) refresh,
    and an ``exif_orientation`` column records the ORIGINAL tag.
    Non-jpeg or tag-less rows pass through untouched (orientation 1).
    Rows whose payload fails to decode are DROPPED (crawl contract, as
    resize_images / augment_images).  Arrow-batched mapInPandas."""
    from . import exif as _exif

    schema = df.schema
    cols = [f.name for f in schema.fields]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields]
        + ["exif_orientation int"])

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            has_ph = "phash" in pdf.columns
            ors, keep = [], np.ones(len(pdf), dtype=bool)
            nb, nw, nh, nf, nph = [], [], [], [], []
            for i, (buf, w, h, f0) in enumerate(zip(
                    pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])):
                o = 1
                if f0 == "jpeg":
                    try:
                        o = int(_exif.parse_exif(bytes(buf))
                                .get("orientation", 1) or 1)
                    except Exception:
                        o = 1
                if o == 1:
                    ors.append(1)
                    nb.append(buf); nw.append(int(w)); nh.append(int(h))
                    nf.append(f0)
                    nph.append(pdf["phash"].iloc[i] if has_ph else 0)
                    continue
                try:
                    arr = codec.decode(bytes(buf), int(w), int(h), f0)
                    fixed = exif_normalize_array(arr, o)
                    fo = fmt_out or f0
                    nb.append(codec.encode(fixed, fo))
                    nh.append(int(fixed.shape[0]))
                    nw.append(int(fixed.shape[1]))
                    nf.append(fo)
                    nph.append(np.int64(codec.phash64(
                        fixed if fixed.ndim == 2 else fixed.mean(axis=2)))
                        if has_ph else 0)
                    ors.append(o)
                except Exception:
                    keep[i] = False
                    ors.append(o)
                    nb.append(None); nw.append(0); nh.append(0); nf.append(f0)
                    nph.append(0)
            out = pdf.copy()
            out["bytes"] = pd.Series(nb, index=pdf.index, dtype=object)
            out["w"] = np.asarray(nw, dtype=np.int32)
            out["h"] = np.asarray(nh, dtype=np.int32)
            out["fmt"] = nf
            if has_ph:
                out["phash"] = np.asarray(nph, dtype=np.int64)
            out["exif_orientation"] = np.asarray(ors, dtype=np.int32)
            out = out[keep]
            if len(out):
                yield out[cols + ["exif_orientation"]]

    return df.mapInPandas(_run, schema=out_schema)


# ------------------------------------------------------------ image quality

def quality_metrics(a: np.ndarray) -> tuple[float, float, float, float, float]:
    """Scalar quality signals for one decoded image: brightness (mean),
    contrast (population std), blur (population variance of the
    4-neighbor Laplacian over the interior — the classic
    variance-of-Laplacian focus measure; low = blurry/flat), Shannon
    entropy in bits over the 256-bin histogram, and dynamic range
    (max - min). Multichannel input is converted to its channel mean."""
    f = a.astype(np.float64)
    if f.ndim == 3:
        f = f.mean(axis=2)
    brightness = float(f.mean())
    contrast = float(f.std())
    h, w = f.shape
    if h >= 3 and w >= 3:
        lap = (f[:-2, 1:-1] + f[2:, 1:-1] + f[1:-1, :-2] + f[1:-1, 2:]
               - 4.0 * f[1:-1, 1:-1])
        lap_var = float(lap.var())
    else:
        lap_var = 0.0
    hist = np.bincount(np.clip(np.rint(f), 0, 255).astype(np.int64).ravel(),
                       minlength=256)
    q = hist[hist > 0] / f.size
    entropy_bits = float(-(q * np.log2(q)).sum())
    return (brightness, contrast, lap_var, entropy_bits,
            float(f.max() - f.min()))


def image_quality(df: DataFrame) -> DataFrame:
    """Per-image quality signals — the filter columns an image training
    pipeline scores before anything else (drop flat/blurry/synthetic-
    banner images). Input schema must carry (bytes, w, h, fmt); output
    keeps every non-payload column and appends brightness / contrast /
    lap_var / entropy_bits / dyn_range. Rows whose payload fails to
    decode are DROPPED (crawl contract, same policy as resize_images)."""
    keep_cols = [f.name for f in df.schema.fields if f.name != "bytes"]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in df.schema.fields if f.name != "bytes"]
        + ["brightness double", "contrast double", "lap_var double",
           "entropy_bits double", "dyn_range double"])

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            arrs = codec.decode_many(list(pdf["bytes"]), list(pdf["w"]),
                                     list(pdf["h"]), list(pdf["fmt"]))
            keep = np.ones(len(pdf), dtype=bool)
            mets = []
            for i, arr in enumerate(arrs):
                try:
                    if isinstance(arr, NotImplementedError):
                        raise arr
                    if isinstance(arr, Exception):
                        raise ValueError("decode failed") from arr
                    mets.append(quality_metrics(arr))
                except NotImplementedError:
                    raise
                except Exception:
                    keep[i] = False
                    mets.append((0.0,) * 5)
            out = pdf[keep_cols].copy()
            cols = ["brightness", "contrast", "lap_var", "entropy_bits",
                    "dyn_range"]
            for j, c in enumerate(cols):
                out[c] = [m[j] for m in mets]
            out = out[keep]
            if len(out):
                yield out

    return df.mapInPandas(_run, schema=out_schema)
