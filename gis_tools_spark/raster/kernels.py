"""Per-image raster kernels as Arrow-batched UDFs (SURVEY.md §2.10).

The reference operates on one global in-RAM array with GDAL round-trips
(/root/reference/gistools/raster.py:65-78 gdal_decorator, 576-662
arithmetic); here every kernel is decode → numpy → encode inside one
mapInPandas/pandas_udf stage over image rows — no temp files, streaming
through Arrow batches, embarrassingly parallel across tiles.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from . import codec

# formats where decode(encode(x)) != x — the only ones the north-rule
# PSNR>=40 re-encode check applies to (heic/avif route through system
# libheif; their RGB→limited-range-YCbCr conversion makes even the
# "lossless" encoder mode inexact, so they are always on this path)
LOSSY_FMTS = ("jpeg", "jpg", "dct", "heic", "avif")


def decode_phash_udf():
    """(bytes, w, h, fmt) → phash64 of decoded pixels."""

    @F.pandas_udf(T.LongType())
    def _udf(b: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series) -> pd.Series:
        arrs = codec.decode_many(list(b), list(w), list(h), list(fmt))
        out = []
        for arr in arrs:
            if isinstance(arr, Exception):
                raise arr
            out.append(codec.phash64(arr))
        return pd.Series(out, dtype=np.int64)

    return _udf


def verify_images_udf(min_psnr: float = 40.0):
    """(bytes, w, h, fmt, phash, caption, image_id) → bool: the BASELINE
    per-row invariant — decoded pixels phash-match, lossless roundtrip
    (or PSNR ≥ min_psnr for lossy fmts), caption matches its image_id."""

    @F.pandas_udf(T.BooleanType())
    def _udf(b: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series,
             phash: pd.Series, caption: pd.Series, image_id: pd.Series) -> pd.Series:
        arrs = codec.decode_many(list(b), list(w), list(h), list(fmt))
        out = []
        for arr, ff, ph, cap, iid in zip(arrs, fmt, phash, caption, image_id):
            try:
                if isinstance(arr, Exception):
                    # decode failure of ANY kind (unsupported fmt, corrupt
                    # zlib, bad header) marks the row, never kills the task
                    out.append(False)
                    continue
                ok = codec.phash64(arr) == ph
                if ff in LOSSY_FMTS:
                    # north-rule PSNR>=40 applies to LOSSY re-encodes;
                    # for lossless formats the phash-of-decode equality
                    # above already proves bit-exactness, and re-encoding
                    # them (webp VP8L emit ~24 ms/row) was 70% of the
                    # verify CPU for 5% of the rows
                    rt = codec.decode(codec.encode(arr, ff), int(arr.shape[1]),
                                      int(arr.shape[0]), ff)
                    ok &= codec.psnr(arr, rt) >= min_psnr
                ok &= cap.startswith("caption for img") and iid.lstrip("img").lstrip("0") in cap
            except Exception:
                ok = False
            out.append(bool(ok))
        return pd.Series(out)

    return _udf


def _verify_batch(batch, min_psnr: float, passthrough: list[str]):
    """Shared zero-copy verify kernel over one Arrow RecordBatch: bytes
    sliced as memoryviews straight from the Arrow buffers."""
    import pyarrow as pa

    names = batch.schema.names
    col = batch.column(names.index("bytes"))
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    buffers = col.buffers()
    width = 8 if pa.types.is_large_binary(col.type) else 4
    odt = np.int64 if width == 8 else np.int32
    offs = np.frombuffer(buffers[1], dtype=odt, count=len(col) + 1,
                         offset=col.offset * width)
    data = memoryview(buffers[2])
    ws = batch.column(names.index("w")).to_numpy()
    hs = batch.column(names.index("h")).to_numpy()
    fmts = batch.column(names.index("fmt")).to_pylist()
    phs = batch.column(names.index("phash")).to_numpy()
    caps = batch.column(names.index("caption")).to_pylist()
    iids = batch.column(names.index("image_id")).to_pylist()
    ok = np.zeros(len(col), dtype=bool)
    # pass 1: decode the whole batch at once — baseline JPEG rows go
    # through the vectorized lockstep decoder (codec.decode_many); a row's decode
    # failure of ANY kind becomes its Exception value, never a task kill
    bufs = [data[offs[i]:offs[i + 1]] for i in range(len(col))]
    arrs = codec.decode_many(bufs, ws, hs, fmts)
    # pass 2: lossy rows re-encode; their roundtrip decodes batch again
    re_bufs, re_idx = [], []
    for i, arr in enumerate(arrs):
        if not isinstance(arr, Exception) and fmts[i] in LOSSY_FMTS:
            # lossy only: see verify_images_udf — lossless formats are
            # already proven bit-exact by the phash equality below
            try:
                re_bufs.append(codec.encode(arr, fmts[i]))
                re_idx.append(i)
            except Exception as e:  # noqa: BLE001 — per-row error value
                arrs[i] = e
    rts = codec.decode_many(re_bufs, [ws[i] for i in re_idx],
                            [hs[i] for i in re_idx],
                            [fmts[i] for i in re_idx])
    rt_of = dict(zip(re_idx, rts))
    for i in range(len(col)):
        arr = arrs[i]
        if isinstance(arr, Exception):
            continue
        try:
            good = codec.phash64(arr) == phs[i]
            rt = rt_of.get(i)
            if rt is not None:
                if isinstance(rt, Exception):
                    good = False
                else:
                    good &= codec.psnr(arr, rt) >= min_psnr
            good &= caps[i].startswith("caption for img")
        except Exception:  # noqa: BLE001
            good = False
        ok[i] = good
    arrays = [pa.array(iids), pa.array(ok)]
    names_out = ["image_id", "ok"]
    for c in passthrough:
        arrays.append(batch.column(names.index(c)))
        names_out.append(c)
    return pa.RecordBatch.from_arrays(arrays, names=names_out)


def verify_images_arrow(df: DataFrame, min_psnr: float = 40.0,
                        passthrough: list[str] | None = None) -> DataFrame:
    """Zero-copy variant of the verify kernel via mapInArrow: the bytes
    column is sliced as memoryviews straight out of the Arrow buffers —
    no per-row PyBytes materialization (measurably less allocator
    pressure at high worker counts). Returns (image_id, ok,
    *passthrough) — passthrough columns ride along Arrow-native so no
    join-back shuffle is needed downstream."""
    passthrough = passthrough or []
    cols = ["image_id", "bytes", "w", "h", "fmt", "phash", "caption"] + passthrough

    def _run(batches):
        for batch in batches:
            yield _verify_batch(batch, min_psnr, passthrough)

    out_schema = "image_id string, ok boolean"
    for c in passthrough:
        out_schema += f", {c} {df.schema[c].dataType.simpleString()}"
    return df.select(*cols).mapInArrow(_run, schema=out_schema)


def verify_images_files(spark, parquet_path: str, *, min_psnr: float = 40.0,
                        passthrough: list[str] | None = None,
                        batch_rows: int = 2048,
                        n_tasks: int | None = None) -> DataFrame:
    """FUSED python-native scan + verify: the python workers read the
    parquet row-groups DIRECTLY with pyarrow; the JVM plan carries only
    (file, row_group) task descriptors and the small verify output.

    Rationale (measured, PERF.md round 2): when Python is both the
    reader and the consumer of a heavy binary column, shipping the blobs
    JVM→Python through Arrow serialization is the scaling ceiling — the
    per-executor feed saturates and caps N→4N efficiency at ~0.53. With
    direct reads the heavy bytes never touch the JVM, so the stage
    scales like raw multiprocessing (the measured hardware roofline).
    The same pattern holds on a real cluster: workers read their
    row-groups straight from object storage (pyarrow/fsspec), which is
    standard practice for binary-heavy ML ingest pipelines.

    Returns the same schema as verify_images_arrow. Parallelism unit is
    the parquet row-group (the same unit Spark's own scan uses)."""
    import glob

    import pyarrow.parquet as pq

    passthrough = passthrough or []
    cols = ["image_id", "bytes", "w", "h", "fmt", "phash", "caption"] + passthrough

    import json as _json

    files = sorted(glob.glob(f"{parquet_path}/*.parquet"))
    if not files:
        files = [parquet_path]
    groups = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            groups.append((f, rg, meta.row_group(rg).num_rows))
    # Bin-pack row-groups into ~4 tasks per core (LPT: largest first into
    # the lightest bin). Two measured reasons (PERF.md round 3):
    # (1) every python task carries ~30 ms of serial launch tax in this
    #     pyspark build regardless of worker reuse — one task per tiny
    #     row-group turns that into seconds of driver-serial wall;
    # (2) uneven row-groups (276..31k rows observed) leave a straggler
    #     tail at high core counts. Bins are near-uniform by construction.
    # Bins are then ordered largest-first: Spark launches tasks in
    # partition-index order as cores free, i.e. LPT scheduling.
    sc = spark.sparkContext
    if n_tasks is None:
        n_tasks = max(1, min(len(groups), 4 * sc.defaultParallelism))
    bins: list[list] = [[] for _ in range(n_tasks)]
    loads = [0] * n_tasks
    for f, rg, nr in sorted(groups, key=lambda t: -t[2]):
        i = min(range(n_tasks), key=loads.__getitem__)
        bins[i].append((f, rg))
        loads[i] += nr
    order = sorted((i for i in range(n_tasks) if bins[i]),
                   key=lambda i: -loads[i])
    payload = [(_json.dumps(bins[i]),) for i in order]
    tdf = spark.createDataFrame(
        sc.parallelize(payload, max(1, len(payload))), "bin string")

    # pin the output schema from one row-group's arrow schema
    sample = pq.ParquetFile(files[0]).schema_arrow
    out_schema = "image_id string, ok boolean"
    for c in passthrough:
        import pyarrow as pa
        t = sample.field(c).type
        m = {pa.float64(): "double", pa.int64(): "bigint", pa.int32(): "int",
             pa.string(): "string", pa.large_string(): "string"}
        out_schema += f", {c} {m.get(t, 'double')}"

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json  # noqa: F811
        import pyarrow.parquet as pq  # noqa: F811
        for pdf in it:
            for bin_json in pdf["bin"]:
                for f, rg in _json.loads(bin_json):
                    tbl = pq.ParquetFile(f).read_row_group(int(rg), columns=cols)
                    for batch in tbl.to_batches(max_chunksize=batch_rows):
                        out = _verify_batch(batch, min_psnr, passthrough)
                        yield out.to_pandas()

    return tdf.mapInPandas(_run, schema=out_schema)


def map_pixels(df: DataFrame, fn: Callable[[np.ndarray], np.ndarray], *,
               bytes_col: str = "bytes", out_fmt: str | None = None) -> DataFrame:
    """Elementwise raster op (reference raster.py:576-662 arithmetic /
    compare): decode → fn(array) → re-encode, schema preserved.
    NaN no-data convention preserved inside fn."""
    schema = df.schema

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            bufs = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r[bytes_col], int(r["w"]), int(r["h"]), r["fmt"])
                res = fn(arr)
                bufs.append(codec.encode(res, out_fmt or r["fmt"]))
            out = pdf.copy()
            out[bytes_col] = pd.Series(bufs, index=pdf.index, dtype=object)
            if out_fmt is not None:
                # bytes are now out_fmt regardless of the source format
                # (e.g. slope over SRTM raw_i16be tiles emits raw_f32)
                out["fmt"] = out_fmt
            yield out

    return df.mapInPandas(_run, schema=schema)


def contour_bins(df: DataFrame, interval: float, *, pmin: float = 2.0,
                 pmax: float = 98.0, no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """Percentile-clamped binning → per-bin mean fill (reference contour,
    raster.py:223-248). Two-pass: global percentiles via approx quantiles
    on sampled pixel values, then a binning map kernel."""
    # pass 1: sample pixel values for percentile estimation
    sample_schema = T.StructType([T.StructField("v", T.DoubleType())])

    def _sample(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vals = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"]).astype(np.float64)
                good = arr[arr != no_data]
                if good.size:
                    rng = np.random.default_rng(hash(r["image_id"]) % (2 ** 32))
                    take = min(good.size, 4096)
                    vals.append(rng.choice(good, take, replace=False))
            if vals:
                yield pd.DataFrame({"v": np.concatenate(vals)})

    sampled = df.mapInPandas(_sample, schema=sample_schema)
    lo, hi = sampled.approxQuantile("v", [pmin / 100.0, pmax / 100.0], 0.001)

    def _bin(arr: np.ndarray) -> np.ndarray:
        a = arr.astype(np.float64)
        mask = a != no_data
        clipped = np.clip(a, lo, hi)
        binned = np.floor((clipped - lo) / interval) * interval + lo + interval / 2
        out = np.where(mask, binned, no_data)
        return out.astype(np.float32)

    return map_pixels(df, _bin)


def resample_block(df: DataFrame, factor: int, *, method: str = "mean") -> DataFrame:
    """Block resample by integer factor (reference gdal_resample
    raster.py:301-310 'mode'; disaggregate 253-278 for upsample).
    method ∈ {mean, mode, nearest}; factor>0 downsamples by block,
    factor<0 upsamples by repetition (nearest)."""
    schema = df.schema

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            bufs, ws, hs = [], [], []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"])
                if factor > 0:
                    h2, w2 = arr.shape[0] // factor, arr.shape[1] // factor
                    a = arr[: h2 * factor, : w2 * factor]
                    blocks = a.reshape(h2, factor, w2, factor, *a.shape[2:])
                    if method == "mean":
                        res = blocks.mean(axis=(1, 3))
                    elif method == "nearest":
                        res = a[::factor, ::factor]
                    else:  # mode
                        res = _block_mode(blocks)
                    res = res.astype(arr.dtype)
                else:
                    k = -factor
                    res = np.repeat(np.repeat(arr, k, axis=0), k, axis=1)
                bufs.append(codec.encode(res, r["fmt"]))
                hs.append(res.shape[0]); ws.append(res.shape[1])
            out = pdf.copy()
            out["bytes"] = pd.Series(bufs, index=pdf.index, dtype=object)
            out["w"] = np.asarray(ws, dtype=np.int32)
            out["h"] = np.asarray(hs, dtype=np.int32)
            yield out

    return df.mapInPandas(_run, schema=schema)


def _block_mode(blocks: np.ndarray) -> np.ndarray:
    h2, f1, w2, f2 = blocks.shape[:4]
    flat = blocks.reshape(h2, f1, w2, f2).transpose(0, 2, 1, 3).reshape(h2, w2, f1 * f2)
    out = np.empty((h2, w2), dtype=blocks.dtype)
    for i in range(h2):
        for j in range(w2):
            v, c = np.unique(flat[i, j], return_counts=True)
            out[i, j] = v[np.argmax(c)]
    return out


def horn_output(dzdx: np.ndarray, dzdy: np.ndarray, mode: str,
                azimuth: float = 315.0, altitude: float = 45.0
                ) -> np.ndarray:
    """Shared Horn-derivative → output map: 'slope' (degrees), 'aspect'
    (degrees, atan2(dzdy, -dzdx)), or 'hillshade' — Lambertian shaded
    relief ``255·max(0, sin(alt)·cos(s) + cos(alt)·sin(s)·cos(az −
    aspect))`` with the sun at (azimuth°, altitude°), pixel-unit slopes
    like the slope mode (no z-factor/cellsize scaling)."""
    if mode == "slope":
        return np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
    if mode == "aspect":
        return np.degrees(np.arctan2(dzdy, -dzdx))
    if mode == "hillshade":
        az, alt = np.radians(azimuth), np.radians(altitude)
        s = np.arctan(np.hypot(dzdx, dzdy))
        asp = np.arctan2(dzdy, -dzdx)
        hs = (np.sin(alt) * np.cos(s)
              + np.cos(alt) * np.sin(s) * np.cos(az - asp))
        return 255.0 * np.maximum(hs, 0.0)
    raise ValueError(f"unknown mode {mode!r}")


def _label_regions(a: np.ndarray):
    """4-connected same-value region labeling (two-pass union-find)."""
    h, w = a.shape
    labels = -np.ones((h, w), dtype=np.int64)
    parent = []

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nxt = 0
    for y in range(h):
        for x in range(w):
            up = labels[y - 1, x] if y > 0 and a[y - 1, x] == a[y, x] else -1
            left = labels[y, x - 1] if x > 0 and a[y, x - 1] == a[y, x] else -1
            if up < 0 and left < 0:
                labels[y, x] = nxt
                parent.append(nxt)
                nxt += 1
            elif up >= 0 and left >= 0:
                ru, rl = find(up), find(left)
                labels[y, x] = rl
                if ru != rl:
                    parent[ru] = rl
            else:
                labels[y, x] = max(up, left)
    flat = np.array([find(i) for i in range(nxt)]) if nxt else np.empty(0, dtype=int)
    labels = flat[labels] if nxt else labels
    sizes = np.bincount(labels.ravel(), minlength=nxt)
    vals = np.empty(nxt, dtype=a.dtype)
    ys, xs = np.nonzero(labels >= 0)
    vals[labels[ys, xs]] = a[ys, xs]
    return labels, sizes, vals
