"""WebDataset shard ingestion — .tar files of (key.jpg, key.txt,
key.json, ...) samples, the de-facto container for image+caption
training corpora (the north star's exact input shape).

A shard is a POSIX tar whose member names share a basename stem per
sample (``00042.jpg`` + ``00042.txt`` + ``00042.json``); readers
stream samples in file order.  Here each DataFrame row holds one shard
blob; ``wds_samples`` parses it with the stdlib ``tarfile`` (public
CPython) over an in-memory buffer, groups members by stem, and emits
one row per sample with the conventional columns pulled out (image
bytes + detected format via magic sniff, caption text, metadata JSON)
plus the full extension map for anything else.  ``write_wds`` emits
conformant shards for fixtures and as the interchange sink.

Corrupt shards mark a row (ok=false), never a task kill; at 100 TB
each shard parses independently on the document table's existing
partitioning — the same zero-shuffle ingest contract as every other
format source here.  Composition: wds_samples -> image_exif /
decode+phash / caption dedup is the crawl-side of the north-star
pipeline (geotagged image + caption -> spatial join)."""

from __future__ import annotations

import io
import json
import posixpath
import tarfile
from typing import Iterator

_IMG_EXT = {"jpg", "jpeg", "png", "webp", "gif", "ppm", "bmp",
            "heic", "heif", "avif"}
_MAGIC = ((b"\xff\xd8\xff", "jpeg"), (b"\x89PNG\r\n\x1a\n", "png"),
          (b"RIFF", "webp"), (b"GIF8", "gif"), (b"BM", "bmp"))


def sniff_image_format(buf: bytes) -> str | None:
    for magic, fmt in _MAGIC:
        if buf[:len(magic)] == magic:
            return fmt
    if len(buf) >= 12 and buf[4:8] == b"ftyp":
        # ISO-BMFF still image (HEIC/AVIF) — brand check, no decode
        from ..raster import native_heif

        return native_heif.probe(buf)
    return None


def iter_samples(blob: bytes) -> Iterator[tuple[str, dict[str, bytes]]]:
    """(sample_key, {ext: member bytes}) per sample, file order."""
    tf = tarfile.open(fileobj=io.BytesIO(bytes(blob)), mode="r:*")
    cur_key: str | None = None
    cur: dict[str, bytes] = {}
    for m in tf:
        if not m.isfile():
            continue
        base = posixpath.basename(m.name)
        stem, dot, ext = base.partition(".")
        if not dot:
            stem, ext = base, ""
        f = tf.extractfile(m)
        if f is None:
            continue
        data = f.read()
        if cur_key is not None and stem != cur_key:
            yield cur_key, cur
            cur = {}
        cur_key = stem
        cur[ext.lower()] = data
    if cur_key is not None:
        yield cur_key, cur


def write_wds(samples: list[dict], *, gzip_shard: bool = False) -> bytes:
    """samples: [{key, image(bytes), image_ext='jpg', caption(str),
    meta(dict), **extra_ext: bytes}] -> tar shard bytes."""
    buf = io.BytesIO()
    mode = "w:gz" if gzip_shard else "w"
    with tarfile.open(fileobj=buf, mode=mode, format=tarfile.USTAR_FORMAT) as tf:
        def add(name, data):
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))

        for s in samples:
            key = s["key"]
            if "image" in s:
                add(f"{key}.{s.get('image_ext', 'jpg')}", bytes(s["image"]))
            if "caption" in s:
                add(f"{key}.txt", s["caption"].encode("utf-8"))
            if "meta" in s:
                add(f"{key}.json",
                    json.dumps(s["meta"], sort_keys=True).encode("utf-8"))
            for k, v in s.items():
                if k not in ("key", "image", "image_ext", "caption", "meta"):
                    add(f"{key}.{k}", bytes(v))
    return buf.getvalue()


def wds_export(df, out_dir: str, *, samples_per_shard: int = 1000,
               id_col: str = "image_id", image_col: str = "bytes",
               fmt_col: str = "fmt", caption_col: str | None = "caption",
               meta_col: str | None = None, n_buckets: int = 64,
               gzip_shard: bool = False):
    """Distributed WebDataset SINK: one deterministic .tar shard per
    ``samples_per_shard`` rows in ascending ``id_col`` order — the
    export step that hands a filtered/deduped image+caption corpus to
    a dataloader.  Returns the shard manifest as a DataFrame
    ``(shard_id, path, n_samples, n_bytes)``.

    Shard assignment is a pure function of the data: global rank =
    bucket offset + within-bucket row_number (a bucketed prefix-sum —
    per-bucket COUNTS to the driver, broadcast back; the
    single-partition global window never appears),
    shard = rank // samples_per_shard.  Tar bytes are deterministic
    (mtime=0, USTAR, rank order within shard), so re-running an export
    over the same table yields byte-identical shards — resumable and
    diffable.  Each shard writes tmp-then-rename so a killed task
    never leaves a half shard visible.  ``id_col`` must be numeric.

    Scale plan: one count-only aggregate, one window over id-range
    buckets, one shuffle keyed on shard_id; each shard materializes in
    exactly one task.  Size shards (the WebDataset convention is
    ~100 MB-1 GB) so a shard fits a task comfortably."""
    import os

    import pandas as pd
    from pyspark.sql import Window, functions as F

    sps = int(samples_per_shard)
    if sps <= 0:
        raise ValueError("samples_per_shard must be positive")
    os.makedirs(out_dir, exist_ok=True)
    cols = [id_col, image_col, fmt_col]
    if caption_col:
        cols.append(caption_col)
    if meta_col:
        cols.append(meta_col)
    t = df.select(*cols).withColumn("__id", F.col(id_col).cast("long"))
    lo, hi = t.agg(F.min("__id"), F.max("__id")).first()
    manifest_schema = ("shard_id long, path string, n_samples long, "
                       "n_bytes long")
    if lo is None:
        return df.sparkSession.createDataFrame([], manifest_schema)
    width = max(1, (int(hi) - int(lo)) // max(1, int(n_buckets)) + 1)
    t = t.withColumn("__b", ((F.col("__id") - int(lo)) / width)
                     .cast("long"))
    sums = {r["__b"]: r["c"] for r in
            t.groupBy("__b").agg(F.count("*").alias("c")).collect()}
    acc, offs = 0, []
    for b in sorted(sums):
        offs.append((b, acc))
        acc += int(sums[b])
    bdf = df.sparkSession.createDataFrame(offs, "__b long, __boff long")
    w = Window.partitionBy("__b").orderBy("__id")
    t = (t.join(F.broadcast(bdf), on="__b")
         .withColumn("__rank", F.col("__boff")
                     + F.row_number().over(w) - 1)
         .withColumn("__shard", (F.col("__rank") / sps).cast("long")))

    def _write(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(key[0])
        pdf = pdf.sort_values("__rank")
        caps = pdf[caption_col] if caption_col else None
        metas = pdf[meta_col] if meta_col else None
        samples = []
        for i in range(len(pdf)):
            s = {"key": f"{int(pdf['__id'].iloc[i]):012d}",
                 "image": bytes(pdf[image_col].iloc[i]),
                 "image_ext": str(pdf[fmt_col].iloc[i])}
            if caps is not None and caps.iloc[i] is not None:
                s["caption"] = str(caps.iloc[i])
            if metas is not None and metas.iloc[i] is not None:
                mv = metas.iloc[i]
                s["meta"] = json.loads(mv) if isinstance(mv, str) \
                    else dict(mv)
            samples.append(s)
        blob = write_wds(samples, gzip_shard=gzip_shard)
        ext = "tar.gz" if gzip_shard else "tar"
        path = os.path.join(out_dir, f"shard-{sid:06d}.{ext}")
        tmp = path + f".tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame([(sid, path, len(samples), len(blob))],
                            columns=["shard_id", "path", "n_samples",
                                     "n_bytes"])

    return (t.groupBy("__shard")
            .applyInPandas(_write, schema=manifest_schema))


WDS_SCHEMA = ("shard_id long, sample_key string, image binary, "
              "image_fmt string, caption string, meta string, "
              "n_members int, ok boolean")


def wds_samples(df, *, blob_col: str = "bytes", id_col: str = "shard_id"):
    """Shard blobs -> one row per (image, caption, meta) sample."""
    import pandas as pd

    def _run(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for sid, blob in zip(pdf[id_col], pdf[blob_col]):
                sid = int(sid)
                try:
                    for key, members in iter_samples(bytes(blob)):
                        img = None
                        fmt = None
                        for ext in _IMG_EXT:
                            if ext in members:
                                img = members[ext]
                                fmt = sniff_image_format(img) or ext
                                break
                        cap = members.get("txt")
                        meta = members.get("json")
                        rows.append((
                            sid, key, img, fmt,
                            cap.decode("utf-8", "replace")
                            if cap is not None else None,
                            meta.decode("utf-8", "replace")
                            if meta is not None else None,
                            len(members), True))
                except (tarfile.TarError, OSError, ValueError):
                    rows.append((sid, None, None, None, None, None, 0,
                                 False))
            yield pd.DataFrame(rows, columns=[
                "shard_id", "sample_key", "image", "image_fmt", "caption",
                "meta", "n_members", "ok"])

    return df.select(id_col, blob_col).mapInPandas(_run, schema=WDS_SCHEMA)
