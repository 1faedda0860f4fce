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
plus the full extension map for anything else.  ``write_wds`` is the
fixture writer: it emits conformant shards for tests and fixtures.

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
