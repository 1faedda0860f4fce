"""Image-training batch preparation: aspect-ratio bucketing, ViT patch
token accounting, and token-budget image packing.

These are the batching ops an image (or image+caption) training
pipeline runs after filtering/dedup and before the dataloader:

* ``aspect_bucket`` — assign every image to the closest aspect-ratio
  bucket from a fixed bucket list (the SDXL-style bucketing scheme that
  lets a trainer batch same-shaped tensors without distorting crops),
  plus the resize-to-cover/center-crop geometry for that bucket.  Pure
  whole-stage-codegen column arithmetic: the bucket list is unrolled
  into an array of cost expressions and the argmin is
  ``array_position(costs, array_min(costs))`` — no UDF, no shuffle,
  costs exactly one scan at any corpus size.
* ``vit_token_count`` — patch-grid token count ``ceil(w/p)·ceil(h/p) +
  extra`` (CLS/register tokens), the per-image "length" a NaViT-style
  patch-packing trainer bins on.  Pure codegen.
* ``pack_images`` — greedy first-fit packing of whole images into
  fixed token-budget blocks (images cannot straddle blocks).  Greedy filling is a sequential scan, so
  the corpus is bucketed by contiguous id ranges and each bucket packs
  independently in one Arrow task — waste is bounded by one partial
  block per bucket, and ``n_buckets`` bounds the per-task row count
  (size it to ~1e6 rows/bucket at corpus scale).  Only (id, token
  count) enters Python; pixels never move.

Reference parity: gis-tools has no training-batch ops; build-brief
scope (large-scale training-data pipeline).  The bucketing cost uses the exact aspect-ratio distortion
factor ``max(ar, bar)/min(ar, bar)`` (the factor by which a
resize-to-fill stretches the image), expressed over integer products
so Spark and the SQL oracle compute bit-identical doubles.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["aspect_bucket", "vit_token_count", "pack_images",
           "image_filter", "detect_format", "format_check",
           "FORMAT_MAGIC_RULES"]

# (fmt, 1-based byte offset, hex prefix) — ONE rule table generates both
# the Spark Column and the DuckDB SQL mirror, so engine and oracle can't
# drift.  First match wins (webp's RIFF outer box is checked with its
# inner brand, heif before generic ftyp sniffing).
FORMAT_MAGIC_RULES: tuple = (
    ("jpeg", 1, "FFD8FF"),
    ("png", 1, "89504E470D0A1A0A"),
    ("gif", 1, "474946383761"),
    ("gif", 1, "474946383961"),
    ("webp", 9, "57454250"),       # 'WEBP' after the RIFF size box
    ("bmp", 1, "424D"),
    ("heic", 5, "667479706865"),   # 'ftyphe…' (heic/heix/hevc brands)
    ("avif", 5, "6674797061766966"),  # 'ftypavif'
    ("flac", 1, "664C6143"),       # 'fLaC'
    ("mp4", 5, "66747970"),        # generic ISO-BMFF
)


def _magic_case(bytes_col: Column) -> Column:
    """First-match CASE over FORMAT_MAGIC_RULES — pure codegen (hex of
    a binary substring compared to a literal)."""
    expr = None
    for fmt, off, hexpfx in FORMAT_MAGIC_RULES:
        nbytes = len(hexpfx) // 2
        cond = (F.hex(F.substring(bytes_col, off, nbytes))
                == F.lit(hexpfx))
        expr = F.when(cond, F.lit(fmt)) if expr is None \
            else expr.when(cond, F.lit(fmt))
    return expr


def magic_case_sql(bytes_expr: str) -> str:
    """The DuckDB mirror of _magic_case, generated from the SAME rule
    table (DuckDB has no BLOB substring — hex first, slice chars)."""
    whens = "".join(
        f" WHEN substr(hex({bytes_expr}), {(off - 1) * 2 + 1},"
        f" {len(hexpfx)}) = '{hexpfx}' THEN '{fmt}'"
        for fmt, off, hexpfx in FORMAT_MAGIC_RULES)
    return f"(CASE{whens} END)"


def detect_format(bytes_col="bytes") -> Column:
    """Container format sniffed from magic bytes (jpeg/png/gif/webp/
    bmp/heic/avif/flac/mp4), NULL when no rule matches (raw payloads
    have no magic).  Pure whole-stage codegen — no UDF, no decode."""
    col = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    return _magic_case(col)


def format_check(df: DataFrame, *, bytes_col: str = "bytes",
                 fmt_col: str = "fmt") -> DataFrame:
    """Trust-but-verify the declared format column against the payload
    magic — crawl tables routinely carry mislabeled rows (server
    Content-Type lies, extension renames) that poison a decode stage.
    Appends ``fmt_detected`` (NULL for magic-less formats like raw)
    and ``fmt_mismatch`` (true only when BOTH sides are known and
    disagree — unsniffables are not accused).  Scan-only codegen; run
    it before decode so mislabeled rows route or drop cheaply."""
    det = detect_format(F.col(bytes_col))
    return (df.withColumn("fmt_detected", det)
            .withColumn(
                "fmt_mismatch",
                det.isNotNull() & (det != F.col(fmt_col))))


def image_filter(df: DataFrame, *, min_side: int = 64,
                 max_aspect: float = 3.0, min_bytes: int = 32,
                 min_caption_chars: int = 5,
                 w_col: str = "w", h_col: str = "h",
                 bytes_col: str = "bytes",
                 caption_col: str = "caption") -> DataFrame:
    """DataComp-style basic image+caption filtering: classify every row
    with a FIRST-MATCH reject reason, in rule order

    1. ``too_small``      — min(w, h) < min_side
    2. ``extreme_aspect`` — max(w, h) / min(w, h) > max_aspect
    3. ``too_few_bytes``  — octet_length(bytes) < min_bytes
       (truncated/placeholder payloads)
    4. ``short_caption``  — trimmed caption shorter than
       min_caption_chars (NULL captions reject here too)

    Appends ``keep`` (boolean) and ``reject_reason`` (NULL when kept).
    This is ONE whole-stage-codegen
    projection over metadata columns — the pixel payload is never
    decoded, so at 100 TB the filter costs exactly the scan (and
    column pruning drops ``bytes`` entirely when the caller selects
    metadata first)."""
    w = F.col(w_col).cast("double")
    h = F.col(h_col).cast("double")
    reason = (
        F.when(F.least(w, h) < float(min_side), F.lit("too_small"))
        .when(F.greatest(w, h) / F.least(w, h) > float(max_aspect),
              F.lit("extreme_aspect"))
        .when(F.octet_length(F.col(bytes_col)) < int(min_bytes),
              F.lit("too_few_bytes"))
        .when(F.length(F.trim(F.coalesce(F.col(caption_col), F.lit(""))))
              < int(min_caption_chars), F.lit("short_caption")))
    return (df.withColumn("reject_reason", reason)
            .withColumn("keep", F.col("reject_reason").isNull()))


def aspect_bucket(df: DataFrame, buckets: Sequence[tuple[int, int]], *,
                  w_col: str = "w", h_col: str = "h") -> DataFrame:
    """Assign each row to the aspect-ratio bucket minimizing the
    distortion factor ``max(w·bh, h·bw) / min(w·bh, h·bw)`` (>= 1,
    == 1 iff the aspect matches exactly); ties break to the FIRST
    bucket in the list.  Requires positive ``w``/``h``.

    Appends ``bucket_idx`` (0-based), ``bucket_w``/``bucket_h``, and
    the resize-to-cover + center-crop geometry a dataloader applies:
    ``resize_w``/``resize_h`` (scale = max(bw/w, bh/h), HALF_UP
    rounding, floored at the bucket dims) and ``crop_x``/``crop_y``
    (top-left of the centered bucket-sized crop).

    Plan: one codegen projection — the bucket list unrolls to literal
    array expressions, argmin via array_position(array_min); zero
    shuffle, zero Python at any scale."""
    if not buckets:
        raise ValueError("buckets must be non-empty")
    wd = F.col(w_col).cast("double")
    hd = F.col(h_col).cast("double")
    costs = []
    for bw, bh in buckets:
        p = wd * float(int(bh))
        q = hd * float(int(bw))
        costs.append(F.greatest(p, q) / F.least(p, q))
    arr = F.array(*costs)
    pos = F.array_position(arr, F.array_min(arr))  # 1-based first min
    bw_arr = F.array(*[F.lit(int(b[0])) for b in buckets])
    bh_arr = F.array(*[F.lit(int(b[1])) for b in buckets])
    bw = F.element_at(bw_arr, pos.cast("int")).cast("int")
    bh = F.element_at(bh_arr, pos.cast("int")).cast("int")
    scale = F.greatest(bw.cast("double") / wd, bh.cast("double") / hd)
    rw = F.greatest(F.floor(wd * scale + F.lit(0.5)).cast("int"), bw)
    rh = F.greatest(F.floor(hd * scale + F.lit(0.5)).cast("int"), bh)
    return (df
            .withColumn("bucket_idx", (pos - 1).cast("int"))
            .withColumn("bucket_w", bw)
            .withColumn("bucket_h", bh)
            .withColumn("resize_w", rw)
            .withColumn("resize_h", rh)
            .withColumn("crop_x", F.floor((rw - bw) / 2).cast("int"))
            .withColumn("crop_y", F.floor((rh - bh) / 2).cast("int")))


def vit_token_count(w_col="w", h_col="h", *, patch: int = 16,
                    extra: int = 1) -> Column:
    """Patch-grid token count: ``ceil(w/patch) * ceil(h/patch) +
    extra`` (CLS/register tokens).  Pure codegen."""
    w = F.col(w_col) if isinstance(w_col, str) else w_col
    h = F.col(h_col) if isinstance(h_col, str) else h_col
    p = int(patch)
    return (F.ceil(w.cast("double") / p) * F.ceil(h.cast("double") / p)
            + F.lit(int(extra))).cast("long")


def pack_images(df: DataFrame, token_budget: int, *,
                patch: int = 16, extra: int = 1,
                w_col: str = "w", h_col: str = "h",
                id_col: str = "doc_id", n_buckets: int = 64) -> DataFrame:
    """Pack whole images into fixed ``token_budget`` blocks, greedy
    first-fit in ascending ``id_col`` order within contiguous id-range
    buckets (blocks never cross buckets: waste <= one partial block
    per bucket).  ``id_col`` must be numeric.

    Returns one row per image: ``(id_col, n_tokens, bucket, block,
    block_pos, oversize)`` — ``block`` restarts at 0 per bucket,
    ``block_pos`` is the image's index within its block, and a row
    with ``n_tokens > token_budget`` sits alone in its own block with
    ``oversize = true`` (the caller decides whether to resize or drop
    such rows first).

    Scale plan: tokens are computed in codegen; only (id, n_tokens)
    crosses Arrow into the per-bucket greedy scan (one applyInPandas
    task per bucket); pixel bytes never move."""
    B = int(token_budget)
    if B <= 0:
        raise ValueError("token_budget must be positive")
    t = df.select(
        F.col(id_col).cast("long").alias(id_col),
        vit_token_count(w_col, h_col, patch=patch,
                        extra=extra).alias("n_tokens"))
    lo, hi = t.agg(F.min(id_col), F.max(id_col)).first()
    out_schema = (f"{id_col} long, n_tokens long, bucket long, "
                  f"block long, block_pos long, oversize boolean")
    if lo is None:
        return t.sparkSession.createDataFrame([], out_schema)
    width = max(1, (int(hi) - int(lo)) // max(1, int(n_buckets)) + 1)
    t = t.withColumn("bucket",
                     ((F.col(id_col) - int(lo)) / width).cast("long"))

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        blocks, poss = [], []
        fill, blk, pos = 0, -1, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if blk < 0 or fill + n > B:
                blk += 1
                fill, pos = n, 0
            else:
                fill += n
                pos += 1
            blocks.append(blk)
            poss.append(pos)
        pdf["block"] = pd.Series(blocks, dtype="int64")
        pdf["block_pos"] = pd.Series(poss, dtype="int64")
        pdf["oversize"] = pdf["n_tokens"] > B
        return pdf[[id_col, "n_tokens", "bucket", "block", "block_pos",
                    "oversize"]]

    return t.groupBy("bucket").applyInPandas(_greedy, schema=out_schema)
