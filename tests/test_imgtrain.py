"""Image-training batch-prep oracles: aspect-ratio bucketing vs a
brute-force numpy argmin, ViT token closed form, greedy pack replay,
and augmentation pixel exactness."""

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from gis_tools_spark.operators.imgtrain import (
    aspect_bucket,
    pack_images,
    vit_token_count,
)
from gis_tools_spark.raster import codec
from gis_tools_spark.raster.media import augment_array, augment_images

SF = "/root/testdata/sf0.001"

BUCKETS = [(512, 512), (576, 448), (448, 576), (640, 384), (384, 640),
           (768, 320), (320, 768), (896, 256), (256, 896)]


@pytest.fixture(scope="module")
def dims(spark):
    # deterministic (w, h) grid off doc_id — same derivation the gate
    return (spark.read.parquet(f"{SF}/documents.parquet")
            .selectExpr("doc_id",
                        "cast(64 + (doc_id * 7) % 961 as int) as w",
                        "cast(64 + (doc_id * 13) % 961 as int) as h"))


def _brute_bucket(w, h):
    costs = [max(w * bh, h * bw) / min(w * bh, h * bw)
             for bw, bh in BUCKETS]
    return int(np.argmin(costs))  # first min, like array_position


def test_aspect_bucket_matches_bruteforce(dims):
    rows = aspect_bucket(dims, BUCKETS).collect()
    assert len(rows) == 500
    for r in rows:
        bi = _brute_bucket(r.w, r.h)
        assert r.bucket_idx == bi, (r.w, r.h, r.bucket_idx, bi)
        bw, bh = BUCKETS[bi]
        assert (r.bucket_w, r.bucket_h) == (bw, bh)
        # resize covers the bucket; crop is centered and in-range
        assert r.resize_w >= bw and r.resize_h >= bh
        scale = max(bw / r.w, bh / r.h)
        assert r.resize_w == max(bw, int(np.floor(r.w * scale + 0.5)))
        assert r.crop_x == (r.resize_w - bw) // 2
        assert r.crop_x + bw <= r.resize_w
        assert r.crop_y + bh <= r.resize_h


def test_aspect_bucket_exact_match_and_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 512, 512), (2, 1024, 1024), (3, 288, 224)],
        "id long, w int, h int")
    out = {r.id: r for r in aspect_bucket(df, BUCKETS).collect()}
    # exact aspect → its own bucket, no resize slack beyond rounding
    assert out[1].bucket_idx == 0 and out[1].resize_w == 512
    assert out[2].bucket_idx == 0 and out[2].resize_w == 512
    # 288x224 matches 576x448 exactly (not the square)
    assert out[3].bucket_idx == 1
    assert (out[3].resize_w, out[3].resize_h) == (576, 448)
    # tie-break: a degenerate two-equal-bucket list takes the first
    out2 = aspect_bucket(df, [(512, 512), (256, 256)]).collect()
    assert all(r.bucket_idx == 0 for r in out2)


def test_vit_tokens_closed_form(dims):
    got = dims.select("doc_id", "w", "h",
                      vit_token_count(patch=14, extra=1)
                      .alias("n")).collect()
    for r in got:
        assert r.n == -(-r.w // 14) * (-(-r.h // 14)) + 1


def test_pack_images_greedy_replay(dims):
    B = 2000
    rows = pack_images(dims, B, patch=16, n_buckets=7).collect()
    assert len(rows) == 500
    by_bucket = {}
    for r in sorted(rows, key=lambda r: (r.bucket, r.doc_id)):
        by_bucket.setdefault(r.bucket, []).append(r)
    assert len(by_bucket) > 1
    for bucket, rs in by_bucket.items():
        fill, blk, pos = 0, -1, 0
        for r in rs:
            n = int(r.n_tokens)
            assert n == -(-r.w // 16) * (-(-r.h // 16)) + 1 \
                if hasattr(r, "w") else True
            if blk < 0 or fill + n > B:
                blk += 1
                fill, pos = n, 0
            else:
                fill += n
                pos += 1
            assert (r.block, r.block_pos) == (blk, pos), (bucket, r)
            assert r.oversize == (n > B)
        # block fill property: every block except oversize ones <= B
        fills = {}
        for r in rs:
            fills[r.block] = fills.get(r.block, 0) + int(r.n_tokens)
        for b, f in fills.items():
            members = [r for r in rs if r.block == b]
            if not any(m.oversize for m in members):
                assert f <= B
            else:
                assert len(members) == 1  # oversize rows sit alone


def test_pack_images_bucket_invariance_of_totals(dims):
    # changing n_buckets changes block boundaries but never drops rows
    a = pack_images(dims, 3000, n_buckets=4).count()
    b = pack_images(dims, 3000, n_buckets=32).count()
    assert a == b == 500


def test_augment_array_semantics():
    a = np.arange(24, dtype=np.uint8).reshape(4, 6)
    assert np.array_equal(augment_array(a, "hflip"), a[:, ::-1])
    assert np.array_equal(augment_array(a, "vflip"), a[::-1])
    r90 = augment_array(a, "rot90")
    assert r90.shape == (6, 4)
    # clockwise: top-left of source -> top-right of output
    assert r90[0, -1] == a[0, 0]
    assert np.array_equal(augment_array(r90, "rot270"), a)
    assert np.array_equal(augment_array(a, "rot180"), a[::-1, ::-1])
    c = augment_array(a, "crop:4x2")
    assert c.shape == (2, 4)
    assert np.array_equal(c, a[1:3, 1:5])
    with pytest.raises(ValueError):
        augment_array(a, "zoom")


def test_augment_images_roundtrip(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i, fmt in enumerate(["raw", "png", "webp", "raw"]):
        arr = rng.integers(0, 256, (16, 12, 3), dtype=np.uint8)
        rows.append((f"im{i}", codec.encode(arr, fmt), 12, 16, fmt,
                     f"cap{i}"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string")
    out = augment_images(df, ops=("hflip", "rot90", "crop:8x6")).collect()
    assert len(out) == 12
    src = {r[0]: r for r in rows}
    for r in out:
        orig = codec.decode(src[r.image_id][1], src[r.image_id][2],
                            src[r.image_id][3], src[r.image_id][4])
        exp = augment_array(orig, r.aug_op)
        got = codec.decode(r.bytes, r.w, r.h, r.fmt)
        assert (r.h, r.w) == exp.shape[:2]
        assert np.array_equal(got, exp), (r.image_id, r.aug_op)
        assert r.caption == f"cap{r.image_id[2:]}"  # passthrough intact


def test_augment_images_drops_corrupt(spark):
    df = spark.createDataFrame(
        [("ok", codec.encode(np.zeros((8, 8, 3), np.uint8), "png"),
          8, 8, "png"),
         ("bad", b"\x00\x01junk", 8, 8, "png")],
        "image_id string, bytes binary, w int, h int, fmt string")
    out = augment_images(df, ops=("hflip",)).collect()
    assert [r.image_id for r in out] == ["ok"]


def test_image_filter_rule_order(spark):
    from gis_tools_spark.operators.imgtrain import image_filter
    rows = [
        # (id, w, h, nbytes, caption, expected_reason)
        (1, 32, 500, 100, "a fine caption", "too_small"),
        (2, 900, 200, 100, "a fine caption", "extreme_aspect"),
        (3, 300, 300, 4, "a fine caption", "too_few_bytes"),
        (4, 300, 300, 100, "hi", "short_caption"),
        (5, 300, 300, 100, None, "short_caption"),
        (6, 300, 300, 100, "a fine caption", None),
        # too_small outranks extreme_aspect outranks bytes outranks caption
        (7, 16, 900, 2, "x", "too_small"),
        (8, 900, 100, 2, "x", "extreme_aspect"),
    ]
    df = spark.createDataFrame(
        [(i, w, h, b"z" * nb, cap) for i, w, h, nb, cap, _ in rows],
        "id long, w int, h int, bytes binary, caption string")
    out = {r.id: r for r in image_filter(
        df, min_side=64, max_aspect=3.0, min_bytes=16,
        min_caption_chars=5).collect()}
    for i, _, _, _, _, exp in rows:
        assert out[i].reject_reason == exp, (i, out[i].reject_reason)
        assert out[i].keep == (exp is None)


def test_image_filter_codegen_only(spark):
    from gis_tools_spark.operators.imgtrain import image_filter
    df = spark.createDataFrame(
        [(1, 300, 300, b"x" * 50, "caption text")],
        "id long, w int, h int, bytes binary, caption string")
    plan = image_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_exif_normalize_array_all_orientations():
    from gis_tools_spark.raster.media import exif_normalize_array
    a = np.arange(6, dtype=np.uint8).reshape(2, 3)
    exp = {
        1: a,
        2: a[:, ::-1],
        3: a[::-1, ::-1],
        4: a[::-1],
        5: a.T,
        6: np.rot90(a, k=-1),
        7: a[::-1, ::-1].T,
        8: np.rot90(a, k=1),
    }
    for o, e in exp.items():
        assert np.array_equal(exif_normalize_array(a, o), e), o
    # tag-then-normalize is involutive with the matching inverse pair
    assert np.array_equal(
        exif_normalize_array(exif_normalize_array(a, 6), 8), a)
    assert np.array_equal(
        exif_normalize_array(exif_normalize_array(a, 5), 5), a)
    # unknown / missing tags are identity
    assert np.array_equal(exif_normalize_array(a, 0), a)
    assert np.array_equal(exif_normalize_array(a, 9), a)


def test_normalize_orientation_end_to_end(spark):
    from gis_tools_spark.raster import exif as E, jpeg
    from gis_tools_spark.raster.media import (exif_normalize_array,
                                              normalize_orientation)
    rng = np.random.default_rng(11)
    rows, srcs = [], {}
    for o in range(1, 9):
        # smooth content so the jpeg round trip stays high-PSNR
        x, y = np.meshgrid(np.arange(20), np.arange(24))
        arr = np.clip(127 + 60 * np.sin(0.3 * x + o)
                      * np.cos(0.2 * y), 0, 255).astype(np.uint8)
        arr = np.repeat(arr[:, :, None], 3, axis=2)
        buf = jpeg.encode(arr, 95)
        if o > 1:
            buf = E.embed_exif(buf, E.build_exif(orientation=o))
        rows.append((f"o{o}", buf, 20, 24, "jpeg"))
        srcs[f"o{o}"] = (buf, o)
    # one non-jpeg row: passes through untouched
    rawarr = rng.integers(0, 256, (8, 6, 3), dtype=np.uint8)
    from gis_tools_spark.raster import codec
    rows.append(("raw0", codec.encode(rawarr, "raw"), 6, 8, "raw"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string")
    out = {r.image_id: r
           for r in normalize_orientation(df, fmt_out="png").collect()}
    assert out["raw0"].exif_orientation == 1
    assert bytes(out["raw0"].bytes) == codec.encode(rawarr, "raw")
    from gis_tools_spark.raster import codec as C
    for o in range(1, 9):
        r = out[f"o{o}"]
        assert r.exif_orientation == o
        buf, _ = srcs[f"o{o}"]
        stored = C.decode(bytes(buf), 20, 24, "jpeg")
        exp = exif_normalize_array(stored, o)
        got = C.decode(bytes(r.bytes), r.w, r.h, r.fmt)
        assert (r.h, r.w) == exp.shape[:2]
        if o == 1:
            assert r.fmt == "jpeg"  # untouched passthrough
        else:
            assert r.fmt == "png"
            assert np.array_equal(got, exp), o


def test_dataset_profile_exact(spark):
    from gis_tools_spark.operators.profile import dataset_profile
    df = spark.createDataFrame(
        [(1, 2.0, "b"), (2, 4.0, "a"), (3, None, "a"), (None, 10.0, None)],
        "i long, x double, s string")
    prof = {r.column: r for r in
            dataset_profile(df, exact=True).collect()}
    assert prof["i"].n == 4 and prof["i"].n_null == 1
    assert prof["i"].n_distinct == 3
    assert prof["i"].min_num == 1.0 and prof["i"].max_num == 3.0
    assert prof["i"].mean_num == 2.0
    assert prof["x"].mean_num == pytest.approx(16.0 / 3, abs=1e-6)
    assert prof["s"].n_distinct == 2
    assert prof["s"].min_str == "a" and prof["s"].max_str == "b"
    assert prof["s"].min_num is None
    with pytest.raises(ValueError):
        dataset_profile(df, ["nope"])


def test_dataset_profile_approx_mode(spark):
    from gis_tools_spark.operators.profile import dataset_profile
    df = spark.range(0, 5000).selectExpr("id", "id % 97 as m")
    prof = {r.column: r for r in dataset_profile(df).collect()}
    assert abs(prof["id"].n_distinct - 5000) / 5000 < 0.1
    assert abs(prof["m"].n_distinct - 97) / 97 < 0.1


def test_detect_format_and_mismatch(spark):
    from gis_tools_spark.operators.imgtrain import format_check
    from gis_tools_spark.raster import jpeg

    arr = np.full((8, 8, 3), 100, dtype=np.uint8)
    rows = [
        ("jpg_ok", jpeg.encode(arr, 90), "jpeg"),
        ("png_as_jpeg", codec.encode(arr, "png"), "jpeg"),   # mislabeled
        ("webp_ok", codec.encode(arr, "webp"), "webp"),
        ("raw_unknown", codec.encode(arr, "raw"), "raw"),    # no magic
        ("riff_wav_not_webp", b"RIFF\x10\x00\x00\x00WAVEfmt ", "webp"),
    ]
    df = spark.createDataFrame(rows, "id string, bytes binary, fmt string")
    got = {r.id: r for r in format_check(df).collect()}
    assert got["jpg_ok"].fmt_detected == "jpeg"
    assert not got["jpg_ok"].fmt_mismatch
    assert got["png_as_jpeg"].fmt_detected == "png"
    assert got["png_as_jpeg"].fmt_mismatch
    assert got["webp_ok"].fmt_detected == "webp"
    assert got["raw_unknown"].fmt_detected is None
    assert not got["raw_unknown"].fmt_mismatch  # unsniffable ≠ accused
    assert got["riff_wav_not_webp"].fmt_detected is None  # WAVE ≠ WEBP


def test_detect_format_sql_mirror_agreement(spark):
    import duckdb
    from gis_tools_spark.operators.imgtrain import (detect_format,
                                                    magic_case_sql)
    from gis_tools_spark.raster import jpeg

    arr = np.arange(192, dtype=np.uint8).reshape(8, 8, 3)
    bufs = [jpeg.encode(arr, 90), codec.encode(arr, "png"),
            codec.encode(arr, "webp"), codec.encode(arr, "raw"),
            # fLaC marker + last-block STREAMINFO header (34-byte body)
            b"fLaC\x80\x00\x00\x22" + bytes(34),
            # ISO-BMFF ftyp box, generic isom brand
            b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00isomiso2",
            b"GIF89a\x00\x00", b"BMxxxx", b"\x00\x01\x02"]
    df = spark.createDataFrame([(i, b) for i, b in enumerate(bufs)],
                               "i int, bytes binary")
    spark_det = {r.i: r.d for r in
                 df.select("i", detect_format().alias("d")).collect()}
    con = duckdb.connect()
    for i, b in enumerate(bufs):
        got = con.execute(
            f"SELECT {magic_case_sql('b')} FROM (SELECT ?::BLOB AS b)",
            [b]).fetchone()[0]
        assert got == spark_det[i], (i, got, spark_det[i])
    assert spark_det[0] == "jpeg" and spark_det[4] == "flac"
    assert spark_det[5] == "mp4" and spark_det[8] is None


def test_format_check_codegen_only(spark):
    from gis_tools_spark.operators.imgtrain import format_check
    df = spark.createDataFrame([(b"\xff\xd8\xff", "jpeg")],
                               "bytes binary, fmt string")
    plan = format_check(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
