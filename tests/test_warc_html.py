"""WebDataset front end (sources/webdataset.py): tar shard reader,
the samples DataFrame stage and the export sink."""

import pandas as pd
import pytest


# --------------------------------------------------------------- webdataset

def test_webdataset_roundtrip_and_pipeline(spark):
    import numpy as np
    from gis_tools_spark.raster import exif as E, jpeg
    from gis_tools_spark.fixtures import _gen_pixels
    from gis_tools_spark.sources import webdataset as WD

    samples = []
    for i in range(6):
        arr = _gen_pixels(np.random.default_rng(i), 16, 16, "jpeg")
        buf = jpeg.encode(arr, 90)
        if i % 2 == 0:
            buf = E.embed_exif(buf, E.build_exif(lon=5.0 + i, lat=42.0))
        samples.append({"key": f"{i:06d}", "image": buf,
                        "caption": f"cap {i}", "meta": {"i": i}})
    for gz in (False, True):
        blob = WD.write_wds(samples, gzip_shard=gz)
        got = list(WD.iter_samples(blob))
        assert [k for k, _ in got] == [f"{i:06d}" for i in range(6)]
        assert got[2][1]["txt"] == b"cap 2"
    blobs = pd.DataFrame({"shard_id": [1, 2],
                          "bytes": [WD.write_wds(samples), b"not a tar"]})
    rows = WD.wds_samples(spark.createDataFrame(blobs)).toPandas()
    assert (~rows[rows.shard_id == 2]["ok"]).all()
    good = rows[rows.ok].sort_values("sample_key")
    assert len(good) == 6
    assert (good["image_fmt"] == "jpeg").all()
    assert good["caption"].tolist() == [f"cap {i}" for i in range(6)]
    # EXIF GPS survives the shard: the crawl->geotable step
    r0 = good.iloc[0]
    got_exif = E.parse_exif(bytes(r0["image"]))
    assert got_exif["lon"] == pytest.approx(5.0, abs=1e-4)
    # and the image decodes
    assert jpeg.decode(bytes(r0["image"])).shape == (16, 16, 3)


# ------------------------------------------------------- wds_export sink

def test_wds_export_roundtrip_and_determinism(spark, tmp_path):
    import numpy as np
    from gis_tools_spark.raster import codec
    from gis_tools_spark.sources.webdataset import wds_export, wds_samples

    rng = np.random.default_rng(3)
    rows = []
    for i in range(57):
        arr = rng.integers(0, 256, (8, 6, 3), dtype=np.uint8)
        rows.append((i * 3, codec.encode(arr, "png"), "png",
                     f"caption {i*3}"))
    df = spark.createDataFrame(
        rows, "image_id long, bytes binary, fmt string, caption string")

    d1 = str(tmp_path / "a")
    man = wds_export(df, d1, samples_per_shard=16, n_buckets=5).collect()
    assert sorted(r.shard_id for r in man) == [0, 1, 2, 3]
    assert sum(r.n_samples for r in man) == 57
    # ranks follow ascending id: shard 0 holds the 16 smallest ids
    import tarfile
    names = sorted(tarfile.open(
        [r.path for r in man if r.shard_id == 0][0]).getnames())
    keys = sorted({n.split(".")[0] for n in names})
    assert keys == [f"{i*3:012d}" for i in range(16)]

    # read back through the engine's own reader: captions byte-equal
    blobs = [(r.shard_id, open(r.path, "rb").read()) for r in man]
    bdf = spark.createDataFrame(blobs, "shard_id long, bytes binary")
    got = {r.sample_key: r for r in wds_samples(bdf).collect()}
    assert len(got) == 57
    for i in range(57):
        r = got[f"{i*3:012d}"]
        assert r.ok and r.caption == f"caption {i*3}"
        assert r.image_fmt == "png"
        assert bytes(r.image) == bytes(rows[i][1])

    # byte-determinism: a second export is identical
    d2 = str(tmp_path / "b")
    man2 = {r.shard_id: r.path for r in
            wds_export(df, d2, samples_per_shard=16, n_buckets=5)
            .collect()}
    for r in man:
        assert open(r.path, "rb").read() == open(man2[r.shard_id],
                                                 "rb").read()


def test_wds_export_empty_and_bucket_invariance(spark, tmp_path):
    from gis_tools_spark.sources.webdataset import wds_export

    empty = spark.createDataFrame(
        [], "image_id long, bytes binary, fmt string, caption string")
    assert wds_export(empty, str(tmp_path / "e")).count() == 0

    rows = [(i, b"\x01\x02", "raw", None) for i in range(10)]
    df = spark.createDataFrame(
        rows, "image_id long, bytes binary, fmt string, caption string")
    a = wds_export(df, str(tmp_path / "x"), samples_per_shard=4,
                   n_buckets=2).collect()
    b = wds_export(df, str(tmp_path / "y"), samples_per_shard=4,
                   n_buckets=9).collect()
    # shard assignment is invariant to the prefix-sum bucketing
    assert sorted((r.shard_id, r.n_samples) for r in a) \
        == sorted((r.shard_id, r.n_samples) for r in b)
