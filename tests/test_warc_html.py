"""WebDataset front end (sources/webdataset.py): tar shard reader
and the samples DataFrame stage."""

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

