"""CRS transforms: WGS84 ↔ WebMercator / UTM (closed-form kernels)."""

import numpy as np
import pytest

from gis_tools_spark.functions.crs import transform_xy


def test_mercator_known_value_and_roundtrip():
    x, y = transform_xy(np.array([7.0]), np.array([43.0]), "4326", "3857")
    assert x[0] == pytest.approx(779236.4355529901, abs=1e-4)
    lon, lat = transform_xy(x, y, "3857", "4326")
    assert lon[0] == pytest.approx(7, abs=1e-10)
    assert lat[0] == pytest.approx(43, abs=1e-10)


def test_utm_reference_points():
    # central meridian, equator → false easting exactly
    x, y = transform_xy(np.array([9.0]), np.array([0.0]), "4326", "utm:32")
    assert x[0] == pytest.approx(500000, abs=1e-3)
    assert y[0] == pytest.approx(0, abs=1e-3)
    # central meridian at 45N: northing = meridian arc(45°)=4984944.378m × k0
    x2, y2 = transform_xy(np.array([9.0]), np.array([45.0]), "4326", "utm:32")
    assert y2[0] == pytest.approx(4984944.378 * 0.9996, abs=0.01)


def test_utm_roundtrip_bulk():
    rng = np.random.default_rng(0)
    lons = rng.uniform(6.5, 11.5, 100)
    lats = rng.uniform(-75, 75, 100)
    ux, uy = transform_xy(lons.copy(), lats.copy(), "4326", "utm:32")
    lo, la = transform_xy(ux, uy, "utm:32", "4326")
    assert np.abs(lo - lons).max() < 1e-8
    assert np.abs(la - lats).max() < 1e-8


def test_unsupported_crs_raises():
    # 27700 is supported since round 3 (declarative register_crs); use a
    # code with no built-in parameterization
    with pytest.raises(NotImplementedError):
        transform_xy(np.array([0.0]), np.array([0.0]), "4326", "29902")


# ------------------------------------------------------- round-2: conic/azimuthal

def test_epsg_registry_natural_origins():
    import numpy as np
    from gis_tools_spark.functions import crs

    for code, lonlat, want in [
        ("2154", (3.0, 46.5), (700000.0, 6600000.0)),
        ("5070", (-96.0, 23.0), (0.0, 0.0)),
        ("3035", (10.0, 52.0), (4321000.0, 3210000.0)),
    ]:
        x, y = crs.transform_xy(np.array([lonlat[0]]), np.array([lonlat[1]]),
                                "4326", code)
        assert abs(x[0] - want[0]) < 0.01 and abs(y[0] - want[1]) < 0.01, code


def test_epsg_round_trips_subcm():
    import numpy as np
    from gis_tools_spark.functions import crs

    rng = np.random.default_rng(3)
    for code, (lo0, lo1, la0, la1) in [
        ("2154", (-4, 8, 42, 51)), ("5070", (-120, -75, 25, 48)),
        ("3035", (-10, 30, 35, 65)), ("2972", (-54, -51, 2, 6)),
        ("32722", (-54, -51, -6, -2)),
    ]:
        lon = rng.uniform(lo0, lo1, 50)
        lat = rng.uniform(la0, la1, 50)
        x, y = crs.transform_xy(lon.copy(), lat.copy(), "4326", code)
        lon2, lat2 = crs.transform_xy(x, y, code, "4326")
        err = max(np.abs(lon2 - lon).max(), np.abs(lat2 - lat).max())
        assert err < 1e-9, (code, err)


def test_lambert93_known_point():
    # Paris Notre-Dame in RGF93/Lambert-93: published ≈ (652216, 6861681)
    import numpy as np
    from gis_tools_spark.functions import crs

    x, y = crs.transform_xy(np.array([2.3488]), np.array([48.8534]),
                            "4326", "2154")
    assert abs(x[0] - 652216.6) < 2.0 and abs(y[0] - 6861681.5) < 2.0


def test_albers_preserves_area_element():
    import numpy as np
    from gis_tools_spark.functions import crs

    p = crs.EPSG_REGISTRY["5070"]
    lon, lat, h = -100.0, 40.0, 1e-5
    x0, y0 = p.fwd(np.array([lon]), np.array([lat]))
    x1, y1 = p.fwd(np.array([lon + h]), np.array([lat]))
    x2, y2 = p.fwd(np.array([lon]), np.array([lat + h]))
    jac = abs((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0))[0] / np.deg2rad(h) ** 2
    a, e2 = 6378137.0, crs.E2
    s = np.sin(np.deg2rad(lat))
    want = (a * (1 - e2) / (1 - e2 * s * s) ** 1.5) \
        * (a / np.sqrt(1 - e2 * s * s)) * np.cos(np.deg2rad(lat))
    assert abs(jac / want - 1) < 1e-6


def test_unknown_epsg_raises_with_guidance():
    import numpy as np
    import pytest
    from gis_tools_spark.functions import crs

    with pytest.raises(NotImplementedError, match="EPSG_REGISTRY"):
        crs.transform_xy(np.array([0.0]), np.array([0.0]), "4326", "31370")
