"""OpenStreetMap Overpass tooling — response-JSON → feature parsing
(pure functions; the HTTP fetch itself is out of scope).

Reference parity: gis-tools osm.py — ``json_to_geodataframe``
(osm.py:181-193 via _to_point_features/_to_features, osm.py:25-83):
nodes → points; ways → linestrings / closed polygons; relations →
member ways merged end-to-end (the reference's gistools.geometry merge
== the engine's _line_merge) into MultiLineString / MultiPolygon;
invalid geometries skipped, tags become properties with osm_id/
osm_type injected (osm.py:86-98). A user who cached Overpass responses
ingests them into the engine's WKB model with ``osm_features``.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np

from ..geom import wkb


def _tags(elem: dict) -> str:
    t = dict(elem.get("tags") or {})
    if "id" not in t:
        t = dict(osm_id=elem["id"], **t)
    t["osm_type"] = elem["type"]
    return json.dumps(t, sort_keys=True)


def _way_coords(geom_list) -> np.ndarray:
    return np.array([[n["lon"], n["lat"]] for n in geom_list], dtype=float)


def overpass_features(text: str, geometry_type: str) -> list[tuple]:
    """Overpass JSON response → [(wkb, properties_json)].

    geometry_type ∈ {'point', 'linestring', 'polygon'} with the
    reference's element-selection rules; unbuildable geometries are
    skipped exactly like the reference's ValueError-pass."""
    if geometry_type not in ("point", "linestring", "polygon"):
        raise ValueError(f"bad geometry_type {geometry_type!r}")
    doc = json.loads(text)
    elements = doc.get("elements", [])
    out: list[tuple] = []
    if geometry_type == "point":
        for e in elements:
            if e.get("type") != "node":
                continue
            out.append((wkb.point(e["lon"], e["lat"]), _tags(e)))
        return out
    from ..operators.split import _line_merge

    for e in elements:
        et = e.get("type")
        if et == "way":
            coords = _way_coords(e.get("geometry", []))
            if geometry_type == "linestring":
                if len(coords) < 2:
                    continue
                out.append((wkb.linestring(coords), _tags(e)))
            else:
                if len(coords) < 4:
                    continue
                out.append((wkb.polygon([coords]), _tags(e)))
        elif et == "relation":
            if geometry_type == "polygon" and \
                    (e.get("tags") or {}).get("type") not in \
                    ("multipolygon", "boundary"):
                continue
            segs = [_way_coords(m.get("geometry", []))
                    for m in e.get("members", [])
                    if m.get("type") == "way" and m.get("geometry")]
            segs = [s for s in segs if len(s) >= 2]
            if not segs:
                continue
            merged = _line_merge(segs)
            if not merged:
                continue
            try:
                if geometry_type == "linestring":
                    out.append((wkb.multilinestring(merged), _tags(e)))
                else:
                    rings = [m for m in merged if len(m) >= 4]
                    if not rings:
                        continue
                    out.append((wkb.multipolygon([[r] for r in rings]),
                                _tags(e)))
            except Exception:  # noqa: BLE001 — reference skips invalid
                continue
    return out


def osm_features(df, geometry_type: str, id_col: str = "doc_id",
                 text_col: str = "json"):
    """(doc id, Overpass JSON text) rows → one row per feature:
    (feature_id, geometry_wkb, geom_type, properties, ok)."""

    def _scan(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                try:
                    for i, (b, props) in enumerate(
                            overpass_features(text, geometry_type)):
                        rows.append((f"{did}/{i}", b, wkb.geom_type(b),
                                     props, True))
                except Exception:  # noqa: BLE001 — mark, never kill
                    rows.append((f"{did}/0", None, None, None, False))
            yield pd.DataFrame(rows, columns=[
                "feature_id", "geometry_wkb", "geom_type", "properties",
                "ok"])

    return df.select(id_col, text_col).mapInPandas(
        _scan, schema="feature_id string, geometry_wkb binary, "
                      "geom_type string, properties string, ok boolean")
