"""The benchmark's workloads: inputs from `gis_tools_spark.fixtures`,
one pass of public calls, and the references each output checksum is
compared with.

A workload runs every public call through `r.op(stage, call)` (see
run.Runner): `call` returns the operator's lazy DataFrame, and the
runner forces its full output through `checksum` and compares it with
the reference of its seed from `refs.json`. `make_refs.py` writes that
file: where the answer can be had another way (another join strategy of
the package, an invariant of the generated data), `references` gives
that checksum and the pass must agree with it; every other stage's
reference is the checksum the pass answers. On a seed with no committed
references, each stage is compared with its warm-up checksum, so there
a pass that answers differently from the first one fails.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gis_tools_spark import fixtures
from gis_tools_spark.geom import wkb

CITY = (5.5, 40.5, 7.0, 42.0)      # lake query window, ~9% of the AOI


def checksum(df, by: str | None = None):
    """Order-independent exact checksum over every output column: row
    count and the sum of xxhash64 of each row, columns taken in name
    order. Floating columns are rounded to 6 decimals (+0.0 folds -0.0
    into 0.0). Consuming every column keeps Catalyst from pruning 1:1
    UDF projections away.

    Both parts are sums over rows, so the checksum of a union is the sum
    of its parts' checksums. With `by`, returns {key: (count, sum)} per
    value of that column, which is left out of the hash."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        if f.name == by:
            continue
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c.cast("double"), 6) + F.lit(0.0)
        cols.append(c)
    aggs = (F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"))
    if by is None:
        row = df.select(*aggs).collect()[0]
        return int(row["n"]), int(row["h"] or 0)
    return {r[by]: (int(r["n"]), int(r["h"])) for r in df.groupBy(by).agg(*aggs).collect()}


@F.pandas_udf(T.BinaryType())
def _box_wkb(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series) -> pd.Series:
    return pd.Series([wkb.box(*t) for t in zip(a, b, c, d)])


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


class Workload:
    name = ""
    stages: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.cached: list = []

    def _keep(self, df):
        """Persist and materialize one input table."""
        df = df.persist()
        df.count()
        self.cached.append(df)
        return df

    def _zones(self):
        z = fixtures.gen_zones(64, self.seed)
        return self._keep(self.spark.createDataFrame(
            z[["gid", "nom", "secteur", "surf", "geometry_wkb"]]))

    def _images(self, n, with_pixels):
        return fixtures.gen_images_spark(self.spark, n, seed=self.seed,
                                         with_pixels=with_pixels, partitions=8)

    def drop_inputs(self) -> None:
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached = []

    def generate(self) -> None:
        raise NotImplementedError

    def references(self) -> dict[str, tuple]:
        """Checksums of stage outputs, got by another code path."""
        return {}

    def run_pass(self, r) -> int:
        """Run one pass; return the input rows its public calls consumed."""
        raise NotImplementedError


class GeotagLake(Workload):
    """Image metadata (no pixel bytes), 80% of rows on 12 hotspots. A
    pass first joins it to the 64 coarse zones and to a fine parcel
    grid, then appends it in K batches to a fresh snapshot table,
    clustered on (lon, lat); each commit is followed by a city-window
    scan feeding a broadcast PIP join against the zones, and the pass
    ends with one unfiltered scan.

    The parcel grid has more rows than the PIP broadcast gate, so
    `auto` picks the salted cell join. The gate is lowered from its
    100k default to keep a pass short; the plan is the one a >100k
    parcel layer gets.

    Rows: image rows into each of the four join calls, plus rows
    committed and rows in the table at each scan (before pruning).
    """
    name = "geotag_lake"
    stages = ("split.image_tile_assignment", "sjoin.pip_join",
              "sjoin.sjoin", "knn.nearest_feature",
              "icetable.commit", "icetable.scan", "icetable.scan_all")
    N_IMAGES = 12_000
    PARCEL_GRID = 50                  # 50 x 50 = 2,500 parcels
    PIP_GATE = 2_000                  # broadcast_max_rows < parcel rows
    SALT = 64                         # below the rows of a hotspot cell
    K = 3                             # lake batches per pass
    COLS = ("image_id", "lon", "lat", "minx", "miny", "maxx", "maxy", "phash")

    def generate(self):
        self.images = self._keep(self._images(self.N_IMAGES, False)
                                 .drop("bytes", "caption").withColumn(
            "footprint_wkb", _box_wkb("minx", "miny", "maxx", "maxy")))
        self.zones = self._zones()
        minx, miny, maxx, maxy = fixtures.AOI
        n = self.PARCEL_GRID
        xs, ys = np.linspace(minx, maxx, n + 1), np.linspace(miny, maxy, n + 1)
        parcels = pd.DataFrame({
            "pcl": np.arange(n * n, dtype=np.int64),
            "geometry_wkb": [wkb.box(xs[i], ys[j], xs[i + 1], ys[j + 1])
                             for i in range(n) for j in range(n)]})
        self.parcels = self._keep(
            self.spark.createDataFrame(parcels).repartition(8))
        self.table = self.images.select(*self.COLS)
        self.batches = [self.table.where(self._batch() == k)
                        for k in range(self.K)]
        # raw bytes of the committed rows: 8 per number, len per string
        self.input_bytes = self.table.select(F.sum(
            F.length("image_id") + 8 * (len(self.COLS) - 1))).collect()[0][0]
        self.passes = 0

    def _batch(self):
        return F.substring("image_id", 4, 9).cast("long") % self.K

    def _points(self):
        return self.images.select("image_id", "lon", "lat")

    def _pip(self, strategy, **kw):
        from gis_tools_spark.operators.sjoin import pip_join
        return pip_join(self._points(), self.parcels, poly_id="pcl",
                        strategy=strategy, **kw)

    def references(self):
        from gis_tools_spark.operators.sjoin import pip_join
        # the timed pip_join takes the salted cell join, the reference
        # the broadcast one
        refs = {"sjoin.pip_join": checksum(self._pip("broadcast"))}
        # lake window k sees batches 0..k. The reference filters the
        # in-memory table instead of pruning files and takes the cell
        # join, once, keeping each row's batch; checksums add, so window
        # k's reference is the sum of the per-batch ones up to k
        x0, y0, x1, y1 = CITY
        win = self.images.where(F.col("lon").between(x0, x1)
                                & F.col("lat").between(y0, y1))
        per_batch = checksum(pip_join(
            win.select("image_id", "lon", "lat", self._batch().alias("batch")),
            self.zones, strategy="cell"), by="batch")
        n = h = 0
        for k in range(self.K):
            dn, dh = per_batch.get(k, (0, 0))
            n, h = n + dn, h + dh
            refs[f"icetable.scan.{k}"] = (n, h)
        refs["icetable.scan_all"] = checksum(self.table)
        return refs

    def run_pass(self, r):
        self._join_pass(r)
        self._lake_pass(r)
        # every row goes into the four join calls, is committed once
        # and is read by the full scan; window scan k runs over the
        # k + 1 batches committed so far
        return self.N_IMAGES * (4 + 2 + (self.K + 1) / 2)

    def _join_pass(self, r):
        from gis_tools_spark.operators.knn import nearest_feature
        from gis_tools_spark.operators.sjoin import sjoin
        from gis_tools_spark.operators.split import image_tile_assignment
        r.op("split.image_tile_assignment", lambda: image_tile_assignment(
            self.images.select("image_id", "minx", "miny", "maxx", "maxy"),
            res=16), rows_in=self.N_IMAGES)
        r.op("sjoin.pip_join", lambda: self._pip(
            "auto", salt_threshold=self.SALT,
            broadcast_max_rows=self.PIP_GATE))
        r.op("sjoin.sjoin", lambda: sjoin(
            self.images.select("image_id", "footprint_wkb"), self.zones,
            left_wkb="footprint_wkb", left_id="image_id"))
        r.op("knn.nearest_feature", lambda: nearest_feature(
            self._points(), self.zones, point_id="image_id"))

    def _lake_pass(self, r):
        from gis_tools_spark.operators.sjoin import pip_join
        from gis_tools_spark.sources import icetable as ice
        self.passes += 1
        root = os.path.join(self.work, "lake", f"pass-{self.passes}")
        for k, batch in enumerate(self.batches):
            r.op("icetable.commit", lambda: ice.commit(
                batch, root, cluster_by=("lon", "lat")))
            r.op("icetable.scan", lambda: pip_join(
                ice.scan(self.spark, root, bbox=CITY)
                .select("image_id", "lon", "lat"),
                self.zones, strategy="broadcast"), ref=f"icetable.scan.{k}")
            if r.traced:
                kept, total = ice.scan_files(
                    root, filters=ice.bbox_filters(*CITY))
                r.observe("icetable.scan_files.files_kept_frac",
                          len(kept) / max(total, 1))
        r.op("icetable.scan_all",
             lambda: ice.scan(self.spark, root).select(*self.COLS))
        if r.traced:
            meta = os.path.join(root, "metadata")
            mf = max((os.path.join(meta, f) for f in os.listdir(meta)
                      if f.endswith(".manifest.json")), key=os.path.getmtime)
            r.observe("icetable.commit.manifest_kb", os.path.getsize(mf) / 1e3)
            r.observe("icetable.commit.bytes_stored_per_input_byte",
                      _du(root) / self.input_bytes)


class PixelZonal(Workload):
    """Pixel-bearing images across the fixture format mix, a raster
    mosaic and the 64 zones: codecs and the Python-worker boundary.
    Then the iterative operators, whose rounds of Spark jobs make
    per-job and driver overhead dominate: cost distance over a small
    non-negative cost mosaic, watershed over a small DEM mosaic,
    PageRank and connected components over a road graph.
    Rows: images decoded, mosaic tiles into each of three calls, cost
    and DEM tiles into one call each and graph edges into each of two."""
    name = "pixel_zonal"
    stages = ("kernels.decode_phash", "zonal.zonal_statistics",
              "burn.burn_zones_to_tiles", "polygonize.polygonize",
              "costdist.cost_distance", "hydrology.watershed",
              "network.pagerank", "network.connected_components")
    N_IMAGES = 400
    MOSAIC = (3, 3, 48)               # 9 tiles of 48 x 48 pixels
    COST = DEM = (2, 1, 16)           # 2 tiles of 16 x 16 pixels
    N_LINES = 40                      # ~45 road edges
    PAGERANK_ROUNDS = 2

    def generate(self):
        self.images = self._keep(self._images(self.N_IMAGES, True)
                                 .select("image_id", "bytes", "w", "h",
                                         "fmt", "phash"))
        nx, ny, tile = self.MOSAIC
        self.mosaic = self._keep(self.spark.createDataFrame(
            fixtures.gen_rasters(nx, ny, tile, seed=self.seed)).repartition(8))
        self.zones = self._zones()
        # gen_rasters' field goes negative, and cost distance needs
        # costs >= 0; the exact fixture's are, but take no seed. The
        # source is fixed too: the number of sweeps depends on where it
        # lies, and a pass should do the same work on every seed
        self.cost = self._keep(self.spark.createDataFrame(
            fixtures.gen_rasters_exact(*self.COST)))
        nx, ny, tile = self.COST
        self.source = (nx * tile // 2, ny * tile // 2)
        self.dem = self._keep(self.spark.createDataFrame(
            fixtures.gen_rasters(*self.DEM, seed=self.seed)))
        from gis_tools_spark.operators.network import edges_from_lines
        self.edges = self._keep(edges_from_lines(self.spark.createDataFrame(
            fixtures.gen_lines(self.N_LINES, seed=self.seed)))
            .where("src_key != dst_key"))
        self.n_edges = self.edges.count()

    def references(self):
        # every decoded phash equals the stored one: the decode stage
        # outputs (image_id, ok=True) for every row
        return {"kernels.decode_phash": checksum(
            self.images.select("image_id", F.lit(True).alias("ok")))}

    def run_pass(self, r):
        from gis_tools_spark.raster.burn import burn_zones_to_tiles
        from gis_tools_spark.raster.kernels import decode_phash_udf
        from gis_tools_spark.raster.polygonize import polygonize
        from gis_tools_spark.raster.zonal import zonal_statistics
        r.op("kernels.decode_phash", lambda: self.images.select(
            "image_id",
            (decode_phash_udf()("bytes", "w", "h", "fmt") == F.col("phash"))
            .alias("ok")))
        r.op("zonal.zonal_statistics",
             lambda: zonal_statistics(self.mosaic, self.zones))
        burned = r.op("burn.burn_zones_to_tiles", lambda: burn_zones_to_tiles(
            self.mosaic, self.zones, burn_attr="gid", background=-1.0).persist())
        if burned is not None:
            r.op("polygonize.polygonize", lambda: polygonize(burned))
            burned.unpersist(blocking=True)
        self._iterative(r)
        return (self.N_IMAGES + 3 * self.MOSAIC[0] * self.MOSAIC[1]
                + self.COST[0] * self.COST[1] + self.DEM[0] * self.DEM[1]
                + 2 * self.n_edges)

    def _iterative(self, r):
        from gis_tools_spark.operators.network import (connected_components,
                                                       pagerank)
        from gis_tools_spark.raster.costdist import cost_distance
        from gis_tools_spark.raster.hydrology import watershed
        from gis_tools_spark.raster.stitch import d8_flow_direction
        r.op("costdist.cost_distance",
             lambda: cost_distance(self.cost, [self.source]))
        r.op("hydrology.watershed",
             lambda: watershed(d8_flow_direction(self.dem)))
        r.op("network.pagerank", lambda: pagerank(
            self.edges, src_col="src_key", dst_col="dst_key",
            iters=self.PAGERANK_ROUNDS))
        r.op("network.connected_components",
             lambda: connected_components(self.edges))


WORKLOADS = {w.name: w for w in (GeotagLake, PixelZonal)}
