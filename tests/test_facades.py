"""OO facade parity (VERDICT r5 #6): Band/Image/ImageCollection and
NetworkAnalysis are thin wrappers — every assertion here cross-checks a
facade call against the underlying gated function."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import spark  # noqa: F401


@pytest.fixture(scope="module")
def tiles(spark):
    from sgspark.zonal import synth_raster_tiles
    return synth_raster_tiles(spark, 0, 0, 2000, 2000,
                              tile_size=1000, res=50).localCheckpoint()


class TestBandFacade:
    def test_accessors(self, spark, tiles):
        from sgspark.raster import Band
        b = Band(tiles, band_id="B04")
        assert b.res == 50.0
        assert b.bounds() == (0.0, 0.0, 2000.0, 2000.0)
        vc = b.value_counts()
        assert vc.sum() == 4 * 20 * 20  # every pixel counted once

    def test_chained_transforms_match_functions(self, spark, tiles):
        from sgspark.raster import Band
        from sgspark.zonal import band_apply, band_clip
        b = Band(tiles)
        got = b.clip((0, 0, 1000, 1000)).apply("abs", scale=2.0) \
            .tiles.select(F.explode("values").alias("v")) \
            .agg(F.sum("v")).first()[0]
        want = band_apply(band_clip(tiles, (0, 0, 1000, 1000)), "abs",
                          2.0).select(F.explode("values").alias("v")) \
            .agg(F.sum("v")).first()[0]
        assert got == want

    def test_zonal_and_gradient_delegate(self, spark, tiles):
        from sgspark.io import wkt_to_wkb_df
        from sgspark.raster import Band
        from sgspark.zonal import zonal_stats
        polys = wkt_to_wkb_df(spark.createDataFrame(
            [(1, "POLYGON ((100 100, 900 100, 900 900, 100 900, 100 100))")],
            "zone_id int, geometry_wkt string"))
        b = Band(tiles)
        got = {tuple(r) for r in b.zonal(polys).collect()}
        want = {tuple(r) for r in zonal_stats(polys, tiles).collect()}
        assert got == want and got
        # gradient returns a Band (chainable) with same tile grid
        g = b.gradient()
        assert isinstance(g, Band)
        assert g.tiles.count() == tiles.count()
        # to_geopandas: one point per pixel
        assert b.to_geopandas().count() == 4 * 20 * 20

    def test_image_ndvi(self, spark, tiles):
        from sgspark.raster import Band, Image
        from sgspark.zonal import band_apply
        nir = band_apply(tiles, "abs", 2.0, 1.0)
        red = band_apply(tiles, "abs")  # non-negative -> ndvi in [-1, 1]
        img = Image({"B08": Band(nir, band_id="B08"),
                     "B04": Band(red, band_id="B04")}, date="20240601")
        assert img.band_ids() == ["B04", "B08"]
        nd = img.ndvi()
        v = nd.tiles.select(F.explode("values").alias("v")) \
            .agg(F.min("v"), F.max("v")).first()
        assert -1.0 <= v[0] and v[1] <= 1.0


class TestImageCollectionFacade:
    def test_filter_groupby_merge(self, spark, tiles):
        from sgspark.image_collection import collection_groupby_merge
        from sgspark.raster import ImageCollection
        cat = spark.createDataFrame(
            [("/d/S2_20230601/T32_20230601_B04.tif", "20230601", "B04", "T32"),
             ("/d/S2_20230601/T32_20230601_B08.tif", "20230601", "B08", "T32"),
             ("/d/S2_20240601/T32_20240601_B04.tif", "20240601", "B04", "T32")],
            "path string, date string, band string, tile string")
        t = tiles.crossJoin(cat.select("path"))
        coll = ImageCollection(cat, t)
        assert len(coll) == 2  # two (tile, date) captures
        f = coll.filter(date_ranges=("2024-01-01", None))
        assert len(f) == 1
        assert f.tiles.count() == tiles.count()  # one path left
        got = {r["band"]: r for r in coll.groupby(["band"]).merge("mean")
               .select("band").distinct().collect()}
        want = collection_groupby_merge(cat, t, by=["band"], how="mean")
        assert set(got) == {"B04", "B08"}
        assert want.count() == coll.groupby(["band"]).merge("mean").count()
        # band() narrows tiles through the catalog
        assert coll.band("B08").tiles.count() == tiles.count()


class TestNetworkAnalysisFacade:
    def test_runs_and_log(self, spark):
        from sgspark.io import wkt_to_wkb_df
        from sgspark.network import (NetworkAnalysis, NetworkAnalysisRules,
                                     od_cost_matrix, make_node_ids)
        # chain 0-10-20-30 plus a spur
        lines = wkt_to_wkb_df(spark.createDataFrame(
            [(1, "LINESTRING (0 0, 10 0)"), (2, "LINESTRING (10 0, 20 0)"),
             (3, "LINESTRING (20 0, 30 0)"), (4, "LINESTRING (10 0, 10 15)")],
            "lid int, geometry_wkt string"))
        nwa = NetworkAnalysis(lines, NetworkAnalysisRules(
            weight="length", search_tolerance=5.0), detailed_log=True)
        origins = spark.createDataFrame([(1, "0.0_0.0")], ["oid", "node"])
        dests = spark.createDataFrame(
            [(1, "30.0_0.0"), (2, "10.0_15.0")], ["did", "node"])
        od = nwa.od_cost_matrix(origins, dests).toPandas() \
            .set_index("did")["cost"]
        assert od[1] == 30.0 and od[2] == 25.0
        # matches the bare function on the same prepared edges
        e = make_node_ids(lines)
        bare = od_cost_matrix(e, origins, dests).toPandas() \
            .set_index("did")["cost"]
        assert dict(od) == dict(bare)
        # log rows accumulate with stats
        r = nwa.get_route(origins, dests)
        assert r.count() > 0
        sa = nwa.service_area(origins, 15.0)
        assert sa.count() >= 2
        assert list(nwa.log["method"]) == ["od_cost_matrix", "get_route",
                                           "service_area"]
        assert nwa.log.iloc[0]["cost_mean"] == 27.5
        assert nwa.log.iloc[0]["origins_count"] == 1
        assert "weight" in nwa.log.columns  # detailed_log
        # graph cache: same rules hash -> same prepared DataFrame object
        assert nwa._edges() is nwa._edges()
        nwa.rules.weight = "length"  # unchanged -> still cached
        assert nwa._edges() is nwa._edges()

    def test_log_off_pulls_no_result(self, spark, monkeypatch):
        """log=False computes no log statistics, so no method brings its
        result to the driver."""
        from sgspark.io import wkt_to_wkb_df
        from sgspark.network import NetworkAnalysis
        lines = wkt_to_wkb_df(spark.createDataFrame(
            [(1, "LINESTRING (0 0, 10 0)"), (2, "LINESTRING (10 0, 20 0)")],
            "lid int, geometry_wkt string"))
        nwa = NetworkAnalysis(lines, {"weight": "length"}, log=False)
        origins = spark.createDataFrame([(1, "0.0_0.0")], ["oid", "node"])
        dests = spark.createDataFrame([(1, "20.0_0.0")], ["did", "node"])

        def no_pull(self):
            raise AssertionError("toPandas ran with log=False")

        # the concrete DataFrame class (pyspark.sql.DataFrame is its base)
        monkeypatch.setattr(type(origins), "toPandas", no_pull)
        od = nwa.od_cost_matrix(origins, dests)
        sa = nwa.service_area(origins, 15.0)
        monkeypatch.undo()
        assert [r.cost for r in od.collect()] == [20.0]
        assert sa.count() >= 2
        assert len(nwa.log) == 0

    def test_snapping_with_tolerance(self, spark):
        from sgspark.io import wkt_to_wkb_df
        from sgspark.network import NetworkAnalysis
        lines = wkt_to_wkb_df(spark.createDataFrame(
            [(1, "LINESTRING (0 0, 10 0)"), (2, "LINESTRING (10 0, 20 0)")],
            "lid int, geometry_wkt string"))
        nwa = NetworkAnalysis(lines, {"weight": "length",
                                      "search_tolerance": 5.0})
        # point origins/destinations snap to nearest node within tolerance
        origins = wkt_to_wkb_df(spark.createDataFrame(
            [(7, "POINT (1 2)")], "pid int, geometry_wkt string"))
        dests = wkt_to_wkb_df(spark.createDataFrame(
            [(8, "POINT (19 -1)"), (9, "POINT (10 300)")],
            "pid int, geometry_wkt string"))
        od = nwa.od_cost_matrix(origins, dests).toPandas()
        # pid 9 is beyond search_tolerance -> no row; pid 8 snaps to 20_0
        assert set(od["did"]) == {8}
        assert od.iloc[0]["cost"] == 20.0

    def test_rules_validation(self, spark):
        from sgspark.io import wkt_to_wkb_df
        from sgspark.network import NetworkAnalysis
        lines = wkt_to_wkb_df(spark.createDataFrame(
            [(1, "LINESTRING (0 0, 10 0)")], "lid int, geometry_wkt string"))
        nwa = NetworkAnalysis(lines, {"weight": "minutes"})
        with pytest.raises(ValueError, match="minutes"):
            nwa._edges()
