"""Round-5 regression tests: ADVICE r4 fixes + directive work.

Covers:
  - wkb_gtype_col / wkb_gtype full-uint32 decode (ISO 3D/M codes, EWKB
    flags, big-endian) — ADVICE r4 #1
  - min-plus shortcut budget honored on the FIRST doubling — ADVICE r4 #3
"""
import struct

import pytest
from pyspark.sql import functions as F


def _wkb_point(x, y, code=1, byteorder="<"):
    """Hand-rolled WKB point with an arbitrary type code in the header."""
    bom = b"\x01" if byteorder == "<" else b"\x00"
    return bom + struct.pack(byteorder + "I", code) + struct.pack(
        byteorder + "dd", x, y)


class TestWkbGtypeDecode:
    CASES = [
        (1, 1), (3, 3), (6, 6),            # plain ISO 2D
        (1001, 1), (1003, 3), (2003, 3),   # ISO Z / M offsets
        (3006, 6),                          # ISO ZM multipolygon
        (0x80000003, 3),                    # EWKB Z flag
        (0x40000001, 1),                    # EWKB M flag
        (0xC0000006, 6),                    # EWKB ZM
    ]

    def test_python_twin(self):
        from sgspark.geom.wkb import wkb_gtype
        for code, want in self.CASES:
            assert wkb_gtype(_wkb_point(1, 2, code)) == want, hex(code)
            assert wkb_gtype(_wkb_point(1, 2, code, ">")) == want, hex(code)
        assert wkb_gtype(None) == 1
        assert wkb_gtype(b"\x01") == 1

    def test_jvm_column_matches_python(self, spark):
        from sgspark.geometry_types import wkb_gtype_col
        rows = []
        for code, want in self.CASES:
            rows.append((_wkb_point(1, 2, code), want))
            rows.append((_wkb_point(1, 2, code, ">"), want))
        df = spark.createDataFrame(rows, "geometry binary, want int")
        got = df.select(wkb_gtype_col("geometry").alias("got"),
                        "want").collect()
        for r in got:
            assert r["got"] == r["want"]

    def test_null_and_short(self, spark):
        from sgspark.geometry_types import wkb_gtype_col
        df = spark.createDataFrame([(None,), (b"\x01",)],
                                   "geometry binary")
        vals = [r[0] for r in
                df.select(wkb_gtype_col("geometry")).collect()]
        assert vals == [1, 1]


class TestSrpSaltedBuckets:
    def test_salted_pair_sets_identical_on_hot_bucket(self, spark):
        """VERDICT r4 #2: SRP-LSH bucket self-joins are salted like simhash
        bands.  Fixture: 40 near-identical embeddings -> ONE hot bucket in
        every table.  The salted path (max_bucket=5) must produce the same
        pairs as unsalted, for both near-dups and top-k."""
        import numpy as np
        import pandas as pd
        from sgspark.vecops import (embedding_near_dups, cosine_topk_lsh,
                                    _salted_bucket_pairs)

        rng = np.random.RandomState(3)
        base = rng.uniform(-1, 1, 8)
        rows = [(int(i), (base + rng.uniform(-1e-3, 1e-3, 8)).tolist())
                for i in range(40)]
        vecs = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

        nd_plain = embedding_near_dups(
            vecs, 0.99, exact=False, n_bits=2, n_tables=4,
            max_bucket=1_000_000)
        nd_salt = embedding_near_dups(
            vecs, 0.99, exact=False, n_bits=2, n_tables=4, max_bucket=5)
        p = {tuple(r) for r in nd_plain.collect()}
        s = {tuple(r) for r in nd_salt.collect()}
        assert p == s and len(p) == 40 * 39 // 2  # all near-identical

        tk_plain = cosine_topk_lsh(vecs, 3, n_bits=2, n_tables=4,
                                   max_bucket=1_000_000)
        tk_salt = cosine_topk_lsh(vecs, 3, n_bits=2, n_tables=4,
                                  max_bucket=5)
        assert ({tuple(r) for r in tk_plain.collect()} ==
                {tuple(r) for r in tk_salt.collect()})

        # the salted build side really is bounded: no (bucket, salt) key
        # carries more than ~max_bucket probe rows
        bucketed = spark.createDataFrame(
            [(int(i), "hot") for i in range(40)], "a long, bucket string")
        counts = (bucketed
                  .join(bucketed.groupBy("bucket").count(), "bucket")
                  .withColumn("_s", F.ceil(F.col("count") / F.lit(5)))
                  .select(F.pmod(F.xxhash64(F.col("a")), F.col("_s"))
                          .alias("salt"))
                  .groupBy("salt").count().agg(F.max("count")).first()[0])
        assert counts <= 2 * 5  # hash-balanced probe keys


class TestSingleScanCheckpoint:
    def test_fresh_run_reads_input_once(self, spark, tmp_path):
        """VERDICT r4 #4: run_checkpointed must read the input O(1) times,
        not O(n_buckets).  The source is instrumented with an accumulator
        that counts every row materialization: after a fresh 8-bucket run
        the count must equal n_rows (one scan), not ~(2*8+1)*n_rows."""
        from sgspark.checkpoint import run_checkpointed, read_result, metrics

        n = 400
        acc = spark.sparkContext.accumulator(0)

        def counting_gen(batches):
            import pandas as pd
            for pdf in batches:
                acc.add(len(pdf))
                yield pd.DataFrame({"k": pdf["id"],
                                    "v": pdf["id"] * 2})

        src = spark.range(0, n, 1, 4).mapInPandas(
            counting_gen, schema="k long, v long")

        executed = run_checkpointed(
            spark, src, lambda df: df.withColumn("w", F.col("v") + 1),
            key_col="k", path=str(tmp_path / "ckpt"), job_id="j1",
            n_buckets=8)
        assert executed == 8
        # one materialization (the persist-backed fingerprint pass); allow
        # a little slack for a lost cached block being recomputed, but the
        # old behavior (~17 scans) must be far out of range
        assert acc.value <= 2 * n, acc.value

        out = read_result(spark, str(tmp_path / "ckpt"))
        assert out.count() == n
        m = metrics(spark, str(tmp_path / "ckpt"))
        rows = m.agg(F.sum("rows_in"), F.sum("rows_out")).first()
        assert rows[0] == n and rows[1] == n

        # resume: a second run with identical input executes 0 buckets
        acc2_before = acc.value
        executed2 = run_checkpointed(
            spark, src, lambda df: df.withColumn("w", F.col("v") + 1),
            key_col="k", path=str(tmp_path / "ckpt"), job_id="j1",
            n_buckets=8)
        assert executed2 == 0
        # the resume probe costs at most one more scan (the fingerprint)
        assert acc.value - acc2_before <= n


def _poly_df(spark, wkts, ids=None, extra=None):
    from sgspark.geom.wkb import from_wkt, to_wkb
    import pandas as pd
    ga = from_wkt(wkts)
    b = ga.bounds()
    pdf = pd.DataFrame({
        "pid": ids if ids is not None else list(range(len(wkts))),
        "geometry": [bytearray(w) for w in to_wkb(ga)],
        "minx": b[:, 0], "miny": b[:, 1], "maxx": b[:, 2], "maxy": b[:, 3]})
    if extra:
        for k, v in extra.items():
            pdf[k] = v
    return spark.createDataFrame(pdf)


class TestByClusterWrappers:
    WKTS = [  # two overlapping pairs + one isolated square
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
        "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",
        "POLYGON ((10 0, 12 0, 12 2, 10 2, 10 0))",
        "POLYGON ((11 1, 13 1, 13 3, 11 3, 11 1))",
        "POLYGON ((20 0, 21 0, 21 1, 20 1, 20 0))",
    ]

    def _areas(self, df):
        from sgspark.geom.wkb import from_wkb
        blobs = [r["geometry"] for r in df.select("geometry").collect()]
        return sorted(round(float(a), 6) for a in from_wkb(blobs).area())

    def test_diss_by_cluster_equals_diss(self, spark):
        from sgspark.dissolve import diss, diss_by_cluster, dissexp
        df = _poly_df(spark, self.WKTS, extra={"cat": ["a"] * 5})
        by_cluster = diss_by_cluster(df.drop("cat"), id_col="pid",
                                     gridsize=2.0)
        plain = dissexp(df.drop("cat"))
        # per-connected-component areas must match the exploded dissolve
        assert self._areas(by_cluster) == self._areas(plain)
        assert "cluster" not in by_cluster.columns

    def test_buffdissexp_by_cluster_equals_buffdissexp(self, spark):
        from sgspark.dissolve import buffdissexp, buffdissexp_by_cluster
        df = _poly_df(spark, self.WKTS)
        a = buffdissexp_by_cluster(df, 0.1, quad_segs=4, id_col="pid",
                                   gridsize=2.0)
        b = buffdissexp(df, 0.1, quad_segs=4)
        assert a.count() == b.count() == 3
        assert self._areas(a) == pytest.approx(self._areas(b), abs=1e-9)

    def test_clean_dissexp_merges_hairline_gap(self, spark):
        from sgspark.dissolve import clean_dissexp
        # two squares separated by a 1e-4 hairline: plain dissexp keeps 2
        # parts; clean_dissexp's expand/shrink welds them into one
        wkts = ["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
                "POLYGON ((1.0001 0, 2 0, 2 1, 1.0001 1, 1.0001 0))"]
        df = _poly_df(spark, wkts)
        from sgspark.dissolve import dissexp
        assert dissexp(df.select("geometry")).count() == 2
        out = clean_dissexp(df.select("geometry"), precision=1e-3)
        assert out.count() == 1
        area = self._areas(out)[0]
        assert area == pytest.approx(2.0001, abs=5e-3)


class TestGeomTypeHelpers:
    def test_get_geom_type(self, spark):
        from sgspark.geometry_types import get_geom_type, is_single_geom_type
        polys = _poly_df(spark, ["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
                                 "MULTIPOLYGON (((2 0, 3 0, 3 1, 2 1, 2 0)))"])
        assert get_geom_type(polys) == "polygon"
        assert is_single_geom_type(polys)
        lines = _poly_df(spark, ["LINESTRING (0 0, 1 1)"])
        assert get_geom_type(lines) == "line"
        pts = _poly_df(spark, ["POINT (0 0)", "MULTIPOINT (1 1, 2 2)"])
        assert get_geom_type(pts) == "point"
        mixed = _poly_df(spark, ["POINT (0 0)", "LINESTRING (0 0, 1 1)"])
        assert get_geom_type(mixed) == "mixed"
        assert not is_single_geom_type(mixed)
        # NULL geometries are family-neutral (reference None-in-list)
        withnull = polys.withColumn(
            "geometry", F.when(F.col("pid") == 0, F.col("geometry")))
        assert get_geom_type(withnull) == "polygon"


class TestNetworkAdditions:
    def _lines(self, spark):
        from sgspark.io import wkt_to_wkb_df
        import pandas as pd
        return wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
            "lid": [1, 2, 3],
            "geometry_wkt": ["LINESTRING (0 0, 100 0)",
                             "LINESTRING (105 0, 200 0)",
                             "LINESTRING (0 50, 10 60, 0 50)"]})))

    def test_edge_cols(self, spark):
        from sgspark.network import make_edge_coords_cols, make_edge_wkt_cols
        lines = self._lines(spark)
        cc = {r["lid"]: (r["source_coords"], r["target_coords"])
              for r in make_edge_coords_cols(lines).collect()}
        assert cc[1] == ([0.0, 0.0], [100.0, 0.0])
        assert cc[3][0] == cc[3][1] == [0.0, 50.0]
        ww = {r["lid"]: (r["source_wkt"], r["target_wkt"])
              for r in make_edge_wkt_cols(lines).collect()}
        assert ww[1] == ("POINT (0.0 0.0)", "POINT (100.0 0.0)")

    def test_split_out_circles(self, spark):
        from sgspark.network import split_out_circles
        open_l, circles = split_out_circles(self._lines(spark))
        assert {r["lid"] for r in open_l.collect()} == {1, 2}
        assert {r["lid"] for r in circles.collect()} == {3}

    def test_close_network_holes_to_deadends(self, spark):
        from sgspark.network import (close_network_holes_to_deadends,
                                     make_node_ids)
        edges = make_node_ids(self._lines(spark).where("lid < 3"))
        out = close_network_holes_to_deadends(edges, 10.0)
        fills = out.where("hole_fill").collect()
        # mutually-nearest deadends -> BOTH directions, like the reference
        assert len(fills) == 2
        assert all(r["length"] == pytest.approx(5.0) for r in fills)
        assert close_network_holes_to_deadends(edges, 5.0) \
            .where("hole_fill").count() == 0  # strict <
        assert out.where("NOT hole_fill").count() == 2

    def test_make_directed_network_norway(self, spark):
        import pandas as pd
        from sgspark.network import make_directed_network_norway
        edges = spark.createDataFrame(pd.DataFrame({
            "source": ["A", "B", "C"], "target": ["B", "C", "A"],
            "oneway": ["B", "FT", "TF"],
            "length": [1000.0, 2000.0, 3000.0],
            "drivetime_fw": [1.2, 2.4, -1.0],
            "drivetime_bw": [1.2, -1.0, 3.6]}))
        out = make_directed_network_norway(edges).collect()
        got = sorted((r["source"], r["target"], r["minutes"]) for r in out)
        assert got == [("A", "B", 1.2), ("A", "C", 3.6),
                       ("B", "A", 1.2), ("B", "C", 2.4)]


class TestSplitAndEliminate:
    def test_sliver_absorbed_by_longest_border(self, spark):
        from sgspark.cleaning import split_and_eliminate_by_longest
        # two keeper squares; one thin sliver strip spanning both along
        # their shared top edge -> split at the keeper border, each half
        # absorbed by the square below it
        keepers = _poly_df(spark, [
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"])
        sliver = _poly_df(spark, [
            "POLYGON ((0 10, 20 10, 20 11, 0 11, 0 10))"], ids=[99])
        out = split_and_eliminate_by_longest(
            keepers, sliver, tolerance=1.0, id_col="pid", gridsize=5.0)
        rows = out.where(F.col("pid") >= 0)
        assert rows.count() == 2
        from sgspark.geom.wkb import from_wkb
        blobs = [r["geometry"] for r in rows.collect()]
        areas = sorted(float(a) for a in from_wkb(blobs).area())
        # each keeper gained its 10x1 half of the sliver (split position
        # carries the extend_lines tolerance -> sub-1e-3 area noise)
        assert areas == pytest.approx([110.0, 110.0], abs=1e-3)
        assert sum(areas) == pytest.approx(220.0, abs=1e-4)
        # nothing left over
        assert out.where(F.col("pid") < 0).count() == 0


class TestShortcutBudgetFirstDoubling:
    def test_first_doubling_over_budget_returns_edges(self, spark):
        """With max_rows below the first-doubling row count, the
        pre-doubling relation (the edges themselves) must come back —
        no doubling accepted."""
        from sgspark.network import _min_plus_shortcuts
        edges = spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(20)], "u long, v long, w double"
        )
        T, hops, doublings = _min_plus_shortcuts(edges, max_rows=5)
        assert doublings == 0
        assert hops == 1
        # relation unchanged: same row count as input
        assert T.count() == 20
