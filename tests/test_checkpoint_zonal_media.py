"""Checkpoint/resume, zonal statistics, multimodal plumbing."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sgspark.checkpoint import (metrics, read_result, run_checkpointed)
from sgspark.io import wkt_to_wkb_df
from sgspark.media import decode_and_featurize, fetch_media, media_refs
from sgspark.zonal import raster_to_points, synth_raster_tiles, zonal_stats


def test_checkpoint_resume_equals_fresh(spark, tmp_path):
    inp = spark.range(1000).withColumn("v", F.col("id") * 2)

    def transform(df):
        return df.withColumn("out", F.col("v") + 1)

    fresh = str(tmp_path / "fresh")
    n = run_checkpointed(spark, inp, transform, key_col="id", path=fresh,
                         job_id="j1", n_buckets=6)
    assert n == 6
    want = read_result(spark, fresh).orderBy("id").toPandas()

    # killed run: only 2 buckets execute, then resume
    part = str(tmp_path / "partial")
    n1 = run_checkpointed(spark, inp, transform, key_col="id", path=part,
                          job_id="j1", n_buckets=6, max_buckets=2)
    assert n1 == 2
    n2 = run_checkpointed(spark, inp, transform, key_col="id", path=part,
                          job_id="j1", n_buckets=6)
    assert n2 == 4
    got = read_result(spark, part).orderBy("id").toPandas()
    assert got.equals(want)
    # idempotent: third run does nothing
    assert run_checkpointed(spark, inp, transform, key_col="id", path=part,
                            job_id="j1", n_buckets=6) == 0
    m = metrics(spark, part).toPandas()
    assert len(m) == 6
    assert m.rows_in.sum() == 1000
    assert set(m.columns) >= {"job_id", "bucket", "rows_in", "rows_out",
                              "wall_sec", "input_fingerprint"}


def test_checkpoint_input_change_triggers_rerun(spark, tmp_path):
    path = str(tmp_path / "ck")
    inp1 = spark.range(100)
    run_checkpointed(spark, inp1, lambda d: d, key_col="id", path=path,
                     job_id="j", n_buckets=4)
    inp2 = spark.range(120)  # fingerprints differ for touched buckets
    n = run_checkpointed(spark, inp2, lambda d: d, key_col="id", path=path,
                         job_id="j", n_buckets=4)
    assert n > 0
    assert read_result(spark, path).count() == 120


def test_zonal_stats_matches_numpy(spark):
    tiles = synth_raster_tiles(spark, 0.0, 0.0, 3000.0, 3000.0,
                               tile_size=1000.0, res=50.0).cache()
    # rectangle zone spanning multiple tiles
    zones = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "zone_id": [0, 1],
        "geometry_wkt": [
            "POLYGON ((210 210, 1790 210, 1790 1390, 210 1390, 210 210))",
            "POLYGON ((2100 2100, 2900 2100, 2900 2900, 2100 2900, 2100 2100))",
        ]})))
    got = zonal_stats(zones, tiles, gridsize=1000.0).orderBy("zone_id").toPandas()

    # numpy oracle over the full 60x60 grid
    res = 50.0
    c = (np.arange(60) + 0.5) * res
    V = np.sin(c[None, :] / 500.0) + np.cos(c[:, None] / 700.0)
    X = np.broadcast_to(c[None, :], (60, 60))
    Y = np.broadcast_to(c[:, None], (60, 60))
    for zid, (x0, y0, x1, y1) in enumerate(
            [(210, 210, 1790, 1390), (2100, 2100, 2900, 2900)]):
        m = (X > x0) & (X < x1) & (Y > y0) & (Y < y1)
        v = V[m]
        row = got[got.zone_id == zid].iloc[0]
        assert row["count"] == m.sum()
        assert row["sum"] == pytest.approx(v.sum(), rel=1e-12)
        assert row["min"] == pytest.approx(v.min())
        assert row["max"] == pytest.approx(v.max())
        assert row["mean"] == pytest.approx(v.mean(), rel=1e-12)


def test_raster_to_points(spark):
    tiles = synth_raster_tiles(spark, 0.0, 0.0, 1000.0, 1000.0,
                               tile_size=1000.0, res=100.0)
    pts = raster_to_points(tiles).toPandas()
    assert len(pts) == 100
    v = pts[(pts.x == 50.0) & (pts.y == 50.0)].value.iloc[0]
    assert v == pytest.approx(np.sin(50 / 500) + np.cos(50 / 700))


def test_media_pipeline(docs500):
    refs = media_refs(docs500)
    n_img = refs.count()
    out = decode_and_featurize(fetch_media(refs))
    pdf = out.toPandas()
    assert len(pdf) == n_img
    if len(pdf):
        assert set(pdf.media_kind) == {"image"}
        assert all(len(f) == 16 for f in pdf.features)
        # deterministic: same ref -> same features
        out2 = decode_and_featurize(fetch_media(refs)).toPandas()
        a = pdf.sort_values(["doc_index", "span_pos"]).reset_index(drop=True)
        b = out2.sort_values(["doc_index", "span_pos"]).reset_index(drop=True)
        assert (a.width == b.width).all()
        assert all(np.allclose(x, y) for x, y in zip(a.features, b.features))


def test_frame_sample_and_audio_windows(spark, docs500):
    from sgspark.media import audio_windows, fetch_media, frame_sample, media_refs
    media = fetch_media(media_refs(docs500).limit(20))
    frames = frame_sample(media, n_frames=3)
    rows = frames.collect()
    assert len(rows) == 3 * media.count()
    # deterministic across partitionings
    rows2 = frame_sample(media.repartition(7), n_frames=3).collect()
    key = lambda r: (r.doc_id, r.span_pos, r.frame_idx)
    assert sorted((key(r), tuple(r.features)) for r in rows) == \
        sorted((key(r), tuple(r.features)) for r in rows2)
    aw = audio_windows(media, n_windows=4).collect()
    assert len(aw) == 4 * media.count()
    assert all(0.0 <= r.energy <= 1.0 for r in aw)


def test_zonal_misaligned_tiles(spark):
    """A tile larger than the zonal gridsize and not grid-aligned must still
    contribute pixels that fall in a polygon overlapping only its far
    corner."""
    # one 2000x2000 tile anchored at (250, 250), res 100 -> 400 pixels
    n = 20
    vals = np.ones(n * n)
    tiles = spark.createDataFrame(pd.DataFrame({
        "tile_id": ["t0"], "x0": [250.0], "y0": [250.0], "res": [100.0],
        "nx": [n], "ny": [n], "values": [vals.tolist()]}))
    # polygon over the tile's FAR corner (around (2250, 2250)), far from the
    # tile's centre cell under gridsize=1000
    poly = pd.DataFrame({
        "zone_id": [7],
        "geometry_wkt": ["POLYGON ((2000 2000, 2260 2000, 2260 2260, 2000 2260, "
                "2000 2000))"]})
    p = wkt_to_wkb_df(spark.createDataFrame(poly))
    got = zonal_stats(p, tiles, id_col="zone_id", gridsize=1000.0).collect()
    assert len(got) == 1
    # oracle: pixel centers at 250 + (i+0.5)*100 inside [2000, 2260]
    px = 250 + (np.arange(n) + 0.5) * 100
    inside = (px >= 2000) & (px <= 2260)
    want = int(inside.sum()) ** 2
    assert got[0]["count"] == want
