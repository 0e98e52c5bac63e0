"""Tile pyramid + kNN operator tests (sf0.001 driver tables)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.kernels import mercator as M
from gdal_spark.operators import knn as KNN
from gdal_spark.operators import tiles as TI
from gdal_spark.operators.pages import pages_from_documents
from gdal_spark.operators.pip_join import pip_join_broadcast, pip_join_bucketed
from gdal_spark.operators.zones import zones_df


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return pages_from_documents(spark, sf_dir, keep_internal=True).cache()


def test_assign_tiles_matches_kernel(pages):
    rows = (
        TI.assign_tiles(pages.filter(F.col("lat").isNotNull()), 11)
        .select("lat", "lon", "tx", "ty")
        .collect()
    )
    lat = np.array([r["lat"] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    tx, ty_tms = M.latlon_to_tile(lat, lon, 11)
    _, ty_g = M.tms_to_google(tx, ty_tms, 11)
    assert (np.array([r["tx"] for r in rows]) == tx).all()
    assert (np.array([r["ty"] for r in rows]) == ty_g).all()


def test_pyramid_equals_direct_rasterize(pages):
    """Pyramid level z' reduced from z must equal direct rasterize at z'
    (overview.cpp 2x2 reduce semantics with additive counts)."""
    px8 = TI.rasterize_points(pages, 8)
    pyr = TI.pyramid_counts(px8, 6, 8)
    for z in (6, 7):
        got = (
            pyr.filter(F.col("zoom") == z)
            .orderBy("tx", "ty", "px", "py")
            .collect()
        )
        direct = (
            TI.rasterize_points(pages, z).orderBy("tx", "ty", "px", "py").collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in direct]


def test_tile_arrays_checksum(pages, spark):
    px = TI.rasterize_points(pages, 5)
    arrs = TI.tile_arrays(px).collect()
    assert arrs
    for r in arrs:
        t = np.array(r["tile"], dtype=np.int64)
        assert t.sum() > 0
        # checksum column matches recomputation
        from gdal_spark.kernels.checksum import checksum

        assert r["checksum"] == checksum(t.reshape(256, 256))
    # total burns == geo page count
    total = sum(int(np.sum(r["tile"])) for r in arrs)
    n_geo = pages.filter(F.col("lat").isNotNull()).count()
    assert total == n_geo


def test_knn_cells_matches_brute(spark, pages):
    queries = spark.createDataFrame(
        [(0, 40.7223, -74.0271), (1, 51.4783, -0.1061), (2, 35.7111, 139.6723)],
        "query_id int, qlat double, qlon double",
    )
    brute = {
        (r["query_id"], r["rank"]): r["url"]
        for r in KNN.knn_brute(pages, queries, 4).collect()
    }
    cells = {
        (r["query_id"], r["rank"]): r["url"]
        for r in KNN.knn_cells(pages, queries, 4, res=7, ring=3).collect()
    }
    assert brute == cells


def test_knn_brute_sample_bound_exact(spark, pages):
    """Threshold-refinement brute (sample_bound) must be EXACT: the
    sampled k-th distance is an upper bound on the true k-th distance,
    so no true neighbor is ever filtered."""
    queries = spark.createDataFrame(
        [(0, 40.7223, -74.0271), (1, 10.0171, -40.0213)],
        "query_id int, qlat double, qlon double",
    )
    plain = KNN.knn_brute(pages, queries, 5).collect()
    bounded = KNN.knn_brute(pages, queries, 5, sample_bound=0.3).collect()
    key = lambda rows: {(r["query_id"], r["rank"]): r["url"] for r in rows}
    assert key(plain) == key(bounded)


def test_pip_strategies_agree(spark, pages):
    z = zones_df(spark)
    a = {(r["url"], r["zone_id"]) for r in pip_join_broadcast(pages, z).collect()}
    b = {(r["url"], r["zone_id"]) for r in pip_join_bucketed(pages, z).collect()}
    c = {(r["url"], r["zone_id"]) for r in pip_join_bucketed(pages, z, salt=4).collect()}
    assert a == b == c
    assert len(a) > 0


def test_polygonize_8connected(spark):
    """8CONNECTED option (polygonize.cpp:87): two diagonal-touching
    squares are one component 8-connected, two components 4-connected."""
    from gdal_spark.operators.polygonize import component_summary, polygonize

    rows = []
    for px, py in [(10, 10), (11, 11)]:  # diagonal touch
        rows.append((8, 5, 5, px, py, 1))
    df = spark.createDataFrame(
        rows, "zoom int, tx long, ty long, px int, py int, value long"
    )
    four = component_summary(polygonize(df, zoom=8)).collect()
    eight = component_summary(polygonize(df, zoom=8, connect8=True)).collect()
    assert len(four) == 2
    assert len(eight) == 1
    assert eight[0]["n_pixels"] == 2


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
