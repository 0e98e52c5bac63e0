"""Overlay / rect-clip: Sutherland-Hodgman exactness on non-axis-aligned
and holed geometries (the axis-aligned fishnet family is oracle-checked
by the driver; this covers what the SQL oracle can't)."""

import numpy as np
from pyspark.sql import functions as F

from gdal_spark.kernels import clip as CL
from gdal_spark.kernels import wkb as W
from gdal_spark.operators.overlay import clip_rect, fishnet_overlay
from gdal_spark.operators.zones import zones_df

TRI = ((139.5901, 35.5801), (139.7901, 35.5801), (139.6901, 35.7801))
TRI_AREA = 0.5 * (139.7901 - 139.5901) * (35.7801 - 35.5801)


def test_clip_triangle_halfplane():
    polys = W.decode_polygons(W.polygon_wkb([list(TRI)]))
    # rect containing the whole triangle -> full area
    a_full, _ = CL.clip_polygons_rect(polys, 139.0, 35.0, 140.0, 36.0)
    assert abs(a_full - TRI_AREA) < 1e-12
    # rect covering exactly the left half (cut through the apex x)
    a_half, parts = CL.clip_polygons_rect(polys, 139.0, 35.0, 139.6901, 36.0)
    assert abs(a_half - TRI_AREA / 2) < 1e-11
    # clipped ring is a valid polygon with 3 vertices (right edge cuts
    # through apex + base midpoint)
    assert len(parts) == 1 and len(parts[0][0]) == 3 and parts[0][1] == []


def test_clip_holed_and_multi():
    outer = [(-46.8, -23.7), (-46.4, -23.7), (-46.4, -23.4), (-46.8, -23.4)]
    hole = [(-46.7, -23.6), (-46.6, -23.6), (-46.6, -23.5), (-46.7, -23.5)]
    polys = W.decode_polygons(W.polygon_wkb([outer, hole]))
    # rect covering the left half: outer half minus hole half
    a, _ = CL.clip_polygons_rect(polys, -47.0, -24.0, -46.65, -23.0)
    expect = (0.15 * 0.3) - (0.05 * 0.1)
    assert abs(a - expect) < 1e-12
    # rect fully inside the hole -> zero
    a0, parts0 = CL.clip_polygons_rect(polys, -46.69, -23.59, -46.61, -23.51)
    assert a0 == 0.0
    # the surviving left-half part keeps its hole attached to its outer
    a1, parts1 = CL.clip_polygons_rect(polys, -47.0, -24.0, -46.65, -23.0)
    assert len(parts1) == 1 and len(parts1[0][1]) == 1
    buf = CL.parts_wkb(parts1)
    assert abs(W.shoelace_area(buf) - a1) < 1e-12


def test_clip_multipart_zone_105(spark):
    """A rect spanning BOTH parts of the delhi_multi multipolygon must
    come back as a MULTIPOLYGON whose decoded area equals the area
    column (regression: rings used to flatten into one POLYGON where
    part 2's outer was read back as a hole)."""
    z = zones_df(spark).filter(F.col("zone_id") == 105)
    out = clip_rect(z, 76.0, 28.0, 78.0, 29.0).collect()  # spans both rects
    assert len(out) == 1
    buf = bytes(out[0]["wkb"])
    polys = W.decode_polygons(buf)
    assert len(polys) == 2  # two parts, not one polygon with a phantom hole
    assert abs(W.shoelace_area(buf) - out[0]["area"]) < 1e-10
    expect = (77.3001 - 77.1001) * (28.7101 - 28.5001) + (
        77.0501 - 76.9001
    ) * (28.4501 - 28.3001)
    assert abs(out[0]["area"] - expect) < 1e-12


def test_clip_rect_operator(spark):
    z = zones_df(spark).filter(F.col("zone_id") == 103)  # triangle
    out = clip_rect(z, 139.0, 35.0, 139.6901, 36.0).collect()
    assert len(out) == 1
    assert abs(out[0]["area"] - TRI_AREA / 2) < 1e-11
    # returned WKB parses and its shoelace area matches
    assert abs(W.shoelace_area(bytes(out[0]["wkb"])) - TRI_AREA / 2) < 1e-11


def test_fishnet_triangle_total_area(spark):
    """Fishnet pieces of the triangle tile it exactly: areas sum to the
    triangle area and each piece is within its cell."""
    z = zones_df(spark).filter(F.col("zone_id") == 103)
    rows = fishnet_overlay(z, 0.05, keep_wkb=True).collect()
    total = sum(r["area"] for r in rows)
    assert abs(total - TRI_AREA) < 1e-10
    for r in rows:
        minx, miny, maxx, maxy = W.envelope(bytes(r["wkb"]))
        assert minx >= r["fx"] * 0.05 - 1e-12
        assert maxx <= (r["fx"] + 1) * 0.05 + 1e-12
        assert miny >= r["fy"] * 0.05 - 1e-12
        assert maxy <= (r["fy"] + 1) * 0.05 + 1e-12


def test_polyclip_kernel_analytic():
    """General polygon x polygon intersection: concave, holed, and
    multipart method polygons against analytic areas."""
    from gdal_spark.kernels import polyclip as PC
    from gdal_spark.kernels.clip import parts_wkb

    sq = lambda x0, y0, x1, y1: np.array(
        [(x0, y0), (x1, y0), (x1, y1), (x0, y1)], float
    )
    big = [[sq(-1, -1, 4, 4)]]
    # concave L as method AND as subject
    L = [[np.array([(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3)], float)]]
    assert abs(PC.intersect_polygons(big, L)[0] - 5.0) < 1e-12
    assert abs(PC.intersect_polygons(L, big)[0] - 5.0) < 1e-12
    # holed method; holed subject
    holed = [[sq(0, 0, 4, 4), sq(1, 1, 3, 3)]]
    assert abs(PC.intersect_polygons(big, holed)[0] - 12.0) < 1e-12
    a, parts = PC.intersect_polygons(holed, [[sq(0, 0, 2, 0 + 4)]])
    assert abs(a - 6.0) < 1e-12
    # piece WKB decodes back to the same total area
    assert abs(W.shoelace_area(parts_wkb(parts)) - a) < 1e-12
    # multipart subject
    mp = [[sq(0, 0, 1, 1)], [sq(2, 0, 3, 1)]]
    a, parts = PC.intersect_polygons(mp, [[sq(0.5, 0, 2.5, 1)]])
    assert abs(a - 1.0) < 1e-12 and len(parts) == 2
    # triangle x rect (non-axis-aligned subject edge)
    tri = [[np.array([(0, 0), (2, 0), (1, 2)], float)]]
    assert abs(PC.intersect_polygons(tri, [[sq(0, 0, 2, 1)]])[0] - 1.5) < 1e-12


def test_overlay_intersection_operator(spark):
    """Triangle zone x shifted triangle zone: analytic self-overlap area
    (the engine query's oracle covers the axis-aligned zones; this
    covers the slanted-edge case SQL can't)."""
    from gdal_spark.operators.overlay import overlay_intersection
    from gdal_spark.operators.zones import shifted_zones_df

    z = zones_df(spark).filter(F.col("zone_id") == 103)
    b = shifted_zones_df(spark, 0.0, 0.0, [103])  # identity shift
    out = overlay_intersection(z, b, cell=0.5, keep_wkb=True).collect()
    assert len(out) == 1
    r = out[0]
    assert r["zone_a"] == 103 and r["zone_b"] == 103
    assert abs(r["area"] - TRI_AREA) < 1e-10
    assert abs(W.shoelace_area(bytes(r["wkb"])) - TRI_AREA) < 1e-10


CALLER_BBOX = ("minx", "miny", "maxx", "maxy")


def _with_caller_bbox(df):
    """df plus the caller's own (bogus) bbox columns."""
    return df.select("*", *[F.lit(-999.0).alias(c) for c in CALLER_BBOX])


def test_zone_envelopes_idempotent_and_single_probe(spark):
    """_zone_envelopes passes pre-enriched input through unchanged (the
    contract overlay_union relies on to attach envelopes once per side
    instead of once per composed primitive) and computes the same
    envelope either way. A caller's own minx..maxy columns do not count
    as enriched: they are kept and the true envelope is attached."""
    from gdal_spark.operators.pip_join import ENV_COLS, _zone_envelopes
    from gdal_spark.session import local_df

    df = local_df(
        spark,
        [(1, W.polygon_wkb([[(0, 0), (4, 0), (4, 3), (0, 3), (0, 0)]]))],
        "zone_id long, geometry binary",
    )
    once = _zone_envelopes(df)
    assert set(ENV_COLS) <= set(once.columns)
    twice = _zone_envelopes(once)
    assert twice is once  # enriched input short-circuits — no new probe job
    row = once.collect()[0]
    assert tuple(row[c] for c in ENV_COLS) == (0, 0, 4, 3)

    row = _zone_envelopes(_with_caller_bbox(df)).collect()[0]
    assert tuple(row[c] for c in ENV_COLS) == (0, 0, 4, 3)
    assert tuple(row[c] for c in CALLER_BBOX) == (-999.0,) * 4


def test_caller_bbox_columns_do_not_steer_join_or_overlay(spark):
    """Zones that carry unrelated minx..maxy columns give the same PIP
    join and fishnet overlay rows as clean zones, and the join keeps the
    caller's columns."""
    from gdal_spark.operators.pip_join import pip_join_broadcast
    from gdal_spark.session import local_df

    zones = zones_df(spark).filter(F.col("zone_id").isin(101, 103))
    bogus = _with_caller_bbox(zones)
    pages = local_df(
        spark,
        [("nyc", 40.7, -74.0), ("tokyo", 35.6, 139.69), ("sea", 0.0, 0.0)],
        "url string, lat double, lon double",
    )

    def pip(z):
        return sorted(
            (r["url"], r["zone_id"]) for r in pip_join_broadcast(pages, z).collect()
        )

    assert set(CALLER_BBOX) <= set(pip_join_broadcast(pages, bogus).columns)
    assert pip(bogus) == pip(zones) == [("nyc", 101), ("tokyo", 103)]

    def fishnet(z):
        return sorted(
            tuple(r) for r in fishnet_overlay(z.filter("zone_id = 103"), 0.05).collect()
        )

    clean = fishnet(zones)
    assert clean and fishnet(bogus) == clean


def test_zone_envelopes_udf_path_matches_driver_path(spark):
    """Past driver_threshold the pandas_udf path must produce the same
    envelopes as the driver-side path."""
    from gdal_spark.operators.pip_join import _zone_envelopes
    from gdal_spark.session import local_df

    rows = [
        (i, W.polygon_wkb([[(i, 0), (i + 2, 0), (i + 2, 5), (i, 5), (i, 0)]]))
        for i in range(6)
    ]
    df = local_df(spark, rows, "zone_id long, geometry binary")
    drv = {
        r["zone_id"]: (r["_env_minx"], r["_env_maxx"])
        for r in _zone_envelopes(df).collect()
    }
    udf = {
        r["zone_id"]: (r["_env_minx"], r["_env_maxx"])
        for r in _zone_envelopes(df, driver_threshold=2).collect()
    }
    assert drv == udf == {i: (float(i), float(i + 2)) for i in range(6)}
