"""Layer-algebra Erase/Clip/Union/SymDifference on harder inputs than the
oracle fixture: multipolygon subjects, holed subjects, erasers crossing
part boundaries, and cell-size invariance of the one candidate pass."""

import pytest

from gdal_spark.kernels import wkb as W
from gdal_spark.operators.overlay import (
    overlay_clip,
    overlay_erase,
    overlay_symdiff,
    overlay_union,
)


def _layer(spark, rows):
    from gdal_spark.session import local_df

    out = []
    for zid, polys in rows:
        wkb = W.polygon_wkb(polys[0]) if len(polys) == 1 else W.multipolygon_wkb(polys)
        area = sum(W.shoelace_area(W.polygon_wkb(p)) for p in polys)
        out.append((zid, f"z{zid}", float(area), wkb))
    return local_df(
        spark, out, "zone_id long, name string, area double, geometry binary"
    )


def _ring(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def test_erase_multipart_subject(spark):
    # two-part A crossed by one bar eraser: each part loses its strip
    a = _layer(spark, [(1, [[_ring(0, 0, 2, 2)], [_ring(4, 0, 6, 2)]])])
    b = _layer(spark, [(9, [[_ring(-1, 0.5, 7, 1.5)]])])
    rows = overlay_erase(a, b, cell=8.0).collect()
    assert len(rows) == 1
    assert abs(rows[0]["area"] - (8 - 2 * 2 * 1)) < 1e-9
    assert len(W.decode_polygons(bytes(rows[0]["geometry"]))) == 4


def test_erase_holed_subject(spark):
    # A has a hole; eraser overlaps part of the solid region
    a = _layer(spark, [(1, [[_ring(0, 0, 8, 8), _ring(3, 3, 5, 5)[::-1]]])])
    b = _layer(spark, [(9, [[_ring(-1, -1, 1, 9)]])])
    rows = overlay_erase(a, b, cell=16.0).collect()
    # 64 - 4 (hole) - 8 (1x8 strip inside A) = 52
    assert abs(rows[0]["area"] - 52.0) < 1e-9


def test_clip_drops_outside_feature(spark):
    a = _layer(
        spark,
        [(1, [[_ring(0, 0, 4, 4)]]), (2, [[_ring(100, 100, 104, 104)]])],
    )
    b = _layer(spark, [(9, [[_ring(2, 2, 10, 10)]])])
    rows = overlay_clip(a, b, cell=8.0).collect()
    assert [r["zone_id"] for r in rows] == [1]
    assert abs(rows[0]["area"] - 4.0) < 1e-9


def test_union_area_conservation(spark):
    # the three output pieces (a-only, b-only, a∩b) tile A ∪ B exactly
    a = _layer(spark, [(1, [[_ring(0, 0, 4, 4)]])])
    b = _layer(spark, [(9, [[_ring(2, 2, 6, 6)]])])
    rows = overlay_union(a, b, cell=8.0).collect()
    assert len(rows) == 3
    assert abs(sum(r["area"] for r in rows) - 28.0) < 1e-9


@pytest.mark.parametrize(
    "op", [overlay_erase, overlay_union, overlay_symdiff],
    ids=["erase", "union", "symdiff"],
)
def test_cell_size_invariance(spark, op):
    # erase covers a-side differences, union adds the pair pieces and the
    # b-side differences, symdiff both sides' differences without pieces
    a = _layer(
        spark,
        [(1, [[_ring(0, 0, 10, 10)]]), (2, [[_ring(20, 0, 26, 6)]])],
    )
    b = _layer(
        spark,
        [(11, [[_ring(2, 2, 6, 6)]]), (13, [[_ring(24, 4, 30, 10)]])],
    )
    outs = []
    for cell in (2.0, 16.0, 64.0):
        rows = sorted(
            # key columns (zone_id, or zone_a/zone_b with NULLs as -1),
            # then the rounded area
            tuple(-1 if v is None else v for v in r[:-2])
            + (round(r["area"], 9),)
            for r in op(a, b, cell=cell).collect()
        )
        outs.append(rows)
    assert outs[0] == outs[1] == outs[2]
