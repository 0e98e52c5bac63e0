"""Adjacent/touching-geometry robustness sweep (VERDICT r3 #4).

Real coverage data is wall-to-wall shared borders — exactly the input
class where the r3 arrangement kernel mis-assigned holes (coincident
boundaries).  Two layers:

* kernel-level Hypothesis: integer-lattice RECT + RIGHT-TRIANGLE
  arrangements through boolean_op — the set-algebra identities must hold
  exactly even when components share edges or are fully coincident;
* Spark-level deterministic: a wall-to-wall zone tiling through
  overlay_union / overlay_identity / cascaded_union — area conservation
  and partition identities.
"""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from gdal_spark.kernels import wkb as W
from gdal_spark.kernels.makevalid import boolean_op, make_valid


def _rect(x0, y0, w, h):
    return [[(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]]


def _tri(x0, y0, w, h, corner):
    """Right triangle = half of rect(x0,y0,w,h), hypotenuse by corner."""
    pts = {
        0: [(x0, y0), (x0 + w, y0), (x0, y0 + h)],
        1: [(x0 + w, y0), (x0 + w, y0 + h), (x0, y0)],
        2: [(x0 + w, y0 + h), (x0, y0 + h), (x0 + w, y0)],
        3: [(x0, y0 + h), (x0, y0), (x0 + w, y0 + h)],
    }[corner]
    return [pts + [pts[0]]]


def _area(polys):
    t = 0.0
    for rings in polys:
        for r in rings:
            a = 0.0
            for (x1, y1), (x2, y2) in zip(r, r[1:]):
                a += x1 * y2 - x2 * y1
            t += a / 2.0
    return t


shape = st.one_of(
    st.tuples(
        st.just("r"), st.integers(0, 6), st.integers(0, 6),
        st.integers(1, 4), st.integers(1, 4), st.just(0),
    ),
    st.tuples(
        st.just("t"), st.integers(0, 6), st.integers(0, 6),
        st.integers(1, 4), st.integers(1, 4), st.integers(0, 3),
    ),
)


def _mk(s):
    kind, x0, y0, w, h, c = s
    return _rect(x0, y0, w, h) if kind == "r" else _tri(x0, y0, w, h, c)


@settings(
    max_examples=120, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    st.lists(shape, min_size=1, max_size=3),
    st.lists(shape, min_size=1, max_size=3),
)
def test_inclusion_exclusion_rect_tri(sa, sb):
    A = [_mk(s) for s in sa]
    B = [_mk(s) for s in sb]
    a_area = _area(make_valid(A))
    b_area = _area(make_valid(B))
    inter = _area(boolean_op(A, B, "intersection"))
    union = _area(boolean_op(A, B, "union"))
    diff = _area(boolean_op(A, B, "difference"))
    sym = _area(boolean_op(A, B, "symdifference"))
    # tolerance: hypotenuse×hypotenuse intersection points are irrational
    # and the noding quantizes coordinates to 1e-9 (makevalid._Q), so
    # areas carry O(1e-9 × perimeter) quantization — unlike the
    # rect-only suite where every vertex is exact
    assert abs((inter + union) - (a_area + b_area)) < 1e-7
    assert abs(diff - (a_area - inter)) < 1e-7
    assert abs(sym - (union - inter)) < 1e-7


def test_coincident_component_intersection():
    """The exact r3 failure: one component of A identical to one of B —
    intersection must keep the shared rect whole (area 4), not emit it
    with itself as a hole (area 0)."""
    A = [_rect(0, 0, 3, 2), _rect(3, 0, 1, 2)]
    B = [_rect(0, 1, 2, 1), _rect(3, 0, 1, 2)]
    inter = boolean_op(A, B, "intersection")
    assert abs(_area(inter) - 4.0) < 1e-9
    # no zero-area annulus faces: every polygon's own area positive
    for rings in inter:
        assert _area([rings]) > 1e-9


def _tiling_rows(nx, ny, w=2.0, h=2.0):
    """Wall-to-wall nx x ny rect zones — every interior border shared."""
    rows = []
    zid = 1
    for j in range(ny):
        for i in range(nx):
            x0, y0 = i * w, j * h
            wkb = W.polygon_wkb(
                [[(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h),
                  (x0, y0)]]
            )
            rows.append((zid, f"z{zid}", float(w * h), wkb))
            zid += 1
    return rows


@pytest.fixture(scope="module")
def tiling_ab(spark):
    from gdal_spark.session import local_df

    schema = "zone_id int, name string, area double, geometry binary"
    # A: 3x2 tiling on cell 2; B: 2x2 tiling offset by one cell so its
    # borders land ON A's borders and one B zone coincides with an A zone
    a = local_df(spark, _tiling_rows(3, 2), schema)
    brows = _tiling_rows(2, 2)
    # shift B right by one cell width (2.0): B covers x in [2,6]
    shifted = []
    for zid, name, area, _ in brows:
        i = (zid - 1) % 2
        j = (zid - 1) // 2
        x0, y0 = 2.0 + i * 2.0, j * 2.0
        shifted.append(
            (100 + zid, name, area,
             W.polygon_wkb([[(x0, y0), (x0 + 2, y0), (x0 + 2, y0 + 2),
                             (x0, y0 + 2), (x0, y0)]]))
        )
    b = local_df(spark, shifted, schema)
    return a, b


def test_overlay_union_area_conservation(spark, tiling_ab):
    """Union pieces tile A∪B exactly: their areas sum to 24+16-16=24
    (A covers [0,6]x[0,4]=24, B covers [2,6]x[0,4]=16, fully inside A)."""
    from gdal_spark.operators.overlay import overlay_union

    a, b = tiling_ab
    pieces = overlay_union(a, b, cell=2.0).collect()
    total = sum(r["area"] for r in pieces)
    assert abs(total - 24.0) < 1e-9
    # the a∩b pieces alone must cover area(B)=16 (B inside A), and every
    # coincident-zone pair (a zone identical to a b zone) keeps full area
    inter_total = sum(
        r["area"] for r in pieces
        if r["zone_a"] is not None and r["zone_b"] is not None
    )
    assert abs(inter_total - 16.0) < 1e-9


def test_overlay_identity_partitions_a(spark, tiling_ab):
    """Identity pieces partition each a-feature exactly (shared borders
    must not drop or double-count slivers): pairwise a∩b pieces plus
    a-minus-b remainders (ogrlayer.cpp:4730)."""
    from gdal_spark.operators.overlay import overlay_identity

    a, b = tiling_ab
    out = overlay_identity(a, b, cell=2.0)
    per_a = (
        out.groupBy("zone_a").agg(F.sum("area").alias("s")).collect()
    )
    got = {r["zone_a"]: r["s"] for r in per_a}
    for zid in range(1, 7):
        assert abs(got[zid] - 4.0) < 1e-9, (zid, got)


def test_cascaded_union_wall_to_wall(spark):
    """Dissolving a wall-to-wall tiling yields ONE rect of the full
    extent — interior shared borders must vanish, nothing lost."""
    from gdal_spark.operators.geom import cascaded_union
    from gdal_spark.session import local_df

    df = local_df(
        spark, _tiling_rows(4, 3),
        "zone_id int, name string, area double, geometry binary",
    )
    out = cascaded_union(df).collect()
    assert len(out) == 1
    polys = W.decode_polygons(bytes(out[0]["geometry"]))
    # single outer ring, no holes, area 8x6
    assert len(polys) == 1
    assert len(polys[0]) == 1
    assert abs(_area(polys) - 48.0) < 1e-9


def test_simplify_coverage_preserves_partition(spark):
    """Coverage simplification on adjacent zones keeps the partition:
    per-zone areas unchanged for an already-minimal rect tiling (output
    is the simplified ring vertex table)."""
    from gdal_spark.operators.coverage import simplify_coverage
    from gdal_spark.session import local_df

    df = local_df(
        spark, _tiling_rows(3, 2),
        "zone_id int, name string, area double, geometry binary",
    )
    rows = simplify_coverage(df, 0.5).collect()
    rings: dict = {}
    for r in rows:
        rings.setdefault((r["zone_id"], r["ring_idx"]), []).append(
            (r["vidx"], r["x"], r["y"])
        )
    areas: dict = {}
    for (zid, _ri), vs in rings.items():
        vs.sort()
        pts = [(x, y) for _, x, y in vs]
        if pts[0] != pts[-1]:
            pts.append(pts[0])
        a = 0.0
        for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
            a += x1 * y2 - x2 * y1
        areas[zid] = areas.get(zid, 0.0) + a / 2.0
    for zid in range(1, 7):
        assert abs(abs(areas[zid]) - 4.0) < 1e-9, (zid, areas)
