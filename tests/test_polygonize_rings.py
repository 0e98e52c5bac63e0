"""Ring tracing vs the reference's own autotest WKT goldens
(/root/reference/autotest/alg/polygonize.py + data/*.grd), plus the
distributed polygonize_polygons operator (tile-crossing + merge fallback)
on seeded synthetic grids. The goldens skip where their inputs are absent.
"""

from __future__ import annotations

import random
from pathlib import Path

import pytest

from gdal_spark.kernels import rings as RG

DATA = Path("/root/reference/autotest/alg/data")


def needs_reference(*names):
    """Skip unless every named autotest input exists: the golden inputs
    live in the reference checkout and are not vendored here."""
    missing = [str(DATA / n) for n in names if not (DATA / n).exists()]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference input missing: {', '.join(missing)}"
    )


def read_grd(path):
    hdr, data = {}, []
    for ln in Path(path).read_text().splitlines():
        p = ln.split()
        if not p:
            continue
        if p[0][0].isalpha():
            hdr[p[0].lower()] = float(p[1])
        else:
            data.append([int(v) for v in p])
    gt = (
        hdr["xllcorner"], hdr["cellsize"], 0.0,
        hdr["yllcorner"] + hdr["nrows"] * hdr["cellsize"], 0.0, -hdr["cellsize"],
    )
    return gt, data


def components(grid, valid=lambda v: True, connect8=False):
    H, W = len(grid), len(grid[0])
    seen, comps = set(), []
    for r0 in range(H):
        for c0 in range(W):
            if not valid(grid[r0][c0]) or (r0, c0) in seen:
                continue
            v, px, stack = grid[r0][c0], set(), [(r0, c0)]
            while stack:
                r, c = stack.pop()
                if (r, c) in px or not (0 <= r < H and 0 <= c < W):
                    continue
                if not valid(grid[r][c]) or grid[r][c] != v:
                    continue
                px.add((r, c))
                stack += [(r - 1, c), (r + 1, c), (r, c - 1), (r, c + 1)]
                if connect8:
                    stack += [(r - 1, c - 1), (r - 1, c + 1),
                              (r + 1, c - 1), (r + 1, c + 1)]
            seen |= px
            comps.append((v, px))
    return comps


def wkt_of(pixset, gt):
    rings = RG.trace_rings(RG.boundary_edges(pixset))
    return RG.polygon_wkt(RG.rings_to_map(rings, gt))


@needs_reference("polygonize_in_3.grd")
def test_reference_golden_4conn_diag_holes():
    # autotest test_polygonize_5 (polygonize_in_3.grd): two holes touching
    # at a vertex stay SEPARATE rings
    gt, grid = read_grd(DATA / "polygonize_in_3.grd")
    got = {min(px): (v, wkt_of(px, gt)) for v, px in components(grid)}
    wkts = [w for _, (v, w) in sorted(got.items())]
    assert "POLYGON ((1 3,1 2,2 2,2 3,1 3))" in wkts
    assert "POLYGON ((2 2,2 1,3 1,3 2,2 2))" in wkts
    assert (
        "POLYGON ((0 4,0 0,4 0,4 4,0 4),(1 3,2 3,2 2,1 2,1 3),"
        "(2 2,3 2,3 1,2 1,2 2))" in wkts
    )


@needs_reference("polygonize_in_4.grd")
def test_reference_golden_4conn_antidiag_holes():
    # autotest test_polygonize_6 (polygonize_in_4.grd)
    gt, grid = read_grd(DATA / "polygonize_in_4.grd")
    wkts = [wkt_of(px, gt) for _, px in components(grid)]
    assert "POLYGON ((2 3,2 2,3 2,3 3,2 3))" in wkts
    assert "POLYGON ((1 2,1 1,2 1,2 2,1 2))" in wkts
    assert (
        "POLYGON ((0 4,0 0,4 0,4 4,0 4),(2 3,3 3,3 2,2 2,2 3),"
        "(1 2,2 2,2 1,1 1,1 2))" in wkts
    )


@needs_reference("polygonize_in_5_mask.grd")
def test_reference_golden_8conn_diamond():
    # autotest test_polygonize_8: masked diamond, 8-connected => ONE
    # feature whose outer ring zigzags through the diagonal touches
    gt, grid = read_grd(DATA / "polygonize_in_5_mask.grd")
    comps = [c for c in components(grid, valid=lambda v: v == 1, connect8=True)]
    assert len(comps) == 1
    assert wkt_of(comps[0][1], gt) == (
        "POLYGON ((1 4,1 3,0 3,0 1,1 1,1 0,3 0,3 1,4 1,4 3,3 3,3 4,1 4),"
        "(1 3,3 3,3 1,1 1,1 3))"
    )
    # 4-connected: four separate rectangles (same autotest case)
    comps4 = components(grid, valid=lambda v: v == 1, connect8=False)
    wkts4 = sorted(wkt_of(px, gt) for _, px in comps4)
    assert wkts4 == sorted([
        "POLYGON ((1 4,1 3,3 3,3 4,1 4))",
        "POLYGON ((0 3,0 1,1 1,1 3,0 3))",
        "POLYGON ((3 3,3 1,4 1,4 3,3 3))",
        "POLYGON ((1 1,1 0,3 0,3 1,1 1))",
    ])


@needs_reference("polygonize_in.grd", "polygonize_in_2.grd")
def test_reference_golden_masked_and_complex():
    # autotest test_polygonize_1 (13 masked features + holed golden) and
    # test_polygonize_3 (polygonize_in_2.grd: 125 features, complex loops)
    gt, grid = read_grd(DATA / "polygonize_in.grd")
    comps = components(grid, valid=lambda v: v != 132)
    assert len(comps) == 13
    all_comps = components(grid)
    assert (
        "POLYGON ((440720 3751200,440720 3751020,440900 3751020,"
        "440900 3751200,440720 3751200),(440780 3751140,440840 3751140,"
        "440840 3751080,440780 3751080,440780 3751140))"
        in [wkt_of(px, gt) for _, px in all_comps]
    )

    gt2, grid2 = read_grd(DATA / "polygonize_in_2.grd")
    comps2 = components(grid2)
    assert len(comps2) == 125
    zero = sorted((min(px), px) for v, px in comps2 if v == 0)[0][1]
    assert wkt_of(zero, gt2) == (
        "POLYGON ((6 -3,6 -40,19 -40,19 -39,25 -39,25 -38,27 -38,27 -37,"
        "28 -37,28 -36,29 -36,29 -35,30 -35,30 -34,31 -34,31 -25,30 -25,"
        "30 -24,29 -24,29 -23,28 -23,28 -22,27 -22,27 -21,24 -21,24 -20,"
        "23 -20,23 -19,26 -19,26 -18,27 -18,27 -17,28 -17,28 -16,29 -16,"
        "29 -8,28 -8,28 -7,27 -7,27 -6,26 -6,26 -5,24 -5,24 -4,18 -4,"
        "18 -3,6 -3),(11 -7,23 -7,23 -8,24 -8,24 -9,25 -9,25 -16,24 -16,"
        "24 -17,23 -17,23 -18,11 -18,11 -7),(11 -22,24 -22,24 -23,26 -23,"
        "26 -25,27 -25,27 -33,26 -33,26 -35,24 -35,24 -36,11 -36,11 -22))"
    )


# ------------------------------------------------------------- distributed

NODATA = 132


def synthetic_grid(seed=7, h=24, w=24):
    """Seeded blocky grid over {0, 1, 2, NODATA}: 3x3 blocks of one value
    with ~20% of pixels re-drawn, so components nest (holes), touch at
    vertices and, once offset, straddle tile borders."""
    rng = random.Random(seed)
    vals = (0, 1, 2, NODATA)
    blocks = [[rng.choice(vals) for _ in range(w // 3 + 1)] for _ in range(h // 3 + 1)]
    return [
        [blocks[r // 3][c // 3] if rng.random() < 0.8 else rng.choice(vals)
         for c in range(w)]
        for r in range(h)
    ]



def _pixels_df(spark, grid, zoom, off_x=0, off_y=0, valid=lambda v: True):
    rows = []
    for r, line in enumerate(grid):
        for c, v in enumerate(line):
            if not valid(v):
                continue
            gx, gy = c + off_x, r + off_y
            rows.append(
                (zoom, gx // 256, gy // 256, gx % 256, gy % 256, v)
            )
    return spark.createDataFrame(
        rows, "zoom int, tx long, ty long, px int, py int, value long"
    )


@pytest.mark.parametrize("off", [(0, 0), (254, 255)])
def test_polygonize_polygons_distributed(spark, off):
    """Distributed operator == local kernel, incl. grids straddling tile
    borders (cross-tile merge + boundary neighbor join)."""
    from gdal_spark.operators.polygonize import polygonize_polygons

    grid = synthetic_grid()
    valid = lambda v: v != NODATA
    off_x, off_y = off
    df = _pixels_df(spark, grid, 2, off_x, off_y, valid=valid)
    out = polygonize_polygons(df, zoom=2).collect()
    # local grid shifted to global pixel corners for comparison
    gt_px = (float(off_x), 1.0, 0.0, float(off_y), 0.0, 1.0)
    expect = sorted(wkt_of(px, gt_px) for _, px in components(grid, valid=valid))
    assert any("),(" in w for w in expect)  # the grid does exercise holes
    assert sorted(r["wkt_px"] for r in out) == expect
    assert all(r["n_rings"] >= 1 for r in out)
    by_area = {r["wkt_px"]: r["area_px"] for r in out}
    for _, px in components(grid, valid=valid):
        assert by_area[wkt_of(px, gt_px)] == len(px)


def test_polygonize_merge_fallback_matches_driver(spark):
    """Distributed min-label-propagation (merge_threshold=0) produces the
    same components as the driver union-find."""
    from gdal_spark.operators.polygonize import polygonize

    df = _pixels_df(spark, synthetic_grid(), 2, 254, 255)
    a = polygonize(df, zoom=2).collect()
    b = polygonize(df, zoom=2, merge_threshold=0).collect()
    key = lambda r: (r["tx"], r["ty"], r["px"], r["py"])
    assert {key(r): r["component"] for r in a} == {key(r): r["component"] for r in b}


def test_polygonize_multi_zoom_rejected(spark):
    from gdal_spark.operators.polygonize import polygonize

    df = spark.createDataFrame(
        [(1, 0, 0, 0, 0, 5), (2, 0, 0, 0, 0, 5)],
        "zoom int, tx long, ty long, px int, py int, value long",
    )
    with pytest.raises(Exception, match="single zoom"):
        polygonize(df).collect()


def test_footprint(spark):
    from gdal_spark.operators.polygonize import footprint

    # a diamond of 1s whose four sides touch only at their corners
    grid = [
        [0, 1, 1, 0, 0],
        [1, 0, 0, 1, 0],
        [1, 0, 0, 1, 0],
        [0, 1, 1, 0, 0],
        [0, 0, 0, 0, 0],
    ]
    df = _pixels_df(spark, grid, 2, valid=lambda v: v == 1)
    parts = footprint(df, zoom=2).collect()
    assert len(parts) == 4  # 4-connected validity parts of the diamond
    assert sorted(p["wkt_px"] for p in parts) == sorted([
        "POLYGON ((1 0,1 1,3 1,3 0,1 0))",
        "POLYGON ((0 1,0 3,1 3,1 1,0 1))",
        "POLYGON ((3 1,3 3,4 3,4 1,3 1))",
        "POLYGON ((1 3,1 4,3 4,3 3,1 3))",
    ])
