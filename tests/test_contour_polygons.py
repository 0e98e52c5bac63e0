"""Iso-polygon contouring: per-band pieces on marching-squares chords,
distributed edge cancellation, ring chaining with hole assignment.

A tilted plane pins exact closed-form strip areas; a cone pins
annulus-with-hole assembly; running the same raster at two block sizes
pins bit-exact cross-block edge cancellation (the halo + local/global
cancel pipeline must produce identical geometry regardless of tiling).
"""

import numpy as np

from gdal_spark.kernels import wkb as W
from gdal_spark.operators.contour_op import contour_polygons
from gdal_spark.operators.raster import raster_from_array


def _plane(spark, block):
    W_, H_ = 40, 30
    xs = np.arange(W_) + 0.5
    ys = np.arange(H_) + 0.5
    arr = xs[None, :] + 0.25 * ys[:, None]
    return raster_from_array(spark, arr, (0, 1, 0, 0, 0, 1), "x", block=block)


def _cone(spark, block):
    n = 21
    xs = np.arange(n) + 0.5
    ys = np.arange(n) + 0.5
    arr = 20.0 - np.sqrt((xs[None, :] - 10.5) ** 2 + (ys[:, None] - 10.5) ** 2)
    return raster_from_array(spark, arr, (0, 1, 0, 0, 0, 1), "x", block=block)


def test_plane_strip_areas(spark):
    blocks, meta = _plane(spark, 16)
    rows = {
        r["band"]: r
        for r in contour_polygons(
            blocks, meta, [10.0, 12.0, 14.0, 16.0, 18.0]
        ).collect()
    }
    assert set(rows) == {0, 1, 2, 3, 4, 5}
    for b in (1, 2, 3, 4):
        assert rows[b]["n_polys"] == 1 and rows[b]["n_rings"] == 1
        assert abs(rows[b]["area"] - 58.0) < 1e-6
    # bands tile the center-domain rectangle exactly
    assert abs(sum(r["area"] for r in rows.values()) - 39 * 29) < 1e-6


def test_cone_annulus_hole(spark):
    blocks, meta = _cone(spark, 8)
    rows = {
        r["band"]: r
        for r in contour_polygons(blocks, meta, [14.0, 17.0]).collect()
    }
    mid = rows[1]
    assert mid["n_polys"] == 1 and mid["n_rings"] == 2  # annulus
    # decoded geometry area (outer minus hole) equals the area column
    polys = W.decode_polygons(bytes(mid["geometry"]))
    area = 0.0
    for rings in polys:
        for ring in rings:
            s = 0.0
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                s += x1 * y2 - x2 * y1
            area += s / 2.0
    assert abs(abs(area) - mid["area"]) < 1e-6
    # chord-approximated circle areas bracket the true pi*r^2
    assert 26 < rows[2]["area"] < 29  # r=3 disk, pi*9 = 28.3
    assert 80 < mid["area"] < 90  # annulus 3..6, pi*27 = 84.8


def test_block_size_invariance(spark):
    out = []
    for block in (8, 32):
        blocks, meta = _cone(spark, block)
        rows = sorted(
            (
                r["band"],
                r["n_polys"],
                r["n_rings"],
                round(r["area"], 9),
                bytes(r["geometry"]),
            )
            for r in contour_polygons(blocks, meta, [14.0, 17.0]).collect()
        )
        out.append(rows)
    assert out[0] == out[1]


def test_large_cone_exact_tiling(spark):
    """256^2 cone (vectorized uniform-square path dominates): the band
    polygons tile the center domain exactly — area sum == (n-1)^2 —
    and every band closes into rings."""
    n = 256
    xs = np.arange(n) + 0.5
    ys = np.arange(n) + 0.5
    arr = 100.0 - np.sqrt((xs[None, :] - n / 2) ** 2 + (ys[:, None] - n / 2) ** 2) * 0.5
    blocks, meta = raster_from_array(spark, arr, (0, 1, 0, 0, 0, 1), "x", block=64)
    rows = contour_polygons(blocks, meta, [60.0, 80.0]).collect()
    assert len(rows) == 3
    assert abs(sum(r["area"] for r in rows) - (n - 1) ** 2) < 1e-6
    assert all(r["n_polys"] >= 1 for r in rows)
