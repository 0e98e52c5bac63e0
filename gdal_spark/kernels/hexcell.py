"""Hierarchical hexagonal cell index ("H3-style", res 0..15).

GDAL has no hex index (SURVEY.md §2.3: "kNN — not in GDAL core"); the north
star calls for H3-res-7..10-style cells as join/bucket keys and k-ring
expansion for kNN. This is a from-scratch, dependency-free hex index built
on public hex-grid math (axial/cube coordinates, Amit Patel's well-known
formulation) over the spherical-mercator plane:

  * point -> mercator meters (gdal2tiles.py:422-429 closed form, clipped to
    +/-85.05112878 like the reference pyramid);
  * pointy-top hex grid, cell size s(res) = S0 / sqrt(7)**res — the same
    aperture-7 area scaling H3 uses (each res is ~1/7 the area);
  * axial coords (q, r) by cube rounding with floor(x+0.5) ties — the
    rounding convention the reference uses for pixels (llrasterize.cpp:109);
  * 64-bit cell id packs (res:4 | q+2^27 : 28 | r+2^27 : 28).

NOT byte-compatible with Uber H3 ids (no icosahedron); hierarchy, k_ring,
aperture and resolution semantics match. All ops vectorized numpy; the same
math is expressible as JVM-side Column expressions (functions/cells_sql.py)
so cell assignment never leaves Tungsten.
"""

from __future__ import annotations

import numpy as np

from .mercator import ORIGIN_SHIFT, clip_lat, latlon_to_meters

S0 = ORIGIN_SHIFT / 2.0  # res-0 hex size (circumradius) in mercator meters
SQRT3 = np.sqrt(3.0)
SQRT7 = np.sqrt(7.0)
_OFF = 1 << 27  # axial coord offset for packing
MAX_RES = 15


def hex_size(res) -> np.ndarray:
    """Hex circumradius in mercator meters at resolution (aperture-7)."""
    return S0 / SQRT7 ** np.asarray(res, dtype=np.float64)


def _axial_round(qf, rf):
    """Cube rounding with floor(x+0.5) ties (llrasterize.cpp:109 convention)."""
    sf = -qf - rf
    q = np.floor(qf + 0.5)
    r = np.floor(rf + 0.5)
    s = np.floor(sf + 0.5)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def meters_to_axial(mx, my, res):
    """Mercator meters -> axial (q, r) hex coords at res (pointy-top)."""
    s = hex_size(res)
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    qf = (SQRT3 / 3.0 * mx - my / 3.0) / s
    rf = (2.0 / 3.0 * my) / s
    return _axial_round(qf, rf)


def axial_to_meters(q, r, res):
    """Hex center -> mercator meters."""
    s = hex_size(res)
    q = np.asarray(q, dtype=np.float64)
    r = np.asarray(r, dtype=np.float64)
    mx = s * (SQRT3 * q + SQRT3 / 2.0 * r)
    my = s * (1.5 * r)
    return mx, my


def pack(res, q, r):
    """(res, q, r) -> int64 cell id: res<<56 | (q+2^27)<<28 | (r+2^27)."""
    res = np.asarray(res, dtype=np.int64)
    q = np.asarray(q, dtype=np.int64) + _OFF
    r = np.asarray(r, dtype=np.int64) + _OFF
    return (res << 56) | (q << 28) | r


def unpack(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> 56
    q = ((cell >> 28) & ((1 << 28) - 1)) - _OFF
    r = (cell & ((1 << 28) - 1)) - _OFF
    return res, q, r


def latlon_to_cell(lat, lon, res):
    """lat/lon -> hex cell id at res. Vectorized."""
    mx, my = latlon_to_meters(clip_lat(np.asarray(lat, dtype=np.float64)), lon)
    q, r = meters_to_axial(mx, my, res)
    return pack(np.full(q.shape, int(res), dtype=np.int64), q, r)


def parent(cell, parent_res: int):
    """Approximate-hierarchy parent: re-index the child center at coarser res
    (hex grids are not perfectly nested; real H3 makes the same ~approximation
    via its aperture-7 rotation). hex_size broadcasts over per-row res."""
    res, q, r = unpack(cell)
    mx, my = axial_to_meters(q, r, res)
    pq, pr = meters_to_axial(mx, my, parent_res)
    return pack(np.full(pq.shape, parent_res, dtype=np.int64), pq, pr)


# Per-res hex sizes precomputed once so the SQL expression layer
# (functions/cells_sql.py) can embed the IDENTICAL double as a literal —
# numpy pow and JVM pow may differ in the last ulp otherwise.
SIZES = tuple(float(S0 / SQRT7**r) for r in range(MAX_RES + 1))


def cover_bbox(minx: float, miny: float, maxx: float, maxy: float, res: int) -> np.ndarray:
    """Cell ids whose hexes can intersect the bbox (superset cover).

    Every point's cell center lies within the hex circumradius s of the
    point, so enumerating all centers inside the bbox expanded by s yields a
    guaranteed superset — the exact ray-cast refine discards false positives
    (two-phase filter, ogrlayer.cpp:2253-2325).
    """
    s = SIZES[res]
    r_lo = int(np.floor((miny - s) / (1.5 * s)))
    r_hi = int(np.ceil((maxy + s) / (1.5 * s)))
    cells = []
    for r in range(r_lo, r_hi + 1):
        q_lo = int(np.floor((minx - s) / (SQRT3 * s) - r / 2.0)) - 1
        q_hi = int(np.ceil((maxx + s) / (SQRT3 * s) - r / 2.0)) + 1
        qs = np.arange(q_lo, q_hi + 1, dtype=np.int64)
        cells.append(pack(np.full(qs.shape, res, dtype=np.int64), qs, np.full(qs.shape, r, dtype=np.int64)))
    return np.concatenate(cells) if cells else np.empty(0, dtype=np.int64)


def cover_bbox_adaptive(
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    ladder=(3, 6, 9),
    max_cells: int = 4096,
) -> np.ndarray:
    """Covering cells at the finest ladder res whose cover stays under
    max_cells (coarsest res as fallback). Keeps the per-zone explode bounded
    for globe-spanning zones (a res-7 cover of a global band is ~150k cells;
    a res-3 one is ~2k) — cell ids embed the res, so mixed-res covers join
    against pages exploded over the same ladder without collisions."""
    chosen = ladder[0]
    for res in sorted(ladder, reverse=True):
        s = SIZES[res]
        est = ((maxx - minx + 2 * s) / (SQRT3 * s) + 3) * (
            (maxy - miny + 2 * s) / (1.5 * s) + 2
        )
        if est <= max_cells:
            chosen = res
            break
    return cover_bbox(minx, miny, maxx, maxy, chosen)


_RING_DIRS = np.array([(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)], dtype=np.int64)


def ring_offsets(k: int) -> np.ndarray:
    """All axial offsets within hex distance k (the filled k-ring disk):
    1 + 3k(k+1) offsets. Deterministic order: ring 0, 1, ..., k."""
    out = [(0, 0)]
    for ring in range(1, k + 1):
        # start at direction 4 scaled by ring (H3's kRing convention start)
        cq, cr = _RING_DIRS[4] * ring
        for d in range(6):
            for _ in range(ring):
                out.append((int(cq), int(cr)))
                cq += _RING_DIRS[d][0]
                cr += _RING_DIRS[d][1]
    return np.array(out, dtype=np.int64)


def k_ring(cell, k: int) -> np.ndarray:
    """Cell ids within hex-grid distance k of each input cell.

    Returns shape (M, 1+3k(k+1)) int64 array.
    """
    res, q, r = unpack(cell)
    offs = ring_offsets(k)
    qq = q[:, None] + offs[None, :, 0]
    rr = r[:, None] + offs[None, :, 1]
    return pack(np.broadcast_to(res[:, None], qq.shape), qq, rr)
