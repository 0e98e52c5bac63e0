"""Polygon-vs-rectangle intersection (Sutherland–Hodgman half-plane
clipping), the geometric core of the engine's layer-algebra overlay:

  * OGRLayer::Clip / ::Intersection (/root/reference/ogr/ogrlayer.cpp:5497,
    :3345) with a rectangular method geometry — the fishnet-overlay /
    bbox-clip case (`gdal vector clip` pipeline step,
    apps/gdalalg_vector_clip.cpp) — computed exactly: a rectangle is a
    convex clip region, so successive half-plane clipping of each ring is
    exact for ARBITRARY subject polygons (holes clip ring-by-ring and
    subtract by area additivity).

The half-plane pass is vectorized over ring vertices (numpy mask +
scatter, no per-vertex Python), so the hot path of the fishnet refine is
O(vertices) numpy work per (ring, half-plane) — the arithmetic (parametric
intersection `prev + t*(cur-prev)`, floor-free) is term-for-term the same
as the scalar formulation it replaces, keeping clipped coordinates
bit-identical.

Clipped output keeps rings grouped BY SOURCE POLYGON: a multipolygon's
parts stay separate parts with their own holes, so the WKB re-encoding
can never misfile ring 2 of part B as a hole of part A. One known
degeneracy, inherent to Sutherland–Hodgman: a single CONCAVE ring whose
clip splits it into disjoint pieces comes back as ONE ring joined by
zero-width bridges along the clip boundary — area-exact (the bridges
cancel in the shoelace sum) but not a clean multipolygon; GEOS-grade
splitting is out of scope (SURVEY §2.7).
"""

from __future__ import annotations

import numpy as np

_EMPTY = np.empty((0, 2), dtype=np.float64)


def _halfplane(P: np.ndarray, axis: int, bound: float, keep_ge: bool) -> np.ndarray:
    """One vectorized Sutherland–Hodgman pass over an OPEN ring (n,2)."""
    n = len(P)
    if n == 0:
        return P
    vals = P[:, axis]
    inside = vals >= bound if keep_ge else vals <= bound
    if inside.all():
        return P
    if not inside.any():
        return _EMPTY
    prev_in = np.roll(inside, 1)
    cross = inside != prev_in
    Pp = np.roll(P, 1, axis=0)
    other = 1 - axis
    ci = np.nonzero(cross)[0]
    # a crossing edge always has cur[axis] != prev[axis] (else the two
    # inside flags would agree), so the division is safe
    t = (bound - Pp[ci, axis]) / (P[ci, axis] - Pp[ci, axis])
    ix = np.empty((len(ci), 2), dtype=np.float64)
    ix[:, axis] = bound
    ix[:, other] = Pp[ci, other] + t * (P[ci, other] - Pp[ci, other])
    # per edge i the scalar loop emits: [intersection if crossing] then
    # [cur if inside] — reproduce that order with a counting scatter
    counts = cross.astype(np.intp) + inside.astype(np.intp)
    starts = np.cumsum(counts) - counts
    out = np.empty((int(counts.sum()), 2), dtype=np.float64)
    out[starts[ci]] = ix
    ii = np.nonzero(inside)[0]
    out[starts[ii] + cross[ii]] = P[ii]
    return out


def clip_ring_rect(ring, minx, miny, maxx, maxy) -> np.ndarray:
    """Clip one ring (sequence of (x, y), open or closed) to a rect.
    Returns an OPEN (m, 2) float64 array (possibly empty/degenerate)."""
    P = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(P) > 1 and P[0, 0] == P[-1, 0] and P[0, 1] == P[-1, 1]:
        P = P[:-1]
    P = _halfplane(P, 0, float(minx), True)
    P = _halfplane(P, 0, float(maxx), False)
    P = _halfplane(P, 1, float(miny), True)
    P = _halfplane(P, 1, float(maxy), False)
    if len(P):
        # vertices exactly on a clip line re-emit themselves: drop
        # consecutive duplicates (incl. the wrap pair)
        keep = np.any(P != np.roll(P, 1, axis=0), axis=1)
        P = P[keep]
    return P


def finish_ring(P: np.ndarray) -> np.ndarray:
    """Dedup consecutive duplicates of an open ring (the final step
    clip_ring_rect applies after its four half-planes)."""
    if len(P):
        keep = np.any(P != np.roll(P, 1, axis=0), axis=1)
        P = P[keep]
    return P


def _shoelace(pts) -> float:
    """Sequential-order shoelace |area| — term order matches the original
    scalar kernel so oracle-hashed areas stay bit-stable."""
    n = len(pts)
    if n < 3:
        return 0.0
    a = 0.0
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        a += x1 * y2 - x2 * y1
    return abs(a) / 2.0


def clip_polygons_rect(polys, minx, miny, maxx, maxy):
    """Clip a decoded (multi)polygon (list of list-of-ring-arrays, outer
    first) to a rect. Returns (area, parts) where parts keeps the source
    polygon structure: one (outer_ring, [hole_rings...]) tuple per input
    polygon whose clipped outer ring survives, and
    area = sum of outer areas minus hole areas."""
    area = 0.0
    parts = []
    for rings in polys:
        outer = None
        holes = []
        for ri, ring in enumerate(rings):
            pts = clip_ring_rect(ring, minx, miny, maxx, maxy)
            a = _shoelace(pts)
            if ri == 0:
                if a <= 0.0:
                    # outer ring clipped away: its holes are inside it and
                    # clip away too — skip the whole part
                    break
                area += a
                outer = pts
            else:
                area -= a
                if a > 0.0:
                    holes.append(pts)
        if outer is not None:
            parts.append((outer, holes))
    return area, parts


def clip_polygons_band_x(polys, minx, maxx):
    """Phase-A of the banded fishnet clip: every ring of every part
    clipped to the vertical strip minx <= x <= maxx (NOT deduped yet —
    dedup runs once after the y-band pass, matching clip_ring_rect's
    half-plane order exactly). Parts whose outer ring dies in the strip
    are dropped. Returns the same list-of-list-of-rings shape."""
    band = []
    for rings in polys:
        out = []
        for ri, ring in enumerate(rings):
            P = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
            if len(P) > 1 and P[0, 0] == P[-1, 0] and P[0, 1] == P[-1, 1]:
                P = P[:-1]
            P = _halfplane(P, 0, float(minx), True)
            P = _halfplane(P, 0, float(maxx), False)
            if ri == 0 and len(P) < 3:
                out = []
                break
            out.append(P)
        if out:
            band.append(out)
    return band


def clip_polygons_band_y(band_polys, miny, maxy):
    """Phase-B: finish a clip_polygons_band_x result against the
    horizontal band miny <= y <= maxy. Returns (area, parts) with the
    same semantics (and bit-identical arithmetic) as clip_polygons_rect
    on the original polygons."""
    area = 0.0
    parts = []
    for rings in band_polys:
        outer = None
        holes = []
        for ri, ring in enumerate(rings):
            P = _halfplane(ring, 1, float(miny), True)
            P = _halfplane(P, 1, float(maxy), False)
            P = finish_ring(P)
            a = _shoelace(P)
            if ri == 0:
                if a <= 0.0:
                    break
                area += a
                outer = P
            else:
                area -= a
                if a > 0.0:
                    holes.append(P)
        if outer is not None:
            parts.append((outer, holes))
    return area, parts


def parts_wkb(parts):
    """Encode clip output parts as WKB: POLYGON for a single part,
    MULTIPOLYGON (one member per source part, holes attached to their own
    outer) otherwise. None for empty."""
    from . import wkb as W

    if not parts:
        return None
    if len(parts) == 1:
        outer, holes = parts[0]
        return W.polygon_wkb([outer] + list(holes))
    return W.multipolygon_wkb([[outer] + list(holes) for outer, holes in parts])
