"""Hex cell assignment as pure Column expressions (JVM-side).

Mirrors kernels/hexcell.py exactly: same mercator closed form, same axial
transform, same cube rounding with floor(x+0.5) ties, same int64 packing.
Hex sizes are embedded as the kernel's precomputed literals (hexcell.SIZES)
so the two layers use bit-identical cell geometry; any last-ulp divergence in
tan/log merely shifts a boundary point to an adjacent cell, which the
superset zone cover + exact refine absorbs.

Cell assignment of the pages table therefore runs entirely inside
WholeStageCodegen — zero Python for 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.hexcell import SIZES, SQRT3
from .geo import clip_lat, mercator_x, mercator_y

_OFF = 1 << 27


def _axial_round_cols(qf: Column, rf: Column):
    sf = -qf - rf
    q = F.floor(qf + F.lit(0.5))
    r = F.floor(rf + F.lit(0.5))
    s = F.floor(sf + F.lit(0.5))
    dq = F.abs(q.cast("double") - qf)
    dr = F.abs(r.cast("double") - rf)
    ds = F.abs(s.cast("double") - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q2 = F.when(fix_q, -r - s).otherwise(q)
    r2 = F.when(fix_r, -q2 - s).otherwise(r)
    return q2.cast("long"), r2.cast("long")


def hex_cell(lat: Column, lon: Column, res: int, barrier: bool = True) -> Column:
    """lat/lon Columns -> int64 hex cell id at res. NULL-safe (NULL in/out).

    Codegen shape (rederived after Spark 4.1's optimizer started folding
    the old `rand() >= -1` barrier away; the Tier-1 codegen gate pins it):

      * the INTERNALS stay fully DETERMINISTIC — the cube-rounding CASE
        references the qf/rf mercator subtrees ~9 times, and codegen
        subexpression elimination dedups identical deterministic
        subtrees into one helper method. A nondeterministic barrier
        around qf/rf (the old design) EXCLUDES them from that dedup: 9
        un-dedupable copies per cell, >64KB generated methods, janino
        fails, the stage runs interpreted (10-20x).
      * barrier=True (default) wraps the WHOLE cell id in cheap_once
        instead: one nondeterministic node around one deduped
        deterministic tree. That still (a) stops CollapseProject from
        inlining the tree into every downstream consumer and (b) cuts
        whole-stage fusion so the cell projection compiles as its own
        method instead of growing a join/aggregate stage's processNext
        past 64KB (the knn_cells failure mode)."""
    from .barrier import cheap_once

    s = float(SIZES[res])
    mx = mercator_x(lon)
    my = mercator_y(clip_lat(lat))
    qf = (F.lit(float(SQRT3) / 3.0) * mx - my / F.lit(3.0)) / F.lit(s)
    rf = (F.lit(2.0 / 3.0) * my) / F.lit(s)
    q, r = _axial_round_cols(qf, rf)
    # pack(res, q, r): fields are disjoint powers of two, so | == +
    cell = F.lit(res * (1 << 56)).cast("long") + (q + F.lit(_OFF)) * F.lit(1 << 28) + (r + F.lit(_OFF))
    return cheap_once(cell) if barrier else cell


def with_hex_cells(df, lat_col: str = "lat", lon_col: str = "lon", resolutions=(7, 8, 9, 10)):
    """Add hex_r{res} columns for each res — the pages indexing step.

    barrier=False: this IS the staging projection (consumers read the
    materialized columns), and deterministic trees let codegen
    subexpression elimination dedup the repeated qf/rf subtrees — four
    barriered CASE branches are excluded from that dedup and overflow
    the 64KB method limit (janino fallback; the Tier-1 codegen gate
    fails on it)."""
    return df.select(
        "*",
        *[
            hex_cell(F.col(lat_col), F.col(lon_col), res, barrier=False).alias(
                f"hex_r{res}"
            )
            for res in resolutions
        ],
    )
