"""Layer-algebra overlay: polygons x rectangle grid (fishnet) membership,
intersection area, and clipped geometry.

Re-expresses the reference's nested-loop layer algebra
(/root/reference/ogr/ogrlayer.cpp:3345 Intersection, :5497 Clip — for
each input feature, SetSpatialFilterRect on the method layer, then exact
intersection) as the Spark two-phase plan:

  phase 1 (candidates, all JVM): zone envelopes explode to the fishnet
  cells their bbox touches — `sequence()` explode, one narrow shuffle,
  no geometry bytes in flight until the refine;
  phase 2 (exact): banded Sutherland–Hodgman rect clipping
  (kernels/clip.py) — each zone geometry decodes ONCE per batch, each
  fishnet COLUMN clips the rings once (vertical strip, shared across
  every cell row of that column), and the per-cell step is two
  vectorized numpy half-plane passes on the already-small strip; no
  per-vertex or per-pair Python arithmetic in the hot loop. Emits
  intersection area and clipped WKB (POLYGON for one surviving part,
  MULTIPOLYGON with per-part hole nesting for multipart zones);
  zero-area candidates (bbox-only touches) drop out.

At the 10^12 scale the fishnet side is the big one: the plan keys the
shuffle on fishnet cell ids, so pairs distribute by cell and each task
clips only its cells' zones (same co-location argument as the PIP
cell join).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import clip as CL
from ..kernels import wkb as W


def fishnet_overlay(
    zones: DataFrame, cell: float, keep_wkb: bool = False
) -> DataFrame:
    """(zone rows) -> (zone_id, fx, fy, area [, wkb]) for every fishnet
    cell [fx*cell, (fx+1)*cell) x [fy*cell, (fy+1)*cell) with a nonzero
    intersection area. Exact for arbitrary polygons (rect clip)."""
    from .pip_join import ENV_COLS, _zone_envelopes

    minx, miny, maxx, maxy = ENV_COLS
    z = _zone_envelopes(zones)
    cand = (
        z.withColumn(
            "fx",
            F.explode(
                F.sequence(
                    F.floor(F.col(minx) / cell).cast("long"),
                    F.floor(F.col(maxx) / cell).cast("long"),
                )
            ),
        )
        .withColumn(
            "fy",
            F.explode(
                F.sequence(
                    F.floor(F.col(miny) / cell).cast("long"),
                    F.floor(F.col(maxy) / cell).cast("long"),
                )
            ),
        )
        .select("zone_id", "geometry", "fx", "fy")
    )

    cols = ["zone_id", "fx", "fy", "area"] + (["wkb"] if keep_wkb else [])
    out_type = (
        "zone_id long, fx long, fy long, area double, wkb binary"
        if keep_wkb
        else "zone_id long, fx long, fy long, area double"
    )

    def refine(it):
        for pdf in it:
            rows = []
            # geometry is constant per zone_id: decode once per zone,
            # strip-clip once per (zone, column), band-clip per cell
            for zid, grp in pdf.groupby("zone_id", sort=False):
                polys = W.decode_polygons(bytes(grp["geometry"].iloc[0]))
                for fx, g2 in grp.groupby("fx", sort=False):
                    band = CL.clip_polygons_band_x(
                        polys, fx * cell, (fx + 1) * cell
                    )
                    if not band:
                        continue
                    for fy in g2["fy"]:
                        area, parts = CL.clip_polygons_band_y(
                            band, fy * cell, (fy + 1) * cell
                        )
                        if area <= 0.0:
                            continue
                        row = [int(zid), int(fx), int(fy), float(area)]
                        if keep_wkb:
                            row.append(CL.parts_wkb(parts))
                        rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return cand.mapInPandas(refine, out_type)


def overlay_intersection(
    a: DataFrame,
    b: DataFrame,
    cell: float = 1.0,
    keep_wkb: bool = False,
) -> DataFrame:
    """Zone x zone layer-algebra Intersection
    (/root/reference/ogr/ogrlayer.cpp:3345): every (feature of a,
    feature of b) pair with a nonzero intersection ->
    (zone_a, zone_b, area [, wkb]).

    Phase 1 (candidates, all JVM): both layers' envelopes explode to the
    `cell`-sized grid cells their bbox touches and equi-join on the cell
    id — the same cell-keyed shuffle discipline as the PIP join, so at
    10^12 scale pairs distribute by cell and no all-pairs product ever
    forms. A pair whose bboxes span several shared cells is kept only in
    the canonical first overlap cell (floor(max(minx_a, minx_b)/cell),
    same for y), so the refine sees each pair exactly once without a
    distinct shuffle.

    Phase 2 (exact): kernels/polyclip.intersect_polygons — the method
    polygon trapezoid-decomposes (concavity/holes/multiparts all
    handled), the subject clips against each convex trapezoid with
    vectorized Sutherland-Hodgman. Areas are exact; keep_wkb emits the
    banded piece multipolygon (see polyclip docstring)."""
    from ..kernels import polyclip as PC
    from .pip_join import ENV_COLS, _zone_envelopes

    minx, miny, maxx, maxy = ENV_COLS

    def cells(df, prefix):
        e = _zone_envelopes(df)
        return (
            e.withColumn(
                "cx",
                F.explode(
                    F.sequence(
                        F.floor(F.col(minx) / cell).cast("long"),
                        F.floor(F.col(maxx) / cell).cast("long"),
                    )
                ),
            )
            .withColumn(
                "cy",
                F.explode(
                    F.sequence(
                        F.floor(F.col(miny) / cell).cast("long"),
                        F.floor(F.col(maxy) / cell).cast("long"),
                    )
                ),
            )
            .select(
                F.col("zone_id").alias(f"{prefix}_id"),
                F.col("geometry").alias(f"{prefix}_geom"),
                F.col(minx).alias(f"{prefix}_minx"),
                F.col(miny).alias(f"{prefix}_miny"),
                F.col(maxx).alias(f"{prefix}_maxx"),
                F.col(maxy).alias(f"{prefix}_maxy"),
                "cx",
                "cy",
            )
        )

    cand = (
        cells(a, "a")
        .join(cells(b, "b"), ["cx", "cy"])
        .filter(
            (F.col("a_minx") <= F.col("b_maxx"))
            & (F.col("b_minx") <= F.col("a_maxx"))
            & (F.col("a_miny") <= F.col("b_maxy"))
            & (F.col("b_miny") <= F.col("a_maxy"))
            # canonical-cell dedup: keep the pair only where the shared
            # bbox overlap starts
            & (
                F.col("cx")
                == F.floor(F.greatest("a_minx", "b_minx") / cell).cast("long")
            )
            & (
                F.col("cy")
                == F.floor(F.greatest("a_miny", "b_miny") / cell).cast("long")
            )
        )
        .select("a_id", "a_geom", "b_id", "b_geom")
    )

    cols = ["zone_a", "zone_b", "area"] + (["wkb"] if keep_wkb else [])
    out_type = "zone_a long, zone_b long, area double" + (
        ", wkb binary" if keep_wkb else ""
    )

    def refine(it):
        dec: dict = {}

        def decode(buf):
            buf = bytes(buf)
            p = dec.get(buf)
            if p is None:
                p = W.decode_polygons(buf)
                dec[buf] = p
            return p

        for pdf in it:
            rows = []
            for aid, ag, bid, bg in zip(
                pdf["a_id"], pdf["a_geom"], pdf["b_id"], pdf["b_geom"]
            ):
                area, parts = PC.intersect_polygons(decode(ag), decode(bg))
                if area <= 0.0:
                    continue
                row = [int(aid), int(bid), float(area)]
                if keep_wkb:
                    row.append(CL.parts_wkb(parts))
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return cand.mapInPandas(refine, out_type)


def clip_rect(zones: DataFrame, minx, miny, maxx, maxy) -> DataFrame:
    """`gdal vector clip`-style single-rect clip: every zone clipped to
    the rect, keeping intersection area + WKB (rows with empty
    intersections drop, matching the reference's Clip output). Multipart
    results encode as MULTIPOLYGON with each hole attached to its own
    outer ring."""

    def refine(it):
        for pdf in it:
            rows = []
            for zid, geom in zip(pdf["zone_id"], pdf["geometry"]):
                polys = W.decode_polygons(bytes(geom))
                area, parts = CL.clip_polygons_rect(polys, minx, miny, maxx, maxy)
                if area <= 0.0:
                    continue
                rows.append((int(zid), float(area), CL.parts_wkb(parts)))
            yield pd.DataFrame(rows, columns=["zone_id", "area", "wkb"])

    return zones.select("zone_id", "geometry").mapInPandas(
        refine, "zone_id long, area double, wkb binary"
    )


def overlay_erase(a: DataFrame, b: DataFrame, cell: float = 1.0) -> DataFrame:
    """Zone x zone layer-algebra Erase
    (/root/reference/ogr/ogrlayer.cpp:5806): each feature of `a` minus
    the union of every intersecting feature of `b`; features whose
    geometry survives are emitted with the erased WKB and its area,
    features the erase empties are dropped (reference skips them).

    Phase 1 reuses the Intersection candidate discipline: both layers
    explode to `cell`-keyed envelope covers and equi-join on the cell id
    (canonical-first-cell dedup; no all-pairs product at scale). Phase 2
    groups candidates per a-feature and runs ONE arrangement pass
    (kernels/makevalid.boolean_op difference vs all covering b
    components at once — multiple overlapping erasers union implicitly
    under covered-by-ANY). Features with no candidate pass through via
    an anti-join, untouched."""
    return _overlay_per_feature(a, b, cell, "difference", passthrough=True)


def overlay_clip(a: DataFrame, b: DataFrame, cell: float = 1.0) -> DataFrame:
    """Zone x zone layer-algebra Clip (ogrlayer.cpp:5497): each feature
    of `a` intersected with the union of the method layer `b`; features
    entirely outside `b` are dropped (no passthrough). Same grouped
    single-arrangement plan as Erase with the intersection rule.

    The remaining layer ops are compositions of these primitives
    (matching the reference's nested-loop outputs): SymDifference :4300
    = erase(a,b) + erase(b,a); Identity :4730 = intersection(a,b) +
    erase(a,b); Update :5148 = erase(a,b) + b."""
    return _overlay_per_feature(a, b, cell, "intersection", passthrough=False)


def _overlay_per_feature(
    a: DataFrame, b: DataFrame, cell: float, op: str, passthrough: bool
) -> DataFrame:
    from ..kernels import makevalid as MV
    from .pip_join import ENV_COLS, _zone_envelopes

    minx, miny, maxx, maxy = ENV_COLS

    def cells(df, prefix):
        e = _zone_envelopes(df)
        return (
            e.withColumn(
                "cx",
                F.explode(
                    F.sequence(
                        F.floor(F.col(minx) / cell).cast("long"),
                        F.floor(F.col(maxx) / cell).cast("long"),
                    )
                ),
            )
            .withColumn(
                "cy",
                F.explode(
                    F.sequence(
                        F.floor(F.col(miny) / cell).cast("long"),
                        F.floor(F.col(maxy) / cell).cast("long"),
                    )
                ),
            )
            .select(
                F.col("zone_id").alias(f"{prefix}_id"),
                F.col("geometry").alias(f"{prefix}_geom"),
                F.col(minx).alias(f"{prefix}_minx"),
                F.col(miny).alias(f"{prefix}_miny"),
                F.col(maxx).alias(f"{prefix}_maxx"),
                F.col(maxy).alias(f"{prefix}_maxy"),
                "cx",
                "cy",
            )
        )

    cand = (
        cells(a, "a")
        .join(cells(b, "b"), ["cx", "cy"])
        .filter(
            (F.col("a_minx") <= F.col("b_maxx"))
            & (F.col("b_minx") <= F.col("a_maxx"))
            & (F.col("a_miny") <= F.col("b_maxy"))
            & (F.col("b_miny") <= F.col("a_maxy"))
            & (
                F.col("cx")
                == F.floor(F.greatest("a_minx", "b_minx") / cell).cast("long")
            )
            & (
                F.col("cy")
                == F.floor(F.greatest("a_miny", "b_miny") / cell).cast("long")
            )
        )
        .select("a_id", "a_geom", "b_geom")
    )

    def op_group(pdf: pd.DataFrame) -> pd.DataFrame:
        aid = pdf["a_id"].iloc[0]
        apolys = W.decode_polygons(bytes(pdf["a_geom"].iloc[0]))
        bpolys = []
        for bg in pdf["b_geom"]:
            bpolys.extend(W.decode_polygons(bytes(bg)))
        out = MV.boolean_op(apolys, bpolys, op)
        if not out:
            return pd.DataFrame(
                {"zone_id": [], "area": [], "geometry": []}
            ).astype({"zone_id": "int64"})
        area = 0.0
        for rings in out:
            for r in rings:
                s = 0.0
                for (x1, y1), (x2, y2) in zip(r, r[1:]):
                    s += x1 * y2 - x2 * y1
                area += s / 2.0
        wkb_out = (
            W.polygon_wkb(out[0]) if len(out) == 1 else W.multipolygon_wkb(out)
        )
        return pd.DataFrame(
            {"zone_id": [aid], "area": [area], "geometry": [wkb_out]}
        )

    pieces = cand.groupBy("a_id").applyInPandas(
        op_group, "zone_id long, area double, geometry binary"
    )
    if not passthrough:
        return pieces
    untouched = (
        a.join(
            cand.select(F.col("a_id").alias("zone_id")).distinct(),
            ["zone_id"],
            "left_anti",
        )
        .select("zone_id", "area", "geometry")
    )
    return pieces.unionByName(untouched)


def overlay_union(a: DataFrame, b: DataFrame, cell: float = 1.0) -> DataFrame:
    """Zone x zone layer-algebra Union
    (/root/reference/ogr/ogrlayer.cpp:3763): the reference's nested loop
    emits (1) each pairwise a∩b piece, (2) each a-feature minus all of
    b, (3) each b-feature minus all of a — fields populated from
    whichever side(s) contributed. Composed here from the two primitives
    that already own the candidate discipline: overlay_intersection
    (keep_wkb) and overlay_erase both ways. Output: (zone_a NULLable,
    zone_b NULLable, area, geometry).

    Envelopes are attached once per side here (idempotent in
    _zone_envelopes) so the three composed primitives don't each rerun
    the eager small-side probe — 6 probe jobs collapse to 2."""
    from .pip_join import _zone_envelopes

    a = _zone_envelopes(a)
    b = _zone_envelopes(b)
    inter = overlay_intersection(a, b, cell=cell, keep_wkb=True).select(
        "zone_a", "zone_b", "area", F.col("wkb").alias("geometry")
    )
    ea = overlay_erase(a, b, cell=cell).select(
        F.col("zone_id").alias("zone_a"),
        F.lit(None).cast("long").alias("zone_b"),
        "area",
        "geometry",
    )
    eb = overlay_erase(b, a, cell=cell).select(
        F.lit(None).cast("long").alias("zone_a"),
        F.col("zone_id").alias("zone_b"),
        "area",
        "geometry",
    )
    return inter.unionByName(ea).unionByName(eb)
