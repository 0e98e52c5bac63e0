"""Layer-algebra overlay: polygons x rectangle grid (fishnet) membership,
and the zone x zone layer algebra (Intersection, Erase, Clip, Union,
SymDifference, Identity, Update).

Re-expresses the reference's nested-loop layer algebra
(ogr/ogrlayer.cpp:3345 Intersection, :3763 Union, :4300
SymDifference, :4730 Identity, :5148 Update, :5497 Clip, :5806 Erase —
for each input feature, SetSpatialFilterRect on the method layer, then
an exact refine) as ONE Spark two-phase plan:

  phase 1 (candidates, all JVM): envelopes explode to the `cell`-grid
  cells their bbox touches (`_cover`, a `sequence()` explode) — one
  narrow shuffle, no geometry bytes in flight until the refine. Two
  layers equi-join on the cell id into one pair frame (`_pairs`);
  phase 2 (exact): Intersection refines each pair in a shuffle-free
  mapInPandas; every other op is a selection over one grouped pass
  (`_layer_algebra`) that groups the side-tagged pair frame per feature
  and emits the per-pair a∩b pieces and each feature's difference (or
  intersection) with ALL its candidates in one arrangement.

The fishnet refine is banded Sutherland–Hodgman rect clipping
(kernels/clip.py) — each zone geometry decodes ONCE per batch, each
fishnet COLUMN clips the rings once (vertical strip, shared across every
cell row of that column), and the per-cell step is two vectorized numpy
half-plane passes on the already-small strip. Emits intersection area
and clipped WKB (POLYGON for one surviving part, MULTIPOLYGON with
per-part hole nesting for multipart zones); zero-area candidates
(bbox-only touches) drop out.

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


def _cover(z: DataFrame, cell: float) -> DataFrame:
    """Envelope-carrying rows (ENV_COLS) -> one row per `cell`-grid cell
    (cx, cy) their bbox touches."""
    from .pip_join import ENV_COLS

    minx, miny, maxx, maxy = ENV_COLS

    def span(lo, hi):
        return F.explode(
            F.sequence(
                F.floor(F.col(lo) / cell).cast("long"),
                F.floor(F.col(hi) / cell).cast("long"),
            )
        )

    return z.withColumn("cx", span(minx, maxx)).withColumn("cy", span(miny, maxy))


def fishnet_overlay(
    zones: DataFrame, cell: float, keep_wkb: bool = False
) -> DataFrame:
    """(zone rows) -> (zone_id, fx, fy, area [, wkb]) for every fishnet
    cell [fx*cell, (fx+1)*cell) x [fy*cell, (fy+1)*cell) with a nonzero
    intersection area. Exact for arbitrary polygons (rect clip)."""
    from .pip_join import _zone_envelopes

    cand = _cover(_zone_envelopes(zones), cell).select(
        "zone_id", "geometry", F.col("cx").alias("fx"), F.col("cy").alias("fy")
    )

    cols = ["zone_id", "fx", "fy", "area"] + (["wkb"] if keep_wkb else [])
    out_type = "zone_id long, fx long, fy long, area double" + (
        ", wkb binary" if keep_wkb else ""
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


def _pairs(a: DataFrame, b: DataFrame, cell: float) -> DataFrame:
    """Candidate pairs (a_id, a_geom, b_id, b_geom): every (feature of a,
    feature of b) whose envelopes intersect, exactly once.

    Both layers' envelope covers equi-join on the cell id — the same
    cell-keyed shuffle discipline as the PIP join, so at 10^12 scale
    pairs distribute by cell and no all-pairs product ever forms. A pair
    whose bboxes span several shared cells is kept only in the canonical
    first overlap cell (floor(max(minx_a, minx_b)/cell), same for y), so
    no distinct shuffle is needed."""
    from .pip_join import ENV_COLS, _zone_envelopes

    def side(df, p):
        return _cover(_zone_envelopes(df), cell).select(
            F.col("zone_id").alias(f"{p}_id"),
            F.col("geometry").alias(f"{p}_geom"),
            *(
                F.col(c).alias(f"{p}_{k}")
                for c, k in zip(ENV_COLS, ("minx", "miny", "maxx", "maxy"))
            ),
            "cx",
            "cy",
        )

    return (
        side(a, "a")
        .join(side(b, "b"), ["cx", "cy"])
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


def overlay_intersection(
    a: DataFrame,
    b: DataFrame,
    cell: float = 1.0,
    keep_wkb: bool = False,
) -> DataFrame:
    """Zone x zone layer-algebra Intersection
    (ogr/ogrlayer.cpp:3345): every (feature of a,
    feature of b) pair with a nonzero intersection ->
    (zone_a, zone_b, area [, wkb]).

    Phase 1 is `_pairs`; phase 2 refines each pair where it lands (no
    shuffle) with kernels/polyclip.intersect_polygons — the method
    polygon trapezoid-decomposes (concavity/holes/multiparts all
    handled), the subject clips against each convex trapezoid with
    vectorized Sutherland-Hodgman. Areas are exact; keep_wkb emits the
    banded piece multipolygon (see polyclip docstring)."""
    from ..kernels import polyclip as PC

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

    return _pairs(a, b, cell).mapInPandas(refine, out_type)


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


def _layer_algebra(
    a: DataFrame,
    b: DataFrame,
    cell: float,
    rule: str = "difference",
    both_sides: bool = False,
    pieces: bool = False,
) -> DataFrame:
    """The one grouped refine behind every per-feature layer op ->
    (zone_a, zone_b, area, geometry).

    The `_pairs` frame is tagged by side — each pair keyed by its a
    feature (side 0) and, with `both_sides`, by its b feature (side 1) —
    and grouped per (side, feature) in ONE applyInPandas. Each group
    emits, with `pieces`, every positive-area a∩b pair piece (side 0;
    the overlay_intersection refine), then the feature `rule` the union
    of ALL its candidates ("difference" or "intersection", one
    kernels/makevalid.boolean_op arrangement; an empty result is
    dropped, as the reference skips it). A feature without candidates
    keeps all of itself under "difference" and nothing under
    "intersection": for "difference" each side's own rows join the same
    groupBy with a NULL partner, so such a feature comes out untouched
    (its input area and geometry) with no anti-join."""
    from ..kernels import makevalid as MV
    from ..kernels import polyclip as PC
    from ..kernels.rings import shoelace2

    tags = [("a", "b")] + ([("b", "a")] if both_sides else [])
    rows = _pairs(a, b, cell).select(
        F.explode(
            F.array(
                *(
                    F.struct(
                        F.lit(s).alias("side"),
                        F.col(f"{me}_id").cast("long").alias("fid"),
                        F.col(f"{me}_geom").alias("geom"),
                        F.col(f"{other}_id").cast("long").alias("oid"),
                        F.col(f"{other}_geom").alias("other"),
                        F.lit(None).cast("double").alias("area"),
                    )
                    for s, (me, other) in enumerate(tags)
                )
            )
        ).alias("r")
    ).select("r.*")
    if rule == "difference":
        for s, layer in enumerate((a, b)[: len(tags)]):
            rows = rows.unionByName(
                layer.select(
                    F.lit(s).alias("side"),
                    F.col("zone_id").cast("long").alias("fid"),
                    F.col("geometry").alias("geom"),
                    F.lit(None).cast("long").alias("oid"),
                    F.lit(None).cast("binary").alias("other"),
                    F.col("area").cast("double").alias("area"),
                )
            )

    def refine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        side, fid = int(key[0]), int(key[1])
        out = []

        def emit(oid, area, geom):
            out.append((fid, oid, area, geom) if side == 0 else (oid, fid, area, geom))

        cand = pdf[pdf["other"].notna()]
        if cand.empty:
            for area, geom in zip(pdf["area"], pdf["geom"]):
                emit(None, area, geom)
        else:
            polys = W.decode_polygons(bytes(cand["geom"].iloc[0]))
            others = []
            for oid, og in zip(cand["oid"], cand["other"]):
                opolys = W.decode_polygons(bytes(og))
                others.extend(opolys)
                if pieces and side == 0:
                    area, parts = PC.intersect_polygons(polys, opolys)
                    if area > 0.0:
                        emit(int(oid), float(area), CL.parts_wkb(parts))
            res = MV.boolean_op(polys, others, rule)
            if res:
                area = sum(shoelace2(r) / 2.0 for rings in res for r in rings)
                emit(None, area, W.polygon_wkb(res[0]) if len(res) == 1
                     else W.multipolygon_wkb(res))
        cols = ["zone_a", "zone_b", "area", "geometry"]
        # object first: NULL ids must not round-trip through float64
        return pd.DataFrame(out, columns=cols, dtype=object).astype(
            {"zone_a": "Int64", "zone_b": "Int64", "area": float}
        )

    return rows.groupBy("side", "fid").applyInPandas(
        refine, "zone_a long, zone_b long, area double, geometry binary"
    )


def overlay_erase(a: DataFrame, b: DataFrame, cell: float = 1.0) -> DataFrame:
    """Zone x zone layer-algebra Erase
    (ogr/ogrlayer.cpp:5806): each feature of `a` minus
    the union of every intersecting feature of `b` -> (zone_id, area,
    geometry). Features the erase empties are dropped (the reference
    skips them); features without a candidate pass through untouched."""
    return _layer_algebra(a, b, cell).select(
        F.col("zone_a").alias("zone_id"), "area", "geometry"
    )


def overlay_clip(a: DataFrame, b: DataFrame, cell: float = 1.0) -> DataFrame:
    """Zone x zone layer-algebra Clip (ogrlayer.cpp:5497): each feature
    of `a` intersected with the union of the method layer `b` ->
    (zone_id, area, geometry); features entirely outside `b` are
    dropped (no passthrough)."""
    return _layer_algebra(a, b, cell, rule="intersection").select(
        F.col("zone_a").alias("zone_id"), "area", "geometry"
    )


def overlay_union(a: DataFrame, b: DataFrame, cell: float = 1.0) -> DataFrame:
    """Zone x zone layer-algebra Union (ogrlayer.cpp:3763): (1) each
    pairwise a∩b piece, (2) each a-feature minus all of b, (3) each
    b-feature minus all of a, fields from whichever side(s) contributed
    -> (zone_a NULLable, zone_b NULLable, area, geometry)."""
    return _layer_algebra(a, b, cell, both_sides=True, pieces=True)


def overlay_symdiff(a: DataFrame, b: DataFrame, cell: float = 1.0) -> DataFrame:
    """Zone x zone layer-algebra SymDifference (ogrlayer.cpp:4300): each
    a-feature minus all of b and each b-feature minus all of a, in
    union's (zone_a, zone_b, area, geometry) form."""
    return _layer_algebra(a, b, cell, both_sides=True)


def overlay_identity(a: DataFrame, b: DataFrame, cell: float = 1.0) -> DataFrame:
    """Zone x zone layer-algebra Identity (ogrlayer.cpp:4730): `a`'s
    features partitioned by `b` — the pairwise a∩b pieces plus each
    a-feature minus all of b, in union's form."""
    return _layer_algebra(a, b, cell, pieces=True)


def overlay_update(a: DataFrame, b: DataFrame, cell: float = 1.0) -> DataFrame:
    """Zone x zone layer-algebra Update (ogrlayer.cpp:5148): each
    a-feature minus all of b, then every b-feature whole (b overwrites
    a where they overlap), in union's form."""
    return _layer_algebra(a, b, cell).unionByName(
        b.select(
            F.lit(None).cast("long").alias("zone_a"),
            F.col("zone_id").cast("long").alias("zone_b"),
            "area",
            "geometry",
        )
    )
