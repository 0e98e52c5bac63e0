"""Vector geometry-transform operators over WKB columns.

The reference surface (SURVEY.md §2.8 "Geometry transforms"):
ConvexHull (ogrgeometry.cpp:4188), Simplify (:6362), Segmentize,
ST_Buffer (ogrsqlitesqlfunctions.cpp:997). Kernels in
kernels/geomops.py; here they lift to DataFrame operators:

  * hulls/simplify/segmentize — pandas_udf over WKB (geometry-side work,
    one Arrow pass; geometry tables are the small side of every join in
    this engine);
  * point buffers — pure Column math (sequence + cos/sin explode), fully
    JVM, usable on the 10^12-row pages side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, BooleanType

from ..kernels import geomops as G
from ..kernels import makevalid as MV
from ..kernels import wkb as W


@F.pandas_udf(BinaryType())
def convex_hull_wkb(geom: pd.Series) -> pd.Series:
    out = []
    for buf in geom:
        if buf is None:
            out.append(None)
            continue
        pts = [
            (float(x), float(y))
            for rings in W.decode_polygons(bytes(buf))
            for ring in rings
            for x, y in ring
        ]
        out.append(W.polygon_wkb([G.convex_hull(pts)]))
    return pd.Series(out)


def simplify_segmentize_wkb(tol: float, max_len: float | None = None):
    """pandas_udf: optional segmentize then Douglas-Peucker per ring,
    preserving polygon/multipolygon structure."""

    @F.pandas_udf(BinaryType())
    def _f(geom: pd.Series) -> pd.Series:
        out = []
        for buf in geom:
            if buf is None:
                out.append(None)
                continue
            polys = []
            for rings in W.decode_polygons(bytes(buf)):
                new_rings = []
                for ring in rings:
                    pts = [(float(x), float(y)) for x, y in ring]
                    if max_len is not None:
                        pts = G.segmentize(pts, max_len)
                    pts = G.simplify(pts, tol)
                    new_rings.append(pts)
                polys.append(new_rings)
            if len(polys) == 1:
                out.append(W.polygon_wkb(polys[0]))
            else:
                out.append(W.multipolygon_wkb(polys))
        return pd.Series(out)

    return _f


@F.pandas_udf(BinaryType())
def make_valid_wkb(geom: pd.Series) -> pd.Series:
    """`gdal vector make-valid` (apps/gdalalg_vector_make_valid.h;
    OGRGeometry::MakeValid default linework method, pinned against
    autotest/ogr/ogr_geom.py:4079). Per-row repair — kernels/makevalid
    nodes the linework and reassembles even-odd faces; rows are
    independent so the operator distributes trivially (one Arrow batch
    pass, no shuffle)."""
    out = []
    for buf in geom:
        if buf is None:
            out.append(None)
            continue
        polys = MV.make_valid(W.decode_polygons(bytes(buf)))
        if not polys:
            out.append(None)
        elif len(polys) == 1:
            out.append(W.polygon_wkb(polys[0]))
        else:
            out.append(W.multipolygon_wkb(polys))
    return pd.Series(out)


def geom_boolean_wkb(op: str):
    """pandas_udf factory: per-row geometric set op between two
    (multi)polygon WKB columns — Intersection/Union/Difference/
    SymDifference (ogrgeometry.cpp:4895/5014/5333/5453 -> GEOS overlay)
    on the shared noded arrangement (kernels/makevalid.boolean_op).
    Rows independent: one Arrow pass, no shuffle."""

    @F.pandas_udf(BinaryType())
    def _f(ga: pd.Series, gb: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(ga, gb):
            if x is None or y is None:
                out.append(None)
                continue
            polys = MV.boolean_op(
                W.decode_polygons(bytes(x)), W.decode_polygons(bytes(y)), op
            )
            if not polys:
                out.append(None)
            elif len(polys) == 1:
                out.append(W.polygon_wkb(polys[0]))
            else:
                out.append(W.multipolygon_wkb(polys))
        return pd.Series(out)

    return _f


@F.pandas_udf(BooleanType())
def boundaries_touch_wkb(ga: pd.Series, gb: pd.Series) -> pd.Series:
    """Exact boundary-contact test between two (multi)polygon WKB
    columns (the BB/IB/BI leg of DE-9IM Touches;
    kernels/geomops.boundaries_touch). Per-row, one Arrow pass."""
    out = []
    for x, y in zip(ga, gb):
        if x is None or y is None:
            out.append(None)
            continue
        out.append(
            G.boundaries_touch(
                W.decode_polygons(bytes(x)), W.decode_polygons(bytes(y))
            )
        )
    return pd.Series(out)


def buffer_polygons_wkb(radius: float, quadsegs: int = 8):
    """pandas_udf factory: ST_Buffer of (multi)polygon WKBs
    (ogrsqlitesqlfunctions.cpp:997 -> GEOS buffer; our documented disk
    discretization, kernels/geomops.buffer_polygon). Rows are
    independent — one Arrow batch pass, no shuffle; the O(V^2) sweep
    arrangement of each row stays inside its task."""

    @F.pandas_udf(BinaryType())
    def _f(geom: pd.Series) -> pd.Series:
        out = []
        for buf in geom:
            if buf is None:
                out.append(None)
                continue
            polys = G.buffer_polygon(
                W.decode_polygons(bytes(buf)), radius, quadsegs
            )
            if not polys:
                out.append(None)
            elif len(polys) == 1:
                out.append(W.polygon_wkb(polys[0]))
            else:
                out.append(W.multipolygon_wkb(polys))
        return pd.Series(out)

    return _f


def cascaded_union(
    df: DataFrame,
    geom_col: str = "geometry",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """ST_Union aggregate (ogrsqlitesqlfunctions.cpp:1211 OGRSQLITE_
    ST_Union_Step/Finalize): dissolve all (multi)polygon WKBs of each
    group into one valid geometry. Union IS the make-valid arrangement
    with every input as its own component (a point is in the union iff
    ANY component covers it — kernels/makevalid's cross-component rule),
    so overlaps dissolve and shared boundaries vanish.

    Scale posture: union is associative — at 10^9 geometries run this
    twice (partial per partition, then final); here one applyInPandas
    per group (geometry tables are the small side in this engine)."""
    from pyspark.sql.types import BinaryType as _B
    from pyspark.sql.types import StructField, StructType

    gcols = group_cols or []

    out_schema = StructType(
        [df.schema[c] for c in gcols] + [StructField("geometry", _B())]
    )

    def union_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        comps = []
        for buf in pdf[geom_col]:
            if buf is not None:
                comps.extend(W.decode_polygons(bytes(buf)))
        polys = MV.make_valid(comps)
        if not polys:
            wkb_out = None
        elif len(polys) == 1:
            wkb_out = W.polygon_wkb(polys[0])
        else:
            wkb_out = W.multipolygon_wkb(polys)
        return pd.DataFrame([list(key) + [wkb_out]], columns=gcols + ["geometry"])

    if gcols:
        return df.groupBy(*gcols).applyInPandas(union_group, out_schema)
    return df.groupBy(F.lit(1).alias("_g")).applyInPandas(
        lambda key, pdf: union_group((), pdf),
        StructType([StructField("geometry", _B())]),
    )


def wkb_stats_udf():
    """pandas_udf: (n_polys, n_rings, area) of a (multi)polygon WKB."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    @F.pandas_udf(
        StructType(
            [
                StructField("n_polys", IntegerType()),
                StructField("n_rings", IntegerType()),
                StructField("area", DoubleType()),
            ]
        )
    )
    def _f(geom: pd.Series) -> pd.DataFrame:
        rows = []
        for buf in geom:
            if buf is None:
                rows.append((0, 0, 0.0))
                continue
            polys = W.decode_polygons(bytes(buf))
            rows.append(
                (
                    len(polys),
                    sum(len(r) for r in polys),
                    W.shoelace_area(bytes(buf)),
                )
            )
        return pd.DataFrame(rows, columns=["n_polys", "n_rings", "area"])

    return _f


_RELATE_PREDS = (
    "intersects", "equals", "disjoint", "touches",
    "crosses", "within", "contains", "overlaps",
)


def st_relate_udf():
    """pandas_udf: all eight ST_* predicates
    (ogrsqlitesqlfunctions.cpp:876-884 set) for a WKB geometry pair of
    any kind mix — Point / (Multi)LineString / (Multi)Polygon
    (kernels/relate DE-9IM evaluation)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    from ..kernels.relate import relate_wkb

    @F.pandas_udf(
        StructType([StructField(p, BooleanType()) for p in _RELATE_PREDS])
    )
    def _f(ga: pd.Series, gb: pd.Series) -> pd.DataFrame:
        rows = []
        for a, b in zip(ga, gb):
            r = relate_wkb(bytes(a), bytes(b))
            rows.append(tuple(bool(r[p]) for p in _RELATE_PREDS))
        return pd.DataFrame(rows, columns=list(_RELATE_PREDS))

    return _f


def geodesic_stats_udf():
    """pandas_udf: (garea, glength) — WGS84 geodesic area (m^2) and
    perimeter (m) of a (multi)polygon WKB in lon/lat degrees
    (OGRGeometry::GeodesicArea / ::GeodesicLength; kernels/geodesic)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..kernels import geodesic as GD

    @F.pandas_udf(
        StructType(
            [
                StructField("garea", DoubleType()),
                StructField("glength", DoubleType()),
            ]
        )
    )
    def _f(geom: pd.Series) -> pd.DataFrame:
        rows = []
        for buf in geom:
            if buf is None:
                rows.append((None, None))
                continue
            polys = W.decode_polygons(bytes(buf))
            rows.append(
                (
                    GD.polygons_geodesic_area(polys),
                    GD.polygons_geodesic_length(polys),
                )
            )
        return pd.DataFrame(rows, columns=["garea", "glength"])

    return _f


@F.pandas_udf(BinaryType())
def swap_xy_wkb(geom: pd.Series) -> pd.Series:
    """`gdal vector swap-xy` (apps/gdalalg_vector_pipeline.cpp registry;
    OGRGeometry::swapXY): exchange coordinate order of every vertex."""
    out = []
    for buf in geom:
        if buf is None:
            out.append(None)
            continue
        polys = [
            [[(float(y), float(x)) for x, y in ring] for ring in rings]
            for rings in W.decode_polygons(bytes(buf))
        ]
        out.append(
            W.polygon_wkb(polys[0]) if len(polys) == 1 else W.multipolygon_wkb(polys)
        )
    return pd.Series(out)


def explode_collections(zones: DataFrame) -> DataFrame:
    """`gdal vector explode-collections`: one row per geometry part with
    a part index; single polygons pass through as part 0."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType as _B,
    )

    @F.pandas_udf(ArrayType(_B()))
    def parts_of(geom: pd.Series) -> pd.Series:
        out = []
        for buf in geom:
            if buf is None:
                out.append([])
                continue
            out.append(
                [W.polygon_wkb(rings) for rings in W.decode_polygons(bytes(buf))]
            )
        return pd.Series(out)

    return zones.withColumn("_parts", parts_of(F.col("geometry"))).select(
        "*", F.posexplode("_parts").alias("part_idx", "part_geom")
    ).drop("_parts", "geometry").withColumnRenamed("part_geom", "geometry")


def buffer_points(
    df: DataFrame,
    x_col: str,
    y_col: str,
    radius: float,
    quadsegs: int = 8,
) -> DataFrame:
    """Vertex table of circular buffers: input rows + (k, vx, vy) for the
    4*quadsegs ring vertices (CCW from +x). All JVM column math."""
    n = 4 * quadsegs
    k = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("k")
    d = df.select("*", k)
    ang = F.col("k").cast("double") * (2.0 * 3.141592653589793 / n)
    return d.withColumn("vx", F.col(x_col) + F.lit(radius) * F.cos(ang)).withColumn(
        "vy", F.col(y_col) + F.lit(radius) * F.sin(ang)
    )
