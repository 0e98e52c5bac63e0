"""`gdal vector simplify-coverage`: simplify a polygonal coverage while
preserving shared boundaries (no gaps or overlaps introduced).

Re-expresses apps/gdalalg_vector_simplify_coverage.cpp (which delegates
to GEOS CoverageSimplifier). The coverage contract reproduced here:
every arc (maximal boundary chain shared by the same set of polygons)
is simplified ONCE with endpoints and junctions pinned, so neighbouring
polygons always receive the identical simplified boundary and the
coverage stays gap- and overlap-free. Documented divergence: the
per-arc simplifier is Douglas-Peucker (kernels/geomops.simplify) with
the given distance tolerance; GEOS uses top-down Visvalingam-Whyatt, so
individual vertex choices may differ while the topology guarantee is
the same.

Spark shape (scales to a 10^9-polygon coverage):
  1. explode rings to directed edges (zone, ring, edge_idx, a, b) —
     narrow projection, no shuffle;
  2. one groupBy on the quantized undirected edge key -> the edge's
     owner signature (which polygons share it);
  3. vertices where >= 2 signatures meet (or chain degree != 2) are
     junction nodes — one more aggregation;
  4. applyInPandas per owner-signature group: walk the group's edges
     into chains between nodes, Douglas-Peucker each chain, emit the
     DROPPED interior vertices (DP only deletes, never moves);
  5. rebuild: anti-join each ring's vertex sequence against the dropped
     set, re-assemble in original vertex order — polygons never leave
     their partitions; the cross-polygon work is the two aggregations.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
)

from ..kernels import geomops as G

_QD = 9  # vertex quantization decimals for edge/vertex keys


def _explode_ring_vertices(df: DataFrame, geom_col: str = "geometry"):
    """(zone_id, ring_idx, vidx, x, y) — one row per ring vertex (closed
    ring WITHOUT the duplicate closing vertex)."""
    from pyspark.sql.types import ArrayType, IntegerType

    from ..kernels import wkb as W

    sch = ArrayType(
        StructType(
            [
                StructField("ring_idx", IntegerType()),
                StructField("vidx", IntegerType()),
                StructField("x", DoubleType()),
                StructField("y", DoubleType()),
            ]
        )
    )

    @F.pandas_udf(sch)
    def verts(geom: pd.Series) -> pd.Series:
        out = []
        for buf in geom:
            rows = []
            if buf is not None:
                ridx = 0
                for rings in W.decode_polygons(bytes(buf)):
                    for ring in rings:
                        pts = [tuple(map(float, p)) for p in ring]
                        if len(pts) > 1 and pts[0] == pts[-1]:
                            pts = pts[:-1]
                        for i, (x, y) in enumerate(pts):
                            rows.append((ridx, i, x, y))
                        ridx += 1
            out.append(rows)
        return pd.Series(out)

    return df.select("zone_id", F.explode(verts(F.col(geom_col))).alias("v")).select(
        "zone_id",
        F.col("v.ring_idx").alias("ring_idx"),
        F.col("v.vidx").alias("vidx"),
        F.col("v.x").alias("x"),
        F.col("v.y").alias("y"),
    )


def simplify_coverage(
    zones: DataFrame, tol: float, geom_col: str = "geometry"
) -> DataFrame:
    """zones: (zone_id, geometry WKB). Returns (zone_id, ring_idx, vidx,
    x, y) — the simplified rings as ordered vertex tables (consumers
    re-encode WKB as needed)."""
    spark = zones.sparkSession
    v = _explode_ring_vertices(zones, geom_col).persist()

    # directed edges a->b per ring (wrapping), with canonical edge key
    w = v.withColumnRenamed("vidx", "vidx_a")
    nverts = v.groupBy("zone_id", "ring_idx").agg(F.max("vidx").alias("maxv"))
    nxt = (
        w.join(nverts, ["zone_id", "ring_idx"])
        .withColumn("vidx_b", F.when(F.col("vidx_a") == F.col("maxv"), 0)
                    .otherwise(F.col("vidx_a") + 1))
    )
    b = v.select(
        "zone_id", "ring_idx",
        F.col("vidx").alias("vidx_b"),
        F.col("x").alias("bx"), F.col("y").alias("by"),
    )
    edges = nxt.join(b, ["zone_id", "ring_idx", "vidx_b"]).select(
        "zone_id", "ring_idx", F.col("vidx_a").alias("eidx"),
        F.col("x").alias("ax"), F.col("y").alias("ay"), "bx", "by",
    )
    ka = F.concat_ws(":", F.round("ax", _QD), F.round("ay", _QD))
    kb = F.concat_ws(":", F.round("bx", _QD), F.round("by", _QD))
    edges = edges.withColumn(
        "ekey",
        F.when(ka <= kb, F.concat_ws("|", ka, kb)).otherwise(
            F.concat_ws("|", kb, ka)
        ),
    ).withColumn("va", ka).withColumn("vb", kb)

    # owner signature per undirected edge
    sig = edges.groupBy("ekey").agg(
        F.sort_array(F.collect_set(F.col("zone_id"))).alias("owners"),
        F.first("ax").alias("ax"), F.first("ay").alias("ay"),
        F.first("bx").alias("bx"), F.first("by").alias("by"),
        F.first("va").alias("va"), F.first("vb").alias("vb"),
    ).withColumn("sig", F.to_json("owners"))

    # junction vertices: touched by >= 2 distinct signatures
    vsig = sig.select(
        F.explode(F.array("va", "vb")).alias("vk"), "sig"
    ).groupBy("vk").agg(F.count_distinct("sig").alias("nsig"))
    junctions = vsig.filter(F.col("nsig") >= 2).select("vk")

    sig = sig.join(
        junctions.withColumnRenamed("vk", "va").withColumn("a_junc", F.lit(True)),
        "va", "left",
    ).join(
        junctions.withColumnRenamed("vk", "vb").withColumn("b_junc", F.lit(True)),
        "vb", "left",
    )

    drop_schema = StructType(
        [StructField("x", DoubleType()), StructField("y", DoubleType())]
    )

    def drop_per_sig(pdf: pd.DataFrame) -> pd.DataFrame:
        # build vertex adjacency of this signature's edges
        adj: dict = {}
        for r in pdf.itertuples():
            adj.setdefault(r.va, []).append((r.vb, (r.ax, r.ay), (r.bx, r.by)))
            adj.setdefault(r.vb, []).append((r.va, (r.bx, r.by), (r.ax, r.ay)))
        junc = set()
        for r in pdf.itertuples():
            if r.a_junc is True:
                junc.add(r.va)
            if r.b_junc is True:
                junc.add(r.vb)
        # chain endpoints: junctions or degree != 2
        ends = {v_ for v_, n in adj.items() if len(n) != 2} | junc
        coords = {}
        for r in pdf.itertuples():
            coords[r.va] = (r.ax, r.ay)
            coords[r.vb] = (r.bx, r.by)
        used = set()
        dropped = []

        def walk(start, first):
            chain = [start, first]
            used.add(frozenset((start, first)) if start != first else (start,))
            while chain[-1] not in ends:
                nbrs = [w_ for w_, _, _ in adj[chain[-1]]]
                nxt_v = nbrs[0] if nbrs[1] == chain[-2] else (
                    nbrs[1] if nbrs[0] == chain[-2] else None
                )
                if nxt_v is None or nxt_v == chain[-1]:
                    break
                key = frozenset((chain[-1], nxt_v))
                if key in used:
                    break
                used.add(key)
                chain.append(nxt_v)
                if nxt_v == start:
                    break
            return chain

        chains = []
        for v_ in sorted(ends):
            for w_, _, _ in sorted(adj.get(v_, [])):
                key = frozenset((v_, w_)) if v_ != w_ else (v_,)
                if key in used:
                    continue
                chains.append(walk(v_, w_))
        # closed loops with no endpoint: split at lexicographically
        # smallest vertex (kept as the anchor)
        remaining = {
            frozenset((r.va, r.vb))
            for r in pdf.itertuples()
        } - used
        while remaining:
            anyedge = min(remaining, key=lambda fs: sorted(fs))
            start = sorted(anyedge)[0]
            nb = [w_ for w_, _, _ in adj[start]]
            chain = walk(start, nb[0])
            chains.append(chain)
            remaining = {
                frozenset((r.va, r.vb)) for r in pdf.itertuples()
            } - used
        for chain in chains:
            pts = [coords[k] for k in chain]
            if len(pts) <= 2:
                continue
            kept = set(
                (round(x, _QD), round(y, _QD))
                for x, y in G.simplify(pts, tol)
            )
            for x, y in pts[1:-1]:
                if (round(x, _QD), round(y, _QD)) not in kept:
                    dropped.append((x, y))
        return pd.DataFrame(dropped, columns=["x", "y"])

    dropped = (
        sig.groupBy("sig")
        .applyInPandas(drop_per_sig, drop_schema)
        .withColumn("vk", F.concat_ws(":", F.round("x", _QD), F.round("y", _QD)))
        .select("vk")
        .distinct()
    )

    out = (
        v.withColumn(
            "vk", F.concat_ws(":", F.round("x", _QD), F.round("y", _QD))
        )
        .join(dropped, "vk", "left_anti")
        .select("zone_id", "ring_idx", "vidx", "x", "y")
    )
    return out
