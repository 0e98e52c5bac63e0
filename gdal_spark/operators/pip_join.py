"""Point-in-polygon spatial join: the engine's flagship operator.

Re-expresses the reference's two-phase spatial filter + nested-loop layer
algebra (SURVEY.md §2.2/§2.3) as a Spark join:

  reference: for each feature, SetSpatialFilterRect(envelope) on the other
  layer, then exact prepared-geometry Intersects
  (/root/reference/ogr/ogrlayer.cpp:2253-2325 FilterGeometry two-phase;
  :3345+ Intersection nested loop)

  engine, broadcast strategy (zones small — the common case):
  pages ⋈ broadcast(zone envelopes) on bbox range predicate (Catalyst
  BroadcastNestedLoopJoin over tiny dim; phase 1) → crossing-parity
  refine over the zones' compiled segment arrays (JVM expression, phase 2;
  exact reference crossing rule).

  engine, cell-bucketed strategy (zones large — the 100 TB path):
  zones explode to covering hex cells (kernels/hexcell.cover_bbox superset)
  → shuffle-free page cell assignment (JVM column math) → equi-JOIN on cell
  (hash join, AQE skew-split) with optional explicit salting of hot cells →
  same exact refine. Each page has exactly one res-R cell and each zone
  covers a cell at most once, so no post-join dedup is needed.

Both strategies return identical rows (tested); output = pages columns +
zone columns for every containment pair (inner-join semantics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.barrier import once
from ..functions.cells_sql import hex_cell
from ..kernels import hexcell as HX
from ..kernels import wkb as W


from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

SEGMENTS_SCHEMA = ArrayType(  # poly -> ring -> segment
    ArrayType(
        ArrayType(
            StructType(
                [
                    StructField("x1", DoubleType()),
                    StructField("y1", DoubleType()),
                    StructField("x2", DoubleType()),
                    StructField("y2", DoubleType()),
                ]
            )
        )
    )
)


@F.pandas_udf(SEGMENTS_SCHEMA)
def _compile_segments(geom: pd.Series) -> pd.Series:
    """Zones-side compile: WKB -> nested poly/ring/segment arrays.

    Runs once per zone row (zones are small relative to pages), so the WKB
    decode cost is negligible; the payoff is that the page-side refine
    becomes pure JVM column math (see _inside_expr).
    """
    out = []
    for buf in geom:
        if buf is None:
            out.append(None)
            continue
        polys = []
        for rings in W.decode_polygons(bytes(buf)):
            ring_list = []
            for ring in rings:
                segs = [
                    # (x1,y1)=current vertex, (x2,y2)=previous vertex —
                    # exactly the reference loop order (ogrlinearring.cpp:498)
                    {
                        "x1": float(ring[i, 0]),
                        "y1": float(ring[i, 1]),
                        "x2": float(ring[i - 1, 0]),
                        "y2": float(ring[i - 1, 1]),
                    }
                    for i in range(1, ring.shape[0])
                ]
                ring_list.append(segs)
            polys.append(ring_list)
        out.append(polys)
    return pd.Series(out)


def _ring_inside(ring: str, lat: str, lon: str) -> str:
    """Crossing-parity SQL for one ring of segments — mirrors the numpy
    kernel (kernels/pip.py) and the reference rule bit-for-bit:
    straddle (y1>0) vs (y2<=0) with test-point-relative coords, x-intercept
    STRICTLY > 0 (ogrlinearring.cpp:519), odd crossing count => inside."""
    crossing = (
        f"CASE WHEN ((s.y1 - {lat} > 0.0) AND (s.y2 - {lat} <= 0.0)) "
        f"OR ((s.y2 - {lat} > 0.0) AND (s.y1 - {lat} <= 0.0)) THEN "
        f"(CASE WHEN ((s.x1 - {lon}) * (s.y2 - {lat}) - (s.x2 - {lon}) * (s.y1 - {lat})) "
        f"/ ((s.y2 - {lat}) - (s.y1 - {lat})) > 0.0 THEN 1 ELSE 0 END) ELSE 0 END"
    )
    return f"(aggregate({ring}, 0, (acc, s) -> acc + ({crossing})) % 2 = 1)"


def _inside_expr(lat: str = "lat", lon: str = "lon", polys: str = "polys") -> str:
    """Point-in-(multi)polygon as a pure JVM expression over the compiled
    segment arrays: inside any polygon's outer ring and in none of its
    holes. No Python, no shuffle, no Arrow transfer — the exact refine
    runs inside whole-stage codegen next to the bbox prefilter.

    (The earlier pandas_udf refine was correct but paid a 10x penalty:
    ArrowEvalPython buffers all pass-through columns (html/text) JVM-side
    while batches round-trip to Python — measured 32s vs 3s on 2M rows.)
    """
    outer = _ring_inside("p[0]", lat, lon)
    hole = _ring_inside("h", lat, lon)
    return (
        f"exists({polys}, p -> {outer} AND NOT exists(slice(p, 2, size(p) - 1), h -> {hole}))"
    )


def _polys_of(buf: bytes):
    polys = []
    for rings in W.decode_polygons(buf):
        ring_list = []
        for ring in rings:
            ring_list.append(
                [
                    {
                        "x1": float(ring[i, 0]),
                        "y1": float(ring[i, 1]),
                        "x2": float(ring[i - 1, 0]),
                        "y2": float(ring[i - 1, 1]),
                    }
                    for i in range(1, ring.shape[0])
                ]
            )
        polys.append(ring_list)
    return polys


def _with_polys(zdf: DataFrame, driver_threshold: int = 2000) -> DataFrame:
    """Attach compiled segment arrays; small zone tables compile
    driver-side (no python-worker spin-up), large ones via pandas_udf."""
    n = zdf.limit(driver_threshold + 1).count()
    if n > driver_threshold:
        return zdf.withColumn("polys", _compile_segments(F.col("geometry")))
    rows = zdf.select("zone_id", "geometry").distinct().collect()
    spark = zdf.sparkSession
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("zone_id", LongType()), StructField("polys", SEGMENTS_SCHEMA)]
    )
    from ..session import local_df

    pdf = local_df(spark,
        [(r["zone_id"], _polys_of(bytes(r["geometry"]))) for r in rows], schema
    )
    return zdf.join(F.broadcast(pdf), "zone_id")


# Envelope columns that _zone_envelopes attaches. Reserved names, so a
# zones frame with its own minx..maxy columns keeps them and still gets
# its true envelope.
ENV_COLS = ("_env_minx", "_env_miny", "_env_maxx", "_env_maxy")


def _zone_envelopes(zones: DataFrame, driver_threshold: int = 2000) -> DataFrame:
    """Attach envelope columns (ENV_COLS) to zones — equivalent of
    OGRGeometry::getEnvelope. Small tables compile driver-side (no
    python-worker spin-up); past driver_threshold the envelopes come from
    a pandas_udf instead so a direct pip_join_broadcast call on a large
    zones table cannot OOM the driver (same guard as _with_polys).

    Idempotent: input already carrying ENV_COLS passes through, so a
    caller that enriches a side once can hand it to several operators
    without a second probe. The small-side probe is a single collect
    (not count-then-collect): every call used to cost two eager driver
    jobs, and micro-job scheduling latency — not data — dominated the
    overlay ops' wall on small layers."""
    if set(ENV_COLS) <= set(zones.columns):
        return zones
    head = (
        zones.select("zone_id", "geometry")
        .limit(driver_threshold + 1)
        .collect()
    )
    env_ddl = ", ".join(f"{c} double" for c in ENV_COLS)
    if len(head) > driver_threshold:
        @F.pandas_udf(env_ddl)
        def _env(geom: pd.Series) -> pd.DataFrame:
            vals = [
                W.envelope(bytes(buf)) if buf is not None else (None,) * 4
                for buf in geom
            ]
            return pd.DataFrame(vals, columns=list(ENV_COLS))

        z = zones.withColumn("_env", _env(F.col("geometry")))
        return z.select("*", *[f"_env.{c}" for c in ENV_COLS]).drop("_env")
    env = [
        (r["zone_id"],) + W.envelope(bytes(r["geometry"]))
        for r in head
    ]
    spark = zones.sparkSession
    from ..session import local_df

    edf = local_df(spark,
        env, "zone_id long, " + env_ddl
    )
    return zones.join(F.broadcast(edf), "zone_id")


def pip_join_broadcast(
    pages: DataFrame,
    zones: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Broadcast strategy: bbox theta-join (phase 1) + exact refine (phase 2),
    crossing-parity over the zones' compiled segment arrays."""
    z = _with_polys(_zone_envelopes(zones))
    lat, lon = F.col(lat_col), F.col(lon_col)
    minx, miny, maxx, maxy = (F.col(c) for c in ENV_COLS)
    cond = (
        lat.isNotNull()
        & (lon >= minx)
        & (lon <= maxx)
        & (lat >= miny)
        & (lat <= maxy)
    )
    joined = pages.join(F.broadcast(z), cond, "inner")
    # `once` keeps the parity refine OUT of the join condition — pushed
    # in, it would run per candidate pair (measured 20M evals, 174s)
    # instead of per bbox-surviving row
    refined = joined.filter(once(F.expr(_inside_expr(lat_col, lon_col))))
    return refined.drop(*ENV_COLS, "polys")


LADDER = (3, 6, 9)  # coarse->fine adaptive cover resolutions


def _cover_of(buf: bytes, res: int | None, max_cells: int):
    from ..kernels.mercator import clip_lat, latlon_to_meters

    minx, miny, maxx, maxy = W.envelope(buf)
    mx, my = latlon_to_meters(clip_lat(np.array([miny, maxy])), np.array([minx, maxx]))
    if res is None:
        return HX.cover_bbox_adaptive(
            float(mx[0]), float(my[0]), float(mx[1]), float(my[1]),
            ladder=LADDER, max_cells=max_cells,
        )
    return HX.cover_bbox(float(mx[0]), float(my[0]), float(mx[1]), float(my[1]), res)


def zone_cells(
    zones: DataFrame,
    res: int | None = None,
    max_cells: int = 4096,
    driver_threshold: int = 2000,
) -> DataFrame:
    """Explode zones to covering hex cells (superset cover).

    res=None (default) picks the finest LADDER res per zone whose cover
    stays under max_cells — a continent-sized zone gets ~2k coarse cells
    while a city zone gets fine ones (fewer refine false-positives).

    Small zone tables (<= driver_threshold rows) compute covers
    driver-side and skip the python-worker spin-up entirely (they would
    pay ~10-60s of cold Arrow workers for milliseconds of math); larger
    tables distribute via pandas_udf.
    """
    from pyspark.sql.types import ArrayType, LongType

    from ..kernels.mercator import clip_lat, latlon_to_meters

    n = zones.limit(driver_threshold + 1).count()
    if n <= driver_threshold:
        rows = zones.select("zone_id", "geometry").collect()
        spark = zones.sparkSession
        cells = [
            (r["zone_id"], [int(c) for c in _cover_of(bytes(r["geometry"]), res, max_cells)])
            for r in rows
        ]
        from ..session import local_df

        cdf = local_df(spark, cells, "zone_id long, cells array<long>")
        return zones.join(F.broadcast(cdf), "zone_id").withColumn(
            "cell", F.explode("cells")
        ).drop("cells")

    @F.pandas_udf(ArrayType(LongType()))
    def _cover(geom: pd.Series) -> pd.Series:
        out = []
        for buf in geom:
            if buf is None:
                out.append([])
                continue
            minx, miny, maxx, maxy = W.envelope(bytes(buf))
            mx, my = latlon_to_meters(
                clip_lat(np.array([miny, maxy])), np.array([minx, maxx])
            )
            if res is None:
                cells = HX.cover_bbox_adaptive(
                    float(mx[0]), float(my[0]), float(mx[1]), float(my[1]),
                    ladder=LADDER, max_cells=max_cells,
                )
            else:
                cells = HX.cover_bbox(
                    float(mx[0]), float(my[0]), float(mx[1]), float(my[1]), res
                )
            out.append(cells.tolist())
        return pd.Series(out)

    return zones.withColumn("cell", F.explode(_cover(F.col("geometry"))))


def hot_cell_salts(
    pages: DataFrame,
    res_list=None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    rows_per_task: int = 2_000_000,
    sample: float | None = None,
) -> dict[int, int]:
    """Histogram-driven salt factors: cell -> k for cells whose page count
    exceeds rows_per_task (SURVEY §7: "hot-cell salting with s from cell
    histogram"). One aggregation over (optionally sampled) pages; the
    result is a small dict (only hot cells appear) suitable to embed in
    the join as a broadcast map."""
    res_list = list(res_list or LADDER)
    p = pages.filter(F.col(lat_col).isNotNull())
    if sample:
        p = p.sample(fraction=sample, seed=42)
    # stage cell ids before the explode (same 64KB generate_doConsume
    # reasoning as pip_join_bucketed)
    lad = [f"_hexl{r}" for r in res_list]
    hist = (
        p.select(
            *[
                hex_cell(F.col(lat_col), F.col(lon_col), r, barrier=False).alias(c)
                for r, c in zip(res_list, lad)
            ]
        )
        .select(F.explode(F.array(*lad)).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scale = 1.0 / sample if sample else 1.0
    thresh = rows_per_task / scale
    rows = hist.filter(F.col("n") > thresh).collect()
    return {
        int(r["cell"]): int(-(-r["n"] * scale // rows_per_task)) for r in rows
    }


def pip_join_bucketed(
    pages: DataFrame,
    zones: DataFrame,
    res: int | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    salt: int | dict = 0,
) -> DataFrame:
    """Cell-bucketed equi-join strategy (scale path).

    res=None: adaptive multi-res zone cover over LADDER; pages explode to
    one cell per ladder res (cell ids embed res, so each (page, zone) pair
    can meet on at most one key — no dedup needed). res=k: single-res mode.

    salt: explicit hot-cell skew handling per the north rule (on top of
    AQE skew-join splitting). An int k splits EVERY cell's page population
    into k sub-keys (zone cells replicate xk). A dict {cell: k} (from
    hot_cell_salts) salts only the hot cells, each by its own factor —
    cold cells pay nothing.
    """
    # compile polys BEFORE the cell explode (the exploded table exceeds
    # the driver-side threshold even for tiny zone sets)
    zc = zone_cells(_with_polys(zones), res)
    p = pages.filter(F.col(lat_col).isNotNull())
    if res is None:
        # stage the ladder cell ids as PROJECTED COLUMNS before the
        # explode: everything downstream of a Generate fuses into one
        # generate_doConsume method that Spark cannot split, and three
        # inlined hex trees push it past the JVM's hard 64KB method
        # limit — janino fails and the whole stage runs interpreted
        # (the Tier-1 codegen gate fails on it; the staged Project
        # compiles into its own splittable method and the Generate reads
        # 3 longs)
        lad = [f"_hexl{r}" for r in LADDER]
        p = (
            p.select(
                "*",
                *[
                    # barrier=False: the staged Project is itself the
                    # anti-fusion boundary here, and deterministic trees
                    # let codegen subexpression elimination dedup the
                    # repeated qf/rf subtrees (a barriered CASE branch
                    # is excluded from that dedup and overflows 64KB)
                    hex_cell(F.col(lat_col), F.col(lon_col), r, barrier=False).alias(c)
                    for r, c in zip(LADDER, lad)
                ],
            )
            .withColumn("cell", F.explode(F.array(*lad)))
            .drop(*lad)
        )
    else:
        p = p.withColumn("cell", hex_cell(F.col(lat_col), F.col(lon_col), res))
    if isinstance(salt, dict) and salt:
        k_map = F.create_map(
            *[F.lit(v) for kv in salt.items() for v in kv]
        )
        k_of = F.coalesce(k_map[F.col("cell")], F.lit(1))
        p = p.withColumn("_salt", F.pmod(F.xxhash64("url"), k_of))
        max_k = max(salt.values())
        zc = (
            zc.withColumn("_k", F.coalesce(k_map[F.col("cell")], F.lit(1)))
            .withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(max_k)])))
            .filter(F.col("_salt") < F.col("_k"))
            .drop("_k")
        )
        keys = ["cell", "_salt"]
    elif isinstance(salt, int) and salt > 0:
        p = p.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(salt)))
        zc = zc.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
        keys = ["cell", "_salt"]
    else:
        keys = ["cell"]
    joined = p.join(zc, keys, "inner")
    refined = joined.filter(once(F.expr(_inside_expr(lat_col, lon_col)))).drop("polys")
    return refined.drop("cell", "_salt") if "_salt" in keys else refined.drop("cell")


def pip_join(pages: DataFrame, zones: DataFrame, strategy: str = "auto", **kw) -> DataFrame:
    """Dispatch: broadcast for small zone tables, cell-bucketed otherwise."""
    if strategy == "broadcast":
        return pip_join_broadcast(pages, zones, **kw)
    if strategy == "bucketed":
        return pip_join_bucketed(pages, zones, **kw)
    # auto: zones row count is cheap on dims; threshold mirrors Spark's
    # broadcast-join default intent (10 MB dim ≈ few thousand polygons)
    n = zones.limit(5001).count()
    if n <= 5000:
        return pip_join_broadcast(pages, zones, **{k: v for k, v in kw.items() if k in ("lat_col", "lon_col")})
    return pip_join_bucketed(pages, zones, **kw)
