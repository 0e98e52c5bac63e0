"""DuckDB oracle-SQL fragments mirroring the engine's JVM column math.

Every fragment reproduces the corresponding functions/geo.py expression with
the SAME operation order and the SAME double literals, so Spark and DuckDB
compute bit-identical doubles wherever the math is rational (integer lattice
inputs, exact literals); transcendental steps (log/tan/trig) agree to the
libm/JVM correctly-rounded results, and all query fixtures keep data away
from decision boundaries so a last-ulp difference can never flip a
floor/ceil/comparison (see operators/pages.py lattice notes).

Reference semantics mirrored here (for judge parity checks):
  * GlobalMercator chain — gdal2tiles.py:422-531 (LatLonToMeters,
    MetersToPixels, PixelsToTile ceil(p/256)-1 — NO clamp, so lon=-180
    maps to tx=-1 exactly as the reference does; GoogleTile y-flip).
  * point burn = integer truncation of the pixel coordinate
    (llrasterize.cpp:270-278).
"""

from __future__ import annotations

from .functions.geo import INITIAL_RESOLUTION, MAX_LATITUDE, ORIGIN_SHIFT, TILE_SIZE

PI = 3.141592653589793
PI_OVER_180 = PI / 180.0  # 0.017453292519943295


def resolution(zoom: int) -> float:
    return INITIAL_RESOLUTION / (2**zoom)


def sql_mercator_x(lon: str) -> str:
    return f"(({lon}) * {ORIGIN_SHIFT!r} / 180.0)"


def sql_clip_lat(lat: str) -> str:
    return f"GREATEST({-MAX_LATITUDE!r}, LEAST({MAX_LATITUDE!r}, {lat}))"


def sql_mercator_y(lat: str) -> str:
    clipped = sql_clip_lat(lat)
    return (
        f"((LN(TAN((90.0 + {clipped}) * {PI!r} / 360.0)) / {PI_OVER_180!r})"
        f" * {ORIGIN_SHIFT!r} / 180.0)"
    )


def sql_pixels(m: str, zoom: int) -> str:
    return f"(({m} + {ORIGIN_SHIFT!r}) / {resolution(zoom)!r})"


def sql_pixels_to_tile(p: str) -> str:
    return f"(CAST(CEIL({p} / 256.0) AS BIGINT) - 1)"


def sql_tile_x(lon: str, zoom: int) -> str:
    return sql_pixels_to_tile(sql_pixels(sql_mercator_x(lon), zoom))


def sql_tile_y_tms(lat: str, zoom: int) -> str:
    return sql_pixels_to_tile(sql_pixels(sql_mercator_y(lat), zoom))


def sql_tile_y_google(lat: str, zoom: int) -> str:
    return f"({2**zoom - 1} - {sql_tile_y_tms(lat, zoom)})"


def sql_pixel_rows(zoom: int, pages: str = "p") -> str:
    """Per-page (zoom,tx,ty,px,py) identical to operators/tiles.with_pixels
    (google scheme): tile = floored-global-pixel div 256, pixel = mod 256,
    so px/py are always in range even for exact tile-boundary points.
    Emits a SELECT over `pages` (needs lat/lon)."""
    gpx = f"CAST(FLOOR({sql_pixels(sql_mercator_x('lon'), zoom)}) AS BIGINT)"
    gpy = f"CAST(FLOOR({sql_pixels(sql_mercator_y('lat'), zoom)}) AS BIGINT)"
    return f"""
      SELECT CAST({zoom} AS INTEGER) AS zoom,
             ({gpx} // {TILE_SIZE}) AS tx,
             ({2**zoom - 1} - ({gpy} // {TILE_SIZE})) AS ty,
             CAST({gpx} % {TILE_SIZE} AS INTEGER) AS px,
             CAST({TILE_SIZE - 1} - ({gpy} % {TILE_SIZE}) AS INTEGER) AS py
      FROM {pages} WHERE lat IS NOT NULL
    """


def sql_hex_cell_from_m(mx: str, my: str, res: int) -> str:
    """Hex cell id from mercator-meter columns — mirrors
    functions/cells_sql.hex_cell op-for-op (same SIZES literal, same
    cube rounding with floor(x+0.5) ties, same int64 packing)."""
    from .kernels.hexcell import SIZES, SQRT3

    s = float(SIZES[res])
    qf = f"((({SQRT3 / 3.0!r} * {mx}) - ({my} / 3.0)) / {s!r})"
    rf = f"(({2.0 / 3.0!r} * {my}) / {s!r})"
    sf = f"(-{qf} - {rf})"
    q = f"CAST(FLOOR({qf} + 0.5) AS BIGINT)"
    r = f"CAST(FLOOR({rf} + 0.5) AS BIGINT)"
    s3 = f"CAST(FLOOR({sf} + 0.5) AS BIGINT)"
    dq = f"ABS(CAST({q} AS DOUBLE) - {qf})"
    dr = f"ABS(CAST({r} AS DOUBLE) - {rf})"
    ds = f"ABS(CAST({s3} AS DOUBLE) - {sf})"
    fix_q = f"(({dq} > {dr}) AND ({dq} > {ds}))"
    fix_r = f"((NOT {fix_q}) AND ({dr} > {ds}))"
    q2 = f"(CASE WHEN {fix_q} THEN -{r} - {s3} ELSE {q} END)"
    r2 = f"(CASE WHEN {fix_r} THEN -{q2} - {s3} ELSE {r} END)"
    off = 1 << 27
    return f"(CAST({res * (1 << 56)} AS BIGINT) + ({q2} + {off}) * {1 << 28} + ({r2} + {off}))"


def sql_quadkey(tx: str, ty_google: str, zoom: int) -> str:
    """Microsoft QuadTree key from GOOGLE-scheme tile coords — mirrors
    GlobalMercator.QuadTree (gdal2tiles.py:517-531; the reference flips
    TMS->google first, ty_google is already flipped). Identical SQL text
    runs on Spark and DuckDB (&, CASE, concat)."""
    digits = []
    for i in range(zoom, 0, -1):
        m = 1 << (i - 1)
        digits.append(
            f"CAST((CASE WHEN (({tx}) & {m}) != 0 THEN 1 ELSE 0 END) + "
            f"(CASE WHEN (({ty_google}) & {m}) != 0 THEN 2 ELSE 0 END) AS STRING)"
        )
    return "concat(" + ", ".join(digits) + ")"


def sql_haversine(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Mirrors functions/geo.haversine_m op order exactly."""
    a = (
        f"(POW(SIN(RADIANS(({lat2}) - ({lat1})) / 2), 2) + "
        f"COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * "
        f"POW(SIN(RADIANS(({lon2}) - ({lon1})) / 2), 2))"
    )
    return f"({2.0 * 6378137.0!r} * ASIN(SQRT({a})))"


# ------------------------------------------------------------ parity check

ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def duckdb_views(sf_dir: str):
    """DuckDB connection with one view per parquet table of `sf_dir` —
    the relations every __spark_entry__.oracle_sql() entry reads."""
    import duckdb

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df):
    """Order-insensitive form of a pandas result: columns by name, bytes
    as hex, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v
            )
    return df.sort_values(list(df.columns), ignore_index=True)


def frame_mismatches(got, exp) -> list[str]:
    """How a Spark result differs from its oracle (both pandas frames):
    column names, row count, then exact values per column with NULL ==
    NULL, all order-insensitive. Empty when they match."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return [f"columns {list(g.columns)} vs {list(e.columns)}"]
    if len(g) != len(e):
        return [f"rows {len(g)} vs {len(e)}"]
    out = []
    for c in g.columns:
        a, b = g[c], e[c]
        try:
            eq = (a.values == b.values) | (a.isna().values & b.isna().values)
            if eq.all():
                continue
        except Exception as ex:  # noqa: BLE001
            out.append(f"col {c} compare error {ex}")
            continue
        bad = (~eq).nonzero()[0][:5]
        out.append(
            f"col {c} mismatch rows {bad.tolist()}:"
            + "".join(f"\n   got={a.iloc[i]!r} exp={b.iloc[i]!r}" for i in bad)
        )
    return out
