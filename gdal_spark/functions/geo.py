"""Spherical-mercator + XYZ tile math as pure Column expressions.

Same closed forms as kernels/mercator.py (gdal2tiles.py:417-531), expressed
with pyspark.sql.functions so Catalyst keeps them inside WholeStageCodegen —
tile assignment of 10^12 rows never touches Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ORIGIN_SHIFT = 20037508.342789244
INITIAL_RESOLUTION = 156543.03392804062
MAX_LATITUDE = 85.05112878
TILE_SIZE = 256


def clip_lat(lat: Column) -> Column:
    """gdal2tiles.py:349 latitude clip."""
    return F.greatest(F.lit(-MAX_LATITUDE), F.least(F.lit(MAX_LATITUDE), lat))


def mercator_x(lon: Column) -> Column:
    """LatLonToMeters mx (gdal2tiles.py:425)."""
    return lon * F.lit(ORIGIN_SHIFT) / F.lit(180.0)


def mercator_y(lat: Column) -> Column:
    """LatLonToMeters my (gdal2tiles.py:426-428)."""
    my = F.log(F.tan((F.lit(90.0) + lat) * F.lit(3.141592653589793) / F.lit(360.0))) / F.lit(
        3.141592653589793 / 180.0
    )
    return my * F.lit(ORIGIN_SHIFT) / F.lit(180.0)


def resolution(zoom: int) -> float:
    return INITIAL_RESOLUTION / (2**zoom)


def pixels_x(mx: Column, zoom: int) -> Column:
    """MetersToPixels px (gdal2tiles.py:452-458)."""
    return (mx + F.lit(ORIGIN_SHIFT)) / F.lit(resolution(zoom))


def pixels_to_tile(p: Column) -> Column:
    """PixelsToTile: ceil(p/256)-1 (gdal2tiles.py:460-465)."""
    return (F.ceil(p / F.lit(float(TILE_SIZE))) - F.lit(1)).cast("long")


def tile_y_tms(lat: Column, zoom: int) -> Column:
    """lat -> TMS tile y at zoom."""
    return pixels_to_tile(pixels_x(mercator_y(clip_lat(lat)), zoom))


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle meters, R=6378137 — JVM-side kNN re-rank metric."""
    rl1 = F.radians(lat1)
    rl2 = F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * 6378137.0) * F.asin(F.sqrt(a))
