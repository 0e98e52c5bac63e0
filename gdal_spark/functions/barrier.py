"""Expression-placement barriers.

`once(col)` wraps a column in `element_at(shuffle(array(col)), 1)` — a
JVM-cheap no-op that is flagged nondeterministic, which stops Catalyst
from (a) inlining an expensive expression into every downstream consumer
(CollapseProject) and (b) pushing a refine filter into a join condition
where it would be re-evaluated per candidate pair instead of per
surviving row. Use it deliberately and sparingly: it also blocks
legitimate predicate pushdown through itself.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def once(col: Column) -> Column:
    return F.element_at(F.shuffle(F.array(col)), 1)


def cheap_once(col: Column) -> Column:
    """Same anti-inlining barrier at near-zero per-row cost:
    `CASE WHEN spark_partition_id() >= -1 THEN col END` is always-true
    but flagged nondeterministic, and stays inside whole-stage codegen
    (the shuffle(array(col)) form allocates an array per row — measured
    6x on a 1M-row scan). Marks the column nullable; use `once` where
    the stricter single-evaluation placement of a FILTER is the point.

    The earlier `rand(7) >= -1.0` form is ELIMINATED by Spark 4.1's
    optimizer (a range-based comparison fold on Rand) — the barrier
    silently vanished and hex_cell's cube-rounding re-inlined the
    mercator subtrees ~9x, blowing generated methods past the JVM's
    hard 64KB limit (janino fail -> interpreted fallback; the Tier-1
    codegen gate now fails on it). spark_partition_id() comparisons survive
    (pinned by tests/test_plans.py::test_cheap_once_survives_optimizer)."""
    return F.when(F.spark_partition_id() >= F.lit(-1), col)
