"""Per-group exact top-k heavy hitters.

The reference has no frequency operator (feasts is per-series features
only); this is rollup-engine surface in the spirit of TimescaleDB's
`topn_agg` / ClickHouse `topK`, but EXACT: the first stage is a plain
hash aggregate `count(*) GROUP BY (group, item)`, which Spark executes
as a partial/final aggregate with map-side combine — the shuffle moves
one row per distinct (group, item), not one per input row. At 10^12
input rows with bounded item cardinality per group (event types, tools,
roles) that is a ~10^6× shuffle reduction, which is why exact beats a
space-saving sketch here: the sketch only wins when items-per-group is
itself unbounded.

The rank stage is a window over the already-aggregated rows (tiny), tie
broken by item value ascending so the selection is deterministic and
cross-engine reproducible (the DuckDB oracle replays the identical
ORDER BY cnt DESC, item ASC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def topk_by_group(
    df: DataFrame,
    k: int,
    group_cols: list[str],
    item_col: str,
    count_col: str = "cnt",
    rank_col: str = "rnk",
) -> DataFrame:
    """Top-k `item_col` values per group by exact count.

    Output: group_cols..., item_col, `count_col` (bigint), `rank_col`
    (1-based, dense over the deterministic (count DESC, item ASC) order).
    Two exchanges total: one for the (group, item) aggregate (map-side
    combined), one for the window repartition on group_cols — both keyed
    on low-cardinality aggregate rows, not raw data.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    counts = df.groupBy(*group_cols, item_col).agg(
        F.count(F.lit(1)).alias(count_col)
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(count_col).desc(), F.col(item_col).asc()
    )
    return (
        counts.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
