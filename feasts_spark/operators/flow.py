"""Conversation-flow analytics over the transcript shape.

The graft's payload is multi-turn conversation / agent transcripts
(conv_id, turn_idx, role, text, tool, ts). Beyond per-turn integrity and
per-conversation features, the questions an operator of a transcript
corpus actually asks are *flow*-shaped:

  - the role-transition matrix: how often does `user -> assistant`,
    `assistant -> tool`, `tool -> assistant` ... happen, and with what
    row-stochastic probability (a first-order Markov view of the corpus);
  - inter-turn latency: the distribution (mean / p50 / p90 / p99) of the
    wall-clock gap between a turn and the one before it, keyed by the
    same (role_from, role_to) pair — "how long does the assistant take
    to answer a user", "how long do tool calls run";
  - tool usage: per-tool call volume, conversation reach, and the same
    latency distribution restricted to that tool's turns.

All three share one lineage: a single lag window partitioned by
conversation (role_from = lag(role), delta_s = ts - lag(ts)) followed by
tiny hash aggregates. Spark shape at 10^12 turns:

  - ONE shuffle on conv_id for the lag window (the same partitioning
    every per-conversation operator in this engine uses — co-partitioned
    with rollups/features, so AQE can reuse the exchange);
  - the (role_from, role_to) and tool aggregates are map-side partial:
    output cardinality is |roles|^2 + |tools| — a few dozen rows
    regardless of corpus size, so the final exchange is negligible;
  - `share` normalizations run as a window over those few dozen rows.

Everything is built-in JVM expressions (lag / percentile / avg /
count distinct) — no Python in the plan. `percentile` is Spark's exact
linear-interpolation aggregate, the same interpolation DuckDB's
quantile_cont uses, which is what makes the pack value-oracle-able.

Reference parity note: feasts has no transcript-flow surface (it is a
tsibble feature package); this module is part of the engine's native
transcript tier alongside operators/integrity.py and sessionize.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

PCTS = (0.5, 0.9, 0.99)


def _lagged(
    df: DataFrame,
    conv_col: str,
    order_col: str,
    role_col: str,
    ts_col: str,
    tool_col: str | None,
) -> DataFrame:
    """One window pass: previous role + inter-turn gap in seconds.

    delta_s is computed on microsecond integers (unix_micros) so the
    division by 1e6 is exact for parquet's us-resolution timestamps;
    unix_micros rejects TIMESTAMP_NTZ, hence the cast (session tz must be
    UTC, as everywhere in this engine).
    """
    w = W.partitionBy(conv_col).orderBy(order_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cols = [
        F.col(conv_col).alias("conv_id"),
        F.col(role_col).alias("role_to"),
        F.lag(F.col(role_col)).over(w).alias("role_from"),
        ((us - F.lag(us).over(w)) / F.lit(1e6)).alias("delta_s"),
    ]
    if tool_col is not None:
        cols.append(F.col(tool_col).alias("tool"))
    return df.select(*cols)


def _latency_aggs() -> list:
    p = F.expr(f"percentile(delta_s, array({', '.join(map(str, PCTS))}))")
    return [
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.avg("delta_s").alias("mean_s"),
        p[0].alias("p50_s"),
        p[1].alias("p90_s"),
        p[2].alias("p99_s"),
    ]


def role_transitions(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
) -> DataFrame:
    """Role-transition matrix with latency distribution per edge.

    Output, one row per observed (role_from, role_to) pair:
      role_from, role_to, n (transition count), n_convs (conversations
      containing the edge), share (row-stochastic P(to | from)),
      mean_s / p50_s / p90_s / p99_s (inter-turn gap distribution).

    First turns (no predecessor) are excluded — they are not transitions.
    """
    lag = _lagged(df, conv_col, order_col, role_col, ts_col, None)
    agg = (
        lag.filter(F.col("role_from").isNotNull())
        .groupBy("role_from", "role_to")
        .agg(*_latency_aggs())
    )
    tot = W.partitionBy("role_from")
    return agg.withColumn("share", F.col("n") / F.sum("n").over(tot))


def tool_usage(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    tool_col: str = "tool",
) -> DataFrame:
    """Per-tool call volume, reach, and invocation-latency distribution.

    Output, one row per tool: tool, n (calls), n_convs, share (of all
    tool calls), mean_s / p50_s / p90_s / p99_s (gap between the tool
    turn and the turn before it; a tool turn opening a conversation has
    no gap and contributes only to the counts — avg/percentile skip
    NULLs in both engines).
    """
    lag = _lagged(df, conv_col, order_col, role_col, ts_col, tool_col)
    agg = (
        lag.filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(*_latency_aggs())
    )
    return agg.withColumn("share", F.col("n") / F.sum("n").over(W.partitionBy()))


def conv_flow(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    tool_col: str = "tool",
) -> DataFrame:
    """The full flow surface as a tagged pack on one schema:

      tag ('pair' | 'tool'), k1 (role_from | tool), k2 (role_to | NULL),
      n, n_convs, share, mean_s, p50_s, p90_s, p99_s.

    A naive union of role_transitions + tool_usage re-runs the scan and
    the conversation window once per leg (2 source scans). This packs
    both groupings into ONE GROUPING SETS aggregate over a single
    lag-window pass instead: one scan, one conv_id shuffle, one Expand(2)
    feeding a map-side partial agg — the duplicated rows exist only
    inside the agg operator, never on the wire at raw-row width. The
    `share` normalizations run as one window over the few-dozen-row
    aggregate (partition key: role_from for pair rows, constant for tool
    rows — one partitioning serves both).

    Result values are identical to the standalone operators (asserted in
    tests); grouping-set membership is read from grouping_id, so a
    genuine NULL role_from inside the pair set is distinguishable from
    the aggregated-away columns of the other set.
    """
    lag = _lagged(df, conv_col, order_col, role_col, ts_col, tool_col)
    # grouping_id bits follow (role_from, role_to, tool): the pair set
    # aggregates tool away -> 0b001; the tool set aggregates both role
    # columns -> 0b110.
    agg = lag.groupingSets(
        [["role_from", "role_to"], ["tool"]],
        "role_from", "role_to", "tool",
    ).agg(F.grouping_id().alias("_gid"), *_latency_aggs())
    is_pair = F.col("_gid") == 1
    kept = agg.filter(
        (is_pair & F.col("role_from").isNotNull())
        | (~is_pair & F.col("tool").isNotNull())
    ).select(
        F.when(is_pair, F.lit("pair")).otherwise(F.lit("tool")).alias("tag"),
        F.when(is_pair, F.col("role_from")).otherwise(F.col("tool")).alias("k1"),
        F.when(is_pair, F.col("role_to")).alias("k2"),
        "n",
        "n_convs",
        "mean_s",
        "p50_s",
        "p90_s",
        "p99_s",
    )
    share_w = W.partitionBy(
        "tag",
        F.when(F.col("tag") == "pair", F.col("k1")).otherwise(F.lit("")),
    )
    return kept.withColumn("share", F.col("n") / F.sum("n").over(share_w))


def conv_flow_sketch(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    tool_col: str = "tool",
    lat_lo: float = 0.0,
    lat_hi: float = 3600.0,
    n_bins: int = 256,
) -> DataFrame:
    """`conv_flow` with BOUNDED aggregation state — the 10^12-turn path.

    The exact pack's `percentile(delta_s, ...)` UDAF keeps a value->count
    map per group, and `delta_s` is a near-unique double: the final
    aggregate for each (role_from, role_to) edge lands in ONE task, so at
    10^12 turns over ~14 edges the state is ~10^11 map entries in a
    single JVM — an executor OOM. This variant replaces the percentile
    UDAF with the engine's mergeable fixed-grid latency histogram
    (operators.sketch binning), so every aggregation operator in the plan
    carries O(|edges| * n_bins) state regardless of corpus size.

    n / n_convs / share / mean_s are EXACT and equal the exact pack
    bit-for-bit (sums and a two-phase distinct count); p50/p90/p99 are
    order-statistic estimates accurate to one bin width of the
    [lat_lo, lat_hi) grid — gaps beyond lat_hi clamp into the last bin.
    Same output schema as `conv_flow`; keep the exact pack for oracles
    and small corpora, use this for the full-corpus scan.

    Plan shape (ONE scan, one conv_id window shuffle, like the exact
    pack): the bin index is a pure projection, then ONE grouping-sets
    aggregate over four sets — (role_from, role_to) / (tool) for the
    exact scalars, (role_from, role_to, bin) / (tool, bin) for the
    histogram counts — so the raw rows are read once; a SECOND tiny
    re-aggregation fuses the scalar rows and the scatter+merged per-bin
    arrays of each edge into one output row (see the inline comment: a
    two-frame join here would re-execute the raw subtree), and the
    quantile extraction is pure array SQL (operators.sketch.hist_quantile).
    """
    from feasts_spark.operators.sketch import (
        _bin_expr,
        _merge_arrays,
        hist_quantile,
    )

    lag = _lagged(df, conv_col, order_col, role_col, ts_col, tool_col)
    binned = lag.withColumn(
        "bin",
        F.when(
            F.col("delta_s").isNotNull(),
            _bin_expr("delta_s", lat_lo, lat_hi, n_bins).cast("long"),
        ),
    )
    # grouping_id bits follow (role_from, role_to, tool, bin), MSB first:
    #   [rf, rt]       -> 0b0011 = 3   (edge scalars, pair)
    #   [tool]         -> 0b1101 = 13  (edge scalars, tool)
    #   [rf, rt, bin]  -> 0b0010 = 2   (histogram counts, pair)
    #   [tool, bin]    -> 0b1100 = 12  (histogram counts, tool)
    agg = binned.groupingSets(
        [
            ["role_from", "role_to"],
            ["tool"],
            ["role_from", "role_to", "bin"],
            ["tool", "bin"],
        ],
        "role_from", "role_to", "tool", "bin",
    ).agg(
        F.grouping_id().alias("_gid"),
        F.count(F.lit(1)).alias("n"),
        F.count("delta_s").alias("n_lat"),
        F.sum("delta_s").alias("sum_s"),
        F.countDistinct(F.col("conv_id")).alias("n_convs"),
    )
    is_pair = F.col("_gid").bitwiseAND(F.lit(8)) == 0
    has_bin = F.col("_gid").bitwiseAND(F.lit(1)) == 0
    keyed = agg.filter(
        (is_pair & F.col("role_from").isNotNull())
        | (~is_pair & F.col("tool").isNotNull())
    ).select(
        F.when(is_pair, F.lit("pair")).otherwise(F.lit("tool")).alias("tag"),
        F.when(is_pair, F.col("role_from")).otherwise(F.col("tool")).alias("k1"),
        F.when(is_pair, F.col("role_to")).alias("k2"),
        has_bin.alias("_hb"),
        "bin", "n", "n_lat", "sum_s", "n_convs",
    )
    # Fuse the edge-scalar and histogram branches into ONE re-aggregation
    # of the tiny keyed rows. Splitting them into two frames and joining
    # looks natural but executes the raw scan + window + grouping-sets
    # subtree TWICE: column pruning specializes each branch's partial
    # aggregates, the canonical plans stop being equal, and Spark's
    # exchange-reuse rule no longer fires. Here the scalar rows (_hb
    # false) and per-bin rows (_hb true) of one edge meet in the same
    # group; collect_list skips the scalar rows' NULL scatter arrays, so
    # the fold sees only bin rows. One raw scan total — at 10^12 turns
    # the join shape would have paid a second one.
    scatter = F.expr(
        f"transform(sequence(0, {n_bins - 1}), "
        "i -> CASE WHEN i = bin THEN n ELSE CAST(0 AS BIGINT) END)"
    )
    is_bin = F.col("_hb") & F.col("bin").isNotNull()
    joined = (
        keyed.withColumn("_v", F.when(is_bin, scatter))
        .groupBy("tag", "k1", "k2")
        .agg(
            F.sum(F.when(~F.col("_hb"), F.col("n"))).alias("n"),
            F.max(F.when(~F.col("_hb"), F.col("n_convs"))).alias("n_convs"),
            F.when(
                F.sum(F.when(~F.col("_hb"), F.col("n_lat"))) > 0,
                F.sum(F.when(~F.col("_hb"), F.col("sum_s")))
                / F.sum(F.when(~F.col("_hb"), F.col("n_lat"))),
            ).alias("mean_s"),
            F.sum(F.when(is_bin, F.col("n"))).alias("n_points"),
            _merge_arrays(n_bins).alias("hist"),
        )
    )
    for p, name in ((0.5, "p50_s"), (0.9, "p90_s"), (0.99, "p99_s")):
        joined = hist_quantile(joined, p, lat_lo, lat_hi, out_col=name)
    no_lat = F.col("n_points").isNull() | (F.col("n_points") == 0)
    share_w = W.partitionBy(
        "tag",
        F.when(F.col("tag") == "pair", F.col("k1")).otherwise(F.lit("")),
    )
    return joined.select(
        "tag", "k1", "k2", "n", "n_convs", "mean_s",
        *[
            F.when(no_lat, F.lit(None).cast("double"))
            .otherwise(F.col(c)).alias(c)
            for c in ("p50_s", "p90_s", "p99_s")
        ],
    ).withColumn("share", F.col("n") / F.sum("n").over(share_w))
