"""Training-example assembly — the last mile of an LLM data pipeline.

After curation (dedup, filtering, sampling: operators/curation.py,
dedup.py, text.py) the corpus still has to become MODEL INPUTS: documents
packed into fixed token-budget context windows, and conversations cut
into per-turn context windows for supervised fine-tuning. Both are
embarrassingly parallel once the right key is chosen; both are easy to
get nondeterministic (and thus non-reproducible) if keyed on partition
order, so every operator here orders by explicit columns only.

Three operators:

- `doc_stream_offsets` — GPT-style concat-and-cut packing: each stream
  (e.g. a source) is one long token tape; a document's bin is wherever
  its offset lands, and a document MAY span a bin boundary (pretraining
  with document splitting / cross-doc attention masking). Pure window
  arithmetic: ONE exchange per call, exactly SQL-expressible (oracled in
  the driver's curation_pack).
- `pack_sequences_greedy` — boundary-respecting first-fit packing for
  SFT-style training where documents must not split: greedy accumulate
  in deterministic order within hash shards; a bin never exceeds the
  budget unless a single over-budget document gets a bin of its own
  (flagged). The greedy scan is inherently sequential, so it runs
  per-shard inside applyInPandas — shards are hash-deterministic, so the
  result is partition-count-invariant, and n_shards bounds the
  sequential span (10^9 docs / 4096 shards = 250k trivial iterations per
  task).
- `conversation_windows` — per-turn rolling context: for every turn of
  every conversation, the concatenated last-k turns (role-prefixed) plus
  a digest, the frame a SFT example builder filters (e.g. to assistant
  turns) and ships. One conv-keyed window exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from feasts_spark.operators.text import _tokens


def doc_stream_offsets(
    df: DataFrame,
    budget_tokens: int,
    stream_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_chunks: int = 256,
) -> DataFrame:
    """Concat-and-cut packing offsets: per stream, documents in `id_col`
    order form one token tape cut every `budget_tokens`.

    Returns (id, stream, n_tokens, stream_offset, bin_first, bin_last,
    spans_boundary): `stream_offset` is the tape position where the doc
    starts (sum of all earlier docs' whitespace-token counts),
    `bin_first`/`bin_last` the cut windows its first/last token land in.
    Token-count convention: an empty/whitespace-only doc counts ONE
    (empty) token — `split(trim(''))` yields [''] — matching
    token_stats / token_budget_cap and the DuckDB oracle's
    regexp_split_to_array, so the whole engine agrees on one tape
    arithmetic; filter empty docs upstream if they should occupy none.

    Plan — a distributed two-phase prefix sum. A single
    `partitionBy(stream)` running-sum window executes each stream in ONE
    task, so a training mix with a handful of sources serializes a
    10^9-doc source into one sort+scan. Instead:

      1. range-chunk the corpus on (stream, id) — `n_chunks` contiguous
         id ranges (repartitionByRange; its sampling pass is one extra
         cheap projection scan);
      2. per-(stream, chunk) token totals — a TINY aggregate
         (#streams * n_chunks rows);
      3. cumulative chunk offsets via a window over those tiny rows
         (the only serial scan left is #chunks-long);
      4. broadcast-join the chunk offsets back and run the running-sum
         window WITHIN each (stream, chunk) — parallelism is n_chunks
         per stream instead of 1.

    `n_chunks=1` keeps the legacy single-window plan. The OUTPUT is a
    pure function of the data either way (offset = sum of earlier docs'
    tokens in id order), so chunk boundaries — even resampled ones —
    never change a single offset: re-running on a repartitioned corpus
    packs identically, the property that makes a training run
    reproducible. Raise n_chunks with the corpus (10^9 docs / 4096
    chunks ≈ 250k-row sorted windows).

    Executor loss: with n_chunks > 1 the range-chunked frame is pinned
    with localCheckpoint so both branches share one range-boundary
    decision. The pin keeps its blocks only on the executors that
    computed them and drops their lineage. Losing such an executor makes
    a later read of its blocks fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    on every retry, so the action fails: it is not recomputed from
    lineage and no wrong offset is returned. Rerun the query."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    n_tok = F.size(_tokens(text_col)).cast("long")
    base = df.select(
        F.col(id_col),
        F.col(stream_col),
        n_tok.alias("n_tokens"),
    )
    if n_chunks > 1:
        # PINNED: `chunked` feeds two branches (per-chunk totals and the
        # in-chunk window), and RangePartitioner samples its boundaries
        # with a plan-instance-dependent seed — without the pin, the two
        # branches plan two INDEPENDENT range exchanges (Catalyst
        # duplicates the subtree; only optimizer exchange reuse may
        # merge them, the same fragility conv_flow_sketch documents), and
        # divergent boundary sets would join a row's _chunk to the other
        # sampling's _chunk_off: silently wrong offsets. localCheckpoint
        # converts the plan to ONE shared RDD immediately (a single
        # shuffle instance = a single boundary decision) even with
        # eager=False, which keeps the operator lazy — no job runs until
        # the caller acts; the 3-column frame persists on first compute.
        chunked = base.repartitionByRange(
            int(n_chunks), F.col(stream_col), F.col(id_col)
        ).withColumn("_chunk", F.spark_partition_id()) \
            .localCheckpoint(eager=False)
        sums = chunked.groupBy(stream_col, "_chunk").agg(
            F.sum("n_tokens").alias("_chunk_sum")
        )
        cw = (
            W.partitionBy(stream_col)
            .orderBy("_chunk")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        offs = sums.select(
            stream_col,
            "_chunk",
            F.coalesce(F.sum("_chunk_sum").over(cw), F.lit(0))
            .alias("_chunk_off"),
        )
        inw = (
            W.partitionBy(stream_col, "_chunk")
            .orderBy(id_col)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        out = (
            chunked.join(F.broadcast(offs), [stream_col, "_chunk"])
            .select(
                F.col(id_col),
                F.col(stream_col),
                "n_tokens",
                (
                    F.col("_chunk_off")
                    + F.coalesce(F.sum("n_tokens").over(inw), F.lit(0))
                ).alias("stream_offset"),
            )
        )
    else:
        w = (
            W.partitionBy(stream_col)
            .orderBy(id_col)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        out = base.select(
            F.col(id_col),
            F.col(stream_col),
            "n_tokens",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            .alias("stream_offset"),
        )
    b = F.lit(int(budget_tokens))
    return out.select(
        id_col,
        stream_col,
        "n_tokens",
        "stream_offset",
        F.floor(F.col("stream_offset") / b).alias("bin_first"),
        F.floor(
            (F.col("stream_offset")
             + F.greatest(F.col("n_tokens") - 1, F.lit(0))) / b
        ).alias("bin_last"),
    ).withColumn(
        "spans_boundary", F.col("bin_last") > F.col("bin_first")
    )


def pack_sequences_greedy(
    df: DataFrame,
    budget_tokens: int,
    n_shards: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boundary-respecting first-fit packing: documents never split
    across bins. Within each hash shard (pmod(xxhash64(id), n_shards)),
    docs are visited in `id_col` order and a bin closes when the next
    doc would push it past `budget_tokens`.

    Returns (id, shard, bin, n_tokens, bin_tokens, oversize): `bin` is
    shard-local (a global id is (shard, bin) — emit shard*2^32+bin if a
    scalar is needed), `bin_tokens` the bin's total after packing,
    `oversize` marks a single doc larger than the whole budget (it gets
    a bin alone rather than being dropped silently — the caller decides
    truncate-vs-drop).

    Determinism: shard and visit order are functions of the data, so the
    packing is invariant to input partitioning. Scale: the sequential
    greedy span is one shard (~N/n_shards docs of trivial arithmetic);
    raise n_shards with the corpus. Packing efficiency is within
    budget/min_doc of first-fit-decreasing without FFD's global sort."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    import pandas as pd

    b = int(budget_tokens)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        toks = pdf["n_tokens"].to_numpy()
        bins = []
        fill = 0
        cur = 0
        first = True
        for t in toks:
            if not first and fill + t > b:
                cur += 1
                fill = 0
            bins.append(cur)
            fill += int(t)
            first = False
        pdf["bin"] = pd.Series(bins, dtype="int64")
        pdf["bin_tokens"] = pdf.groupby("bin")["n_tokens"].transform("sum")
        pdf["oversize"] = pdf["n_tokens"] > b
        return pdf

    base = df.select(
        F.col(id_col).alias("id"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
        .cast("int").alias("shard"),
        F.size(_tokens(text_col)).cast("long").alias("n_tokens"),
    )
    return base.groupBy("shard").applyInPandas(
        pack,
        schema="id long, shard int, n_tokens long, bin long, "
               "bin_tokens long, oversize boolean",
    )


def conversation_windows(
    df: DataFrame,
    k: int,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\x1e",
) -> DataFrame:
    """Per-turn rolling context: for every turn, the role-prefixed
    concatenation of the last `k` turns (including the current one) in
    `order_col` order — the frame an SFT example builder filters (e.g.
    to assistant turns) to emit (context, target) pairs.

    Returns (conv, order, role, n_ctx, ctx_chars, ctx_digest, ctx):
    `ctx` is the joined window text (`role: text` rows joined on `sep`),
    `ctx_digest` its md5 — compare digests across engines/runs without
    shipping the text. One conv-keyed window exchange, all JVM.

    `order_col` must be unique per conversation (the turn-integrity
    digest operator exists to verify exactly that upstream)."""
    if k <= 0:
        raise ValueError("k must be positive")
    w = (
        W.partitionBy(conv_col)
        .orderBy(order_col)
        .rowsBetween(-(k - 1), 0)
    )
    piece = F.concat_ws(": ", F.col(role_col), F.col(text_col))
    ctx = F.array_join(F.collect_list(piece).over(w), sep)
    return df.select(
        F.col(conv_col),
        F.col(order_col),
        F.col(role_col),
        F.count(F.lit(1)).over(w).alias("n_ctx"),
        ctx.alias("ctx"),
    ).select(
        conv_col,
        order_col,
        role_col,
        "n_ctx",
        F.length("ctx").alias("ctx_chars"),
        F.md5(F.col("ctx")).alias("ctx_digest"),
        "ctx",
    )
