"""Conversation-flow analytics (operators/flow.py): hand-computed
transition matrix / latency percentiles / tool usage on a tiny fixed
transcript, plus partition-count invariance (the property that matters
for deterministic corpus analytics at scale)."""

import datetime as dt

import pytest

# A two-conversation corpus with known gaps (seconds after t0):
#   c1: user@0 -> assistant@10 -> tool@12(search) -> assistant@13 -> user@20
#   c2: user@0 -> assistant@4  -> user@9 -> assistant@14 -> tool@15(calc)
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _corpus(spark):
    rows = []
    for conv, seq in (
        (
            "c1",
            [
                ("user", None, 0),
                ("assistant", None, 10),
                ("tool", "search", 12),
                ("assistant", None, 13),
                ("user", None, 20),
            ],
        ),
        (
            "c2",
            [
                ("user", None, 0),
                ("assistant", None, 4),
                ("user", None, 9),
                ("assistant", None, 14),
                ("tool", "calc", 15),
            ],
        ),
    ):
        for i, (role, tool, off) in enumerate(seq):
            rows.append(
                (conv, i, role, f"{conv}-t{i}", tool, T0 + dt.timedelta(seconds=off))
            )
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )


def _by_key(df, *keys):
    return {tuple(r[k] for k in keys): r.asDict() for r in df.collect()}


class TestRoleTransitions:
    def test_matrix_counts_and_shares(self, spark):
        from feasts_spark.operators.flow import role_transitions

        out = _by_key(role_transitions(_corpus(spark)), "role_from", "role_to")
        # user->assistant: c1@10, c2@4, c2@5 (9->14); assistant->tool:
        # c1@2, c2@1; tool->assistant: c1@1; assistant->user: c1@7, c2@5.
        assert out[("user", "assistant")]["n"] == 3
        assert out[("user", "assistant")]["n_convs"] == 2
        assert out[("assistant", "tool")]["n"] == 2
        assert out[("tool", "assistant")]["n"] == 1
        assert out[("assistant", "user")]["n"] == 2
        # user rows go only to assistant -> share 1; assistant splits 2/2.
        assert out[("user", "assistant")]["share"] == pytest.approx(1.0)
        assert out[("assistant", "tool")]["share"] == pytest.approx(0.5)
        assert out[("assistant", "user")]["share"] == pytest.approx(0.5)
        # latency: user->assistant gaps are [10, 4, 5] -> mean 19/3,
        # p50 = 5, p90 = linear interp between 5 and 10 at rank 1.8 -> 9.
        ua = out[("user", "assistant")]
        assert ua["mean_s"] == pytest.approx(19 / 3)
        assert ua["p50_s"] == pytest.approx(5.0)
        assert ua["p90_s"] == pytest.approx(9.0)

    def test_first_turns_excluded(self, spark):
        from feasts_spark.operators.flow import role_transitions

        total = role_transitions(_corpus(spark)).agg({"n": "sum"}).first()[0]
        assert total == 8  # 10 turns - 2 conversation openers


class TestToolUsage:
    def test_per_tool_rows(self, spark):
        from feasts_spark.operators.flow import tool_usage

        out = _by_key(tool_usage(_corpus(spark)), "tool")
        assert set(out) == {("search",), ("calc",)}
        assert out[("search",)]["n"] == 1
        assert out[("search",)]["mean_s"] == pytest.approx(2.0)
        assert out[("calc",)]["mean_s"] == pytest.approx(1.0)
        assert out[("search",)]["share"] == pytest.approx(0.5)

    def test_opening_tool_turn_counts_without_latency(self, spark):
        from feasts_spark.operators.flow import tool_usage

        df = spark.createDataFrame(
            [("c3", 0, "tool", "t", "boot", T0)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        row = tool_usage(df).first()
        assert row["n"] == 1 and row["mean_s"] is None and row["p50_s"] is None


class TestConvFlowPack:
    def test_tagged_union_schema_and_invariance(self, spark):
        from feasts_spark.operators.flow import conv_flow

        base = conv_flow(_corpus(spark))
        re = conv_flow(_corpus(spark).repartition(7, "text"))
        key = lambda r: (r["tag"], r["k1"], r["k2"] or "")
        a = sorted(base.collect(), key=key)
        b = sorted(re.collect(), key=key)
        assert [r.asDict() for r in a] == [r.asDict() for r in b]
        tags = {r["tag"] for r in a}
        assert tags == {"pair", "tool"}
        # row-stochastic: shares out of each role_from sum to 1
        from collections import defaultdict

        s = defaultdict(float)
        for r in a:
            if r["tag"] == "pair":
                s[r["k1"]] += r["share"]
        assert all(abs(v - 1.0) < 1e-12 for v in s.values())

    def test_pack_equals_standalone_operators(self, spark):
        """The fused GROUPING SETS pack must reproduce the standalone
        role_transitions / tool_usage values exactly."""
        from feasts_spark.operators.flow import (
            conv_flow,
            role_transitions,
            tool_usage,
        )

        corpus = _corpus(spark)
        packed = {
            (r["tag"], r["k1"], r["k2"]): r.asDict()
            for r in conv_flow(corpus).collect()
        }
        stats = ["n", "n_convs", "share", "mean_s", "p50_s", "p90_s", "p99_s"]
        for r in role_transitions(corpus).collect():
            p = packed[("pair", r["role_from"], r["role_to"])]
            assert [p[c] for c in stats] == [r[c] for c in stats]
        for r in tool_usage(corpus).collect():
            p = packed[("tool", r["tool"], None)]
            assert [p[c] for c in stats] == [r[c] for c in stats]
        assert len(packed) == 4 + 2  # 4 observed pairs + 2 tools


def _wide_corpus(spark, n_convs=50, turns_per_conv=40):
    """Deterministic pseudo-random corpus with near-unique gaps in
    [0, 1000) seconds — the shape that blows up the exact percentile
    UDAF's value->count state at scale."""
    roles = ["user", "assistant", "tool", "assistant"]
    rows = []
    for c in range(n_convs):
        off = 0.0
        for i in range(turns_per_conv):
            gap = ((c * 9973 + i) * 2654435761 % 100000) / 100.0
            off += gap
            role = roles[i % 4]
            tool = f"t{(c + i) % 3}" if role == "tool" else None
            rows.append(
                (f"c{c}", i, role, "x", tool,
                 T0 + dt.timedelta(seconds=off))
            )
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )


class TestConvFlowSketch:
    LO, HI, BINS = 0.0, 1024.0, 256  # 4-second bins cover the gap range

    def _pair(self, spark):
        from feasts_spark.operators.flow import conv_flow, conv_flow_sketch

        corpus = _wide_corpus(spark)
        exact = _by_key(conv_flow(corpus), "tag", "k1", "k2")
        sk = _by_key(
            conv_flow_sketch(
                corpus, lat_lo=self.LO, lat_hi=self.HI, n_bins=self.BINS
            ),
            "tag", "k1", "k2",
        )
        return corpus, exact, sk

    def test_exact_columns_match_exact_pack(self, spark):
        corpus, exact, sk = self._pair(spark)
        assert set(exact) == set(sk)
        for k, e in exact.items():
            s = sk[k]
            assert (s["n"], s["n_convs"]) == (e["n"], e["n_convs"])
            assert s["share"] == pytest.approx(e["share"], abs=1e-12)
            assert s["mean_s"] == pytest.approx(e["mean_s"], rel=1e-9)

    def test_percentiles_within_one_bin_of_order_stat(self, spark):
        """The sketch targets the ceil(q*n) order statistic (the
        documented contract) to one bin width — NOT Spark's interpolated
        percentile, whose gap to any order statistic is unbounded."""
        import math

        corpus, exact, sk = self._pair(spark)
        lag = corpus.selectExpr(
            "conv_id", "role",
            "lag(role) over (partition by conv_id order by turn_idx)"
            " as role_from",
            "(unix_micros(cast(ts as timestamp)) - lag(unix_micros("
            "cast(ts as timestamp))) over (partition by conv_id order by"
            " turn_idx)) / 1e6 as delta_s",
            "tool",
        ).collect()
        width = (self.HI - self.LO) / self.BINS
        by_edge: dict = {}
        for r in lag:
            if r["role_from"] is not None:
                by_edge.setdefault(
                    ("pair", r["role_from"], r["role"]), []
                ).append(r["delta_s"])
            if r["tool"] is not None and r["delta_s"] is not None:
                by_edge.setdefault(("tool", r["tool"], None), []).append(
                    r["delta_s"]
                )
        for key, deltas in by_edge.items():
            deltas.sort()
            for q, col in ((0.5, "p50_s"), (0.9, "p90_s"), (0.99, "p99_s")):
                target = deltas[max(0, math.ceil(q * len(deltas)) - 1)]
                assert sk[key][col] == pytest.approx(target, abs=width), (
                    key, col,
                )

    def test_sketch_plan_has_no_percentile_udaf(self, spark):
        """The whole point: no value->count-map aggregate anywhere in
        the sketch plan (its state was group-sized; the histogram's is
        O(edges * n_bins)), while the exact pack keeps it for oracles."""
        from feasts_spark.operators.flow import conv_flow, conv_flow_sketch

        corpus = _wide_corpus(spark, n_convs=2, turns_per_conv=4)
        sk_plan = conv_flow_sketch(corpus)._jdf.queryExecution().toString()
        ex_plan = conv_flow(corpus)._jdf.queryExecution().toString()
        assert "percentile(" not in sk_plan
        assert "percentile(" in ex_plan

    def test_opening_tool_turn_null_percentiles(self, spark):
        from feasts_spark.operators.flow import conv_flow_sketch

        df = spark.createDataFrame(
            [("c3", 0, "tool", "t", "boot", T0)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        row = conv_flow_sketch(df).first()
        assert row["tag"] == "tool" and row["n"] == 1
        assert row["mean_s"] is None and row["p50_s"] is None

    def test_partition_invariance(self, spark):
        from feasts_spark.operators.flow import conv_flow_sketch

        corpus = _wide_corpus(spark, n_convs=10, turns_per_conv=12)
        key = lambda r: (r["tag"], r["k1"], r["k2"] or "")
        a = sorted(conv_flow_sketch(corpus).collect(), key=key)
        b = sorted(
            conv_flow_sketch(corpus.repartition(7, "text")).collect(),
            key=key,
        )
        for ra, rb in zip(a, b):
            da, db = ra.asDict(), rb.asDict()
            for c in ("tag", "k1", "k2", "n", "n_convs"):
                assert da[c] == db[c]
            for c in ("share", "mean_s", "p50_s", "p90_s", "p99_s"):
                if da[c] is None:
                    assert db[c] is None
                else:
                    assert db[c] == pytest.approx(da[c], rel=1e-9)
