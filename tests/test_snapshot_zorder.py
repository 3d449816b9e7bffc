"""Range clustering: lexicographic clustering prunes files on its leading
column only, and compaction can either erode that pruning (arrival-order
merge) or restore it (recluster)."""

from pyspark.sql import functions as F

from feasts_spark.sources.snapshots import SnapshotTable

N = 40_000


def _grid(spark):
    """A 2-D uniform grid: x and y independent, so lexicographic
    (x, y) clustering leaves y's per-file windows spanning everything."""
    return spark.range(N).select(
        (F.col("id") % 200).cast("double").alias("x"),
        (F.pmod(F.xxhash64("id"), F.lit(200))).cast("double").alias("y"),
        F.col("id").alias("payload"),
    )


def _mk(spark, tmp_path, mode):
    t = SnapshotTable(spark, str(tmp_path), f"t_{mode}",
                      stats_cols=("x", "y"))
    # force enough files for pruning to be observable
    t.append(_grid(spark), sort_within=True, target_files=16)
    return t


BOX = {"x": (20.0, 40.0), "y": (20.0, 40.0)}


def _live_files(t, preds):
    m = t.manifest()
    live = m["files"]
    for col, (lo, hi) in preds.items():
        live = [
            f for f in live
            if f["min"].get(col) is None or f["max"].get(col) is None
            or not (f["max"][col] < lo or f["min"][col] > hi)
        ]
    return len(live), len(m["files"])


class TestZorder:
    def test_range_clustering_cannot_prune_trailing_dim(self, spark,
                                                        tmp_path):
        tr = _mk(spark, tmp_path, "range")
        live_x, total = _live_files(tr, {"x": BOX["x"]})
        live_xy, _ = _live_files(tr, BOX)
        # x (leading) prunes; adding y removes nothing: every file's y
        # window spans the whole domain under lexicographic clustering
        assert live_x < total
        assert live_xy == live_x


class TestReclusteringCompaction:
    def test_plain_compaction_erodes_pruning_recluster_restores(
            self, spark, tmp_path):
        """Many narrow interleaved commits -> compact() merges arrival
        order and the windows widen; compact(recluster=True) re-sorts
        through the table's clustering and pruning comes back."""
        t = SnapshotTable(spark, str(tmp_path), "tc", stats_cols=("x",))
        g = _grid(spark)
        # 8 commits, each a stripe ACROSS the x domain (x % 8 == i), so
        # every commit's single file spans the whole window
        for i in range(8):
            t.append(g.filter(F.col("x") % 8 == i), target_files=1)
        pred = {"x": (20.0, 40.0)}

        v_plain = t.compact(small_bytes=1 << 30, recluster=False)
        assert v_plain is not None
        live, total = _live_files(t, pred)
        assert live == total  # merged arrival order: every window wide

        # rebuild the same table and recluster instead
        t2 = SnapshotTable(spark, str(tmp_path), "tc2", stats_cols=("x",))
        for i in range(8):
            t2.append(g.filter(F.col("x") % 8 == i), target_files=1)
        v_re = t2.compact(small_bytes=1 << 30, recluster=True,
                          target_files=6)
        assert v_re is not None
        live2, total2 = _live_files(t2, pred)
        assert total2 > 1 and live2 < total2, (live2, total2)
        assert t2.manifest()["summary"]["reclustered"] is True
        # content identical either way
        assert t.read().agg(F.sum("payload")).first()[0] == \
            t2.read().agg(F.sum("payload")).first()[0]
