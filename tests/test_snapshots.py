"""Snapshot table layer: atomic commits, time travel, pruning, COW replace,
compaction, expiry — and the rollup_refresh integration (file-level late-data
refresh: untouched files carry over by reference)."""

import json
import os

import pytest
from pyspark.sql import Row, functions as F

from feasts_spark.sources.snapshots import SnapshotConflict, SnapshotTable


def _mk(spark, n=1000, offset=0):
    return spark.range(offset, offset + n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path), "t", stats_cols=("k",))


class TestCommitAndTimeTravel:
    def test_append_versions_and_head(self, spark, table):
        v1 = table.append(_mk(spark, 100))
        v2 = table.append(_mk(spark, 50, offset=100))
        assert (v1, v2) == (1, 2)
        assert table.read().count() == 150
        assert table.read(version=1).count() == 100

    def test_overwrite_is_logical_truncate(self, spark, table):
        table.append(_mk(spark, 100))
        table.overwrite(_mk(spark, 10, offset=500))
        assert table.read().count() == 10
        # old snapshot still fully readable (immutably pinned files)
        assert table.read(version=1).count() == 100

    def test_history_lineage(self, spark, table):
        table.append(_mk(spark, 10))
        table.overwrite(_mk(spark, 5))
        h = table.history()
        assert [r["version"] for r in h] == [1, 2]
        assert [r["operation"] for r in h] == ["append", "overwrite"]
        assert h[1]["parent"] == 1

    def test_schema_pinned(self, spark, table):
        table.append(_mk(spark, 10))
        bad = spark.range(3).select(F.col("id").alias("k"))
        with pytest.raises(ValueError, match="schema mismatch"):
            table.append(bad)

    def test_empty_table_read_raises(self, table):
        with pytest.raises(ValueError, match="no snapshots"):
            table.read()


class TestConflict:
    def test_racing_commit_loses_cleanly(self, spark, table):
        table.append(_mk(spark, 10))
        # simulate a racer: stage + commit against the SAME parent manifest
        parent = table.manifest()
        d1, f1 = table._stage_files(_mk(spark, 5, offset=100), True)
        d2, f2 = table._stage_files(_mk(spark, 5, offset=200), True)
        schema = _mk(spark, 1).schema.json()
        table._commit(parent["files"] + f1, "append", parent, schema, {})
        with pytest.raises(SnapshotConflict):
            table._commit(parent["files"] + f2, "append", parent, schema, {})
        # loser's rows never became visible
        assert table.read().count() == 15

    def test_crash_mid_manifest_write_keeps_head(self, spark, table,
                                                 monkeypatch):
        """A writer dying while it writes v{N}.json must not publish a torn
        manifest: readers keep seeing v{N-1} (as does a reader racing a
        live commit), and the next commit takes v{N}."""
        import json

        table.append(_mk(spark, 10))
        parent = table.manifest()
        _, files = table._stage_files(_mk(spark, 5, offset=100), True)
        schema = _mk(spark, 1).schema.json()

        def torn_dump(obj, f):
            f.write('{"version": ')
            raise OSError("writer died mid-write")

        with monkeypatch.context() as m:
            m.setattr(json, "dump", torn_dump)
            with pytest.raises(OSError, match="mid-write"):
                table._commit(parent["files"] + files, "append", parent,
                              schema, {})
        assert table.current_version() == 1
        assert table.read().count() == 10
        assert table.append(_mk(spark, 5, offset=200)) == 2
        assert table.read().count() == 15


class TestPruning:
    def test_read_where_skips_files_by_stats(self, spark, table):
        # 4 appends of disjoint key ranges -> disjoint file stat windows
        for i in range(4):
            table.append(_mk(spark, 1000, offset=i * 1000))
        m = table.manifest()
        total_files = len(m["files"])
        pruned = table.read_where("k", 1200, 1300)
        assert pruned.count() == 101
        assert len(pruned.inputFiles()) < total_files
        # the pruned scan touches only files whose window intersects
        touched = {os.path.basename(p) for p in pruned.inputFiles()}
        for f in m["files"]:
            if f["max"]["k"] < 1200 or f["min"]["k"] > 1300:
                assert os.path.basename(f["path"]) not in touched

    def test_timestamp_boundary_equality_is_not_pruned(self, spark, tmp_path):
        """pyarrow returns footer timestamp stats tz-aware while Spark
        bounds arrive naive (session UTC); an equal instant must compare
        EQUAL, not greater — a file whose min equals the query hi must
        survive pruning."""
        t = SnapshotTable(spark, str(tmp_path), "ts_t", stats_cols=("ts",))
        df = spark.range(48).select(
            F.timestamp_seconds(
                F.lit(1767225600) + F.col("id") * 3600
            ).alias("ts"),
            F.col("id").cast("double").alias("v"),
        )
        t.append(df.coalesce(1), sort_within=False)
        lo, hi = df.select(F.min("ts"), F.max("ts")).collect()[0]
        assert lo.tzinfo is None  # Spark collects session-UTC naive
        # query hi == the file's min: window [min, min] intersects
        got = t.read_where("ts", lo, lo)
        assert got.count() == 1
        # replace exactly at the boundary instant round-trips too
        fixed = df.filter(F.col("ts") == F.lit(lo)).withColumn(
            "v", F.lit(99.0)
        )
        t.replace_where(fixed, "ts", lo, lo)
        assert t.read().count() == 48
        assert t.read().filter(F.col("v") == 99.0).count() == 1

    def test_range_clustering_gives_disjoint_windows(self, spark, table):
        table.append(_mk(spark, 4000))
        files = sorted(
            table.manifest()["files"], key=lambda f: f["min"]["k"]
        )
        for a, b in zip(files, files[1:]):
            assert a["max"]["k"] <= b["min"]["k"]


class TestReplaceWhere:
    def test_cow_replace_matches_recompute(self, spark, table):
        table.append(_mk(spark, 4000))
        fixed = _mk(spark, 4000).filter(F.col("k").between(1500, 1599)) \
            .withColumn("v", F.col("v") + 1000.0)
        table.replace_where(fixed, "k", 1500, 1599)
        got = table.read()
        assert got.count() == 4000
        assert got.filter(F.col("k").between(1500, 1599)) \
            .filter(F.col("v") < 1000).count() == 0
        assert got.filter(~F.col("k").between(1500, 1599)) \
            .filter(F.col("v") >= 1000).count() == 0

    def test_untouched_files_carry_by_reference(self, spark, table):
        for i in range(4):
            table.append(_mk(spark, 1000, offset=i * 1000))
        before = {f["path"]: f for f in table.manifest()["files"]}
        fixed = _mk(spark, 10, offset=100).withColumn("v", F.lit(0.0))
        table.replace_where(fixed, "k", 100, 109)
        after = table.manifest()
        kept = [f for f in after["files"] if f["path"] in before]
        # every non-intersecting file is the SAME file (path identity,
        # not a rewrite) — the file-level twin of the refresh anti join
        assert len(kept) >= 3 * len(before) // 4
        assert after["summary"]["kept_files"] == len(kept)
        # old version still shows pre-replace values
        old = table.read(version=4).filter(F.col("k") == 100).collect()
        assert old[0]["v"] != 0.0

    def test_replace_on_empty_range_appends_only(self, spark, table):
        table.append(_mk(spark, 100))
        table.replace_where(_mk(spark, 10, offset=5000), "k", 5000, 5009)
        assert table.read().count() == 110


class TestMaintenance:
    def test_compact_preserves_content(self, spark, table):
        for i in range(5):
            table.append(_mk(spark, 200, offset=i * 200))
        pre = table.read().groupBy().agg(
            F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
        n_files_pre = len(table.manifest()["files"])
        v = table.compact(small_bytes=32 * 1024 * 1024)
        assert v is not None
        post = table.read().groupBy().agg(
            F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
        assert (pre["n"], pre["s"]) == (post["n"], post["s"])
        assert len(table.manifest()["files"]) < n_files_pre

    def test_expire_deletes_only_unreferenced(self, spark, table):
        table.append(_mk(spark, 100))
        table.overwrite(_mk(spark, 50, offset=500))
        stats = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
        assert stats["removed_manifests"] == 1
        assert stats["removed_files"] >= 1
        # head still reads fine; expired version is gone
        assert table.read().count() == 50
        with pytest.raises(FileNotFoundError):
            table.manifest(1)

    def test_expire_grace_spares_young_orphans(self, spark, table):
        """A staged-but-uncommitted (or freshly unreferenced) file inside
        the grace window must survive orphan cleanup — deleting a racing
        writer's staging files would fail its commit."""
        table.append(_mk(spark, 100))
        table.overwrite(_mk(spark, 50, offset=500))
        stats = table.expire_snapshots(keep_last=1)  # default 1h grace
        assert stats["removed_manifests"] == 1
        assert stats["removed_files"] == 0
        # past the grace window the same call reclaims them
        stats = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
        assert stats["removed_files"] >= 1

    def test_expire_removes_dead_commit_dirs(self, spark, table):
        """Spark leaves _SUCCESS markers in every commit dir; a dir with no
        parquet left must still be collected."""
        import glob as _glob

        table.append(_mk(spark, 100))
        table.overwrite(_mk(spark, 50, offset=500))
        table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
        dirs = _glob.glob(os.path.join(table.data_dir, "commit-*"))
        assert all(
            _glob.glob(os.path.join(d, "*.parquet")) for d in dirs
        )

    def test_expire_keeps_multiple(self, spark, table):
        for i in range(3):
            table.append(_mk(spark, 10, offset=i * 10))
        table.expire_snapshots(keep_last=2, orphan_grace_s=0.0)
        assert table.read(version=2).count() == 20
        assert table.read(version=3).count() == 30


class TestDeleteBelow:
    def test_whole_file_drops_are_metadata_only(self, spark, table):
        for i in range(4):
            table.append(_mk(spark, 1000, offset=i * 1000))
        before = {f["path"] for f in table.manifest()["files"]}
        v = table.delete_below("k", 2000)
        assert v is not None
        m = table.manifest()
        # every surviving file is an ORIGINAL file (no rewrite): the two
        # dropped appends' windows sit wholly below the cutoff
        assert {f["path"] for f in m["files"]} <= before
        assert m["summary"]["rewritten_files"] == 0
        assert table.read().count() == 2000
        assert table.read().agg(F.min("k")).collect()[0][0] == 2000
        # time travel still reaches the pre-delete rows
        assert table.read(version=v - 1).count() == 4000

    def test_straddling_file_rewrites_survivors(self, spark, table):
        # one file spanning k in [0, 99], so the cutoff lands inside it
        table.append(_mk(spark, 100).coalesce(1), sort_within=False)
        v = table.delete_below("k", 37)
        assert v is not None
        got = table.read()
        assert got.count() == 63
        assert got.agg(F.min("k")).collect()[0][0] == 37
        assert table.manifest()["summary"]["rewritten_files"] == 1

    def test_noop_below_min_returns_none(self, spark, table):
        table.append(_mk(spark, 100, offset=500))
        assert table.delete_below("k", 100) is None


class TestIncrementalRead:
    def test_changes_between_appends(self, spark, table):
        table.append(_mk(spark, 100))
        table.append(_mk(spark, 50, offset=1000))
        table.append(_mk(spark, 25, offset=2000))
        inc = table.read_changes(1)  # everything after v1
        assert inc.count() == 75
        assert inc.agg(F.min("k")).collect()[0][0] == 1000
        only_v3 = table.read_changes(2, 3)
        assert only_v3.count() == 25
        # from v0 = full table
        assert table.read_changes(0).count() == 175

    def test_changes_surface_refreshed_rows_once(self, spark, table):
        for i in range(4):  # 4 disjoint files
            table.append(_mk(spark, 1000, offset=i * 1000))
        v1 = table.current_version()
        fixed = _mk(spark, 1000, offset=1000) \
            .filter(F.col("k").between(1100, 1199)) \
            .withColumn("v", F.lit(0.0))
        table.replace_where(fixed, "k", 1100, 1199)
        inc = table.read_changes(v1)
        # the rewritten file's rows appear (its survivors + the new
        # range); rows of files carried by reference do not
        assert inc.count() == 1000
        assert inc.agg(F.min("k"), F.max("k")).collect()[0] == (1000, 1999)
        assert inc.filter(F.col("k").between(1100, 1199)) \
            .filter(F.col("v") != 0.0).count() == 0

    def test_changes_validate_versions(self, spark, table):
        table.append(_mk(spark, 10))
        with pytest.raises(ValueError, match="newer than"):
            table.read_changes(5, 1)


class TestNullSemantics:
    """NULL range values never match a range predicate, so they must
    survive every replace/delete — including the whole-file drop fast
    paths, which consult the harvested null flag (min/max stats ignore
    NULLs)."""

    def _mk_nullable(self, spark, n=100):
        return spark.range(n).select(
            F.when(F.col("id") % 10 == 0, F.lit(None))
            .otherwise(F.col("id")).alias("k"),
            (F.col("id") % 7).cast("double").alias("v"),
        )

    def test_replace_where_keeps_null_rows(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path), "t", stats_cols=("k",))
        # single file fully inside the replace range + nulls: the
        # containment drop must NOT fire
        t.append(self._mk_nullable(spark, 100).coalesce(1),
                 sort_within=False)
        n_null = t.read().filter(F.col("k").isNull()).count()
        assert n_null == 10
        t.replace_where(
            self._mk_nullable(spark, 100).filter(F.col("k").isNotNull())
            .withColumn("v", F.lit(0.0)),
            "k", 0, 99,
        )
        got = t.read()
        assert got.filter(F.col("k").isNull()).count() == n_null
        assert got.filter(F.col("k").isNotNull())
        assert got.filter(F.col("k").isNotNull() & (F.col("v") != 0.0)) \
            .count() == 0

    def test_delete_below_keeps_null_rows(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path), "t", stats_cols=("k",))
        t.append(self._mk_nullable(spark, 100).coalesce(1),
                 sort_within=False)
        # every non-null k is < 1000: a stats-only decision would drop the
        # whole file and its nulls with it
        t.delete_below("k", 1000)
        got = t.read()
        assert got.count() == 10
        assert got.filter(F.col("k").isNull()).count() == 10

    def test_unsupported_bound_type_raises(self, spark, table):
        from decimal import Decimal

        table.append(_mk(spark, 10))
        with pytest.raises(TypeError, match="order-preserving"):
            table.read_where("k", Decimal("1.5"), Decimal("9.5"))


class TestRefreshIntegration:
    def test_rollup_refresh_commits_as_replace(self, spark, tmp_path):
        """Late-data refresh at the storage layer: recompute dirty hourly
        buckets with rollup_refresh, commit via replace_where on bucket_ts,
        end state equals a full recompute and clean files are untouched."""
        from feasts_spark.operators.rollup import rollup_raw, rollup_refresh

        base = spark.range(20000).select(
            (F.col("id") % 40).cast("string").alias("conv_id"),
            F.col("id").alias("turn_idx"),
            F.timestamp_seconds(
                F.lit(1767225600) + (F.col("id") % (6 * 86400))
            ).alias("ts"),
            (F.col("id") % 13).cast("double").alias("value"),
        )
        late = base.filter(F.col("turn_idx") % 997 == 3) \
            .withColumn("value", F.col("value") + 100.0)

        tier = SnapshotTable(spark, str(tmp_path), "tier_1h",
                             stats_cols=("bucket_ts",))
        tier.append(rollup_raw(base, "1h", "conv_id", "ts", "value"))
        v_base = tier.current_version()

        refreshed = rollup_refresh(
            tier.read(), late, "1h", key_col="conv_id", ts_col="ts",
            value_col="value",
        )
        # the rewrite window is the invalidated bucket_ts range; df_new is
        # the refreshed tier restricted to it (clean buckets inside the
        # window pass through rollup_refresh bitwise, so replacing the
        # whole window is exact), and files outside carry by reference
        lo, hi = late.select(
            F.date_trunc("hour", F.min("ts")), F.date_trunc("hour", F.max("ts"))
        ).collect()[0]
        tier.replace_where(
            refreshed.filter(F.col("bucket_ts").between(F.lit(lo), F.lit(hi))),
            "bucket_ts", lo, hi,
        )

        full = rollup_raw(base.unionByName(late), "1h", "conv_id", "ts",
                          "value")
        got = tier.read()
        cols = sorted(got.columns)
        assert got.select(*cols).exceptAll(full.select(*cols)).count() == 0
        assert full.select(*cols).exceptAll(got.select(*cols)).count() == 0
        # time travel to the pre-refresh tier still works
        assert tier.read(version=v_base).count() == full.count()


class TestManifestScale:
    """The driver-side metadata ceiling (VERDICT r04 item 8): a manifest
    with 1e4 synthetic file entries (cycling over real parquet files so
    survivors stay readable) must commit, load, and range-prune
    correctly — `bench.py --manifest-scale` measures the latency side
    (BENCH_MANIFEST.json); this pins the correctness side at size."""

    def test_wide_manifest_prunes_exactly(self, spark, table):
        n, width = 10_000, 1000
        base = spark.range(0, 4096, 1, 4).select(
            F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v"))
        table.append(base, target_files=4)
        parent = table.manifest()
        real = parent["files"]
        entries = []
        for i in range(n):
            e = dict(real[i % len(real)])
            e["min"], e["max"] = {"k": i * width}, {"k": i * width + width - 1}
            e["nulls"] = {"k": False}
            entries.append(e)
        v = table._commit(entries, "append", parent, parent["schema"],
                          {"synthetic_entries": n})
        m = table.manifest(v)
        assert len(m["files"]) == n
        # prune sweep must keep exactly the 11 overlapping windows
        lo, hi = 500 * width, 510 * width + width - 1
        kept = [f for f in m["files"]
                if not (f["max"]["k"] < lo or f["min"]["k"] > hi)]
        assert len(kept) == 11
        # and the pruned read executes (survivor paths are real files)
        df = table.read_where("k", lo, hi, version=v)
        assert df.count() == 0  # real files hold k<4096, residual filters all
        # an unpruned full read at this width is still constructible
        assert len(table.manifest(v)["files"]) == n


def _write_era_manifest(table, sids=None):
    """Rewrite the head manifest in the era format older builds wrote:
    fid-annotated schema, `schema_sid`, `schemas`, `next_fid` and a `sid`
    on every file (all 0 unless `sids` says otherwise)."""
    m = table.manifest()
    schema = json.loads(m["schema"])
    for i, fld in enumerate(schema["fields"]):
        fld["metadata"] = {"fid": i}
    era0 = json.dumps(schema)
    m["schema"] = era0
    m["schema_sid"] = 0
    m["schemas"] = {"0": era0}
    m["next_fid"] = len(schema["fields"])
    for i, f in enumerate(m["files"]):
        f["sid"] = 0 if sids is None else sids[i]
    if sids is not None and max(sids) > 0:
        m["schemas"]["1"] = era0
        m["schema_sid"] = max(sids)
    with open(table._manifest_path(m["version"]), "w") as fh:
        json.dump(m, fh)
    return m["version"]


_ERA_KEYS = ("schema_sid", "schemas", "next_fid")


class TestLegacyEraManifest:
    """Older builds kept a schema-era log in every manifest. One whose
    files all sit in the current era must read and commit exactly as
    before; one whose files span eras must be refused, never misread."""

    def _rows(self, df):
        return sorted(tuple(r) for r in df.collect())

    def _assert_era_free(self, table):
        m = table.manifest()
        assert not any(k in m for k in _ERA_KEYS)
        assert not any("sid" in f for f in m["files"])

    def test_single_era_manifest_reads_and_commits_unchanged(
            self, spark, table):
        table.append(_mk(spark, 100))
        table.append(_mk(spark, 50, offset=100))
        self._assert_era_free(table)
        full = self._rows(table.read())
        window = self._rows(table.read_where("k", 90, 120))
        _write_era_manifest(table)
        assert self._rows(table.read()) == full
        assert self._rows(table.read_where("k", 90, 120)) == window

        table.append(_mk(spark, 10, offset=500))
        self._assert_era_free(table)
        assert self._rows(table.read()) == sorted(
            full + self._rows(_mk(spark, 10, offset=500)))

        _write_era_manifest(table)
        fixed = _mk(spark, 11, offset=100).withColumn("v", F.lit(-1.0))
        table.replace_where(fixed, "k", 100, 110)
        self._assert_era_free(table)
        want = [r for r in full if not 100 <= r[0] <= 110]
        want += self._rows(fixed) + self._rows(_mk(spark, 10, offset=500))
        assert self._rows(table.read()) == sorted(want)

    def test_multi_era_manifest_is_refused(self, spark, table):
        table.append(_mk(spark, 100))
        table.append(_mk(spark, 50, offset=100))
        n = len(table.manifest()["files"])
        v = _write_era_manifest(table, sids=[1] + [0] * (n - 1))
        msg = f"'t' version {v}"
        with pytest.raises(ValueError, match=msg):
            table.read()
        with pytest.raises(ValueError, match=msg):
            table.read_where("k", 0, 10)
        with pytest.raises(ValueError, match=msg):
            table.append(_mk(spark, 10, offset=500))
        assert table.current_version() == v
        # lineage and retention never map columns, so they still work
        assert [h["version"] for h in table.history()] == [1, 2]
        table.expire_snapshots(keep_last=1)
        assert [h["version"] for h in table.history()] == [2]
