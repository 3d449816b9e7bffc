"""Write-audit-publish on SnapshotTable.

WAP contract: staged rows are invisible until publish; a failing audit
vetoes visibility; abandon reclaims the staged files; publish resolves
against the head AT PUBLISH TIME and retries a lost O_EXCL race without
rewriting data.
"""

import os

import pytest
from pyspark.sql import functions as F

from feasts_spark.sources.snapshots import AuditFailed, SnapshotTable


def _mk(spark, n=100, offset=0):
    return spark.range(offset, offset + n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path), "t", stats_cols=("k",))


class TestWriteAuditPublish:
    def test_staged_rows_invisible_until_publish(self, spark, table):
        table.append(_mk(spark, 10))
        sid = table.stage(_mk(spark, 5, offset=10))
        assert table.read().count() == 10  # head unchanged
        assert table.read_staged(sid).count() == 5  # audit surface sees them
        v = table.publish(sid)
        assert v == 2 and table.read().count() == 15
        # staged manifest consumed — double-publish is impossible
        with pytest.raises(ValueError, match="no staged snapshot"):
            table.publish(sid)

    def test_failing_audit_vetoes_and_abandon_reclaims(self, spark, table):
        table.append(_mk(spark, 10))
        sid = table.stage(_mk(spark, 5, offset=10))

        def audit_no_negatives(df):
            if df.filter(F.col("k") < 0).limit(1).count():
                raise AssertionError("negative keys")

        def audit_min_rows(df):
            assert df.count() >= 100, "suspiciously small batch"

        with pytest.raises(AuditFailed, match="suspiciously small"):
            table.publish(sid, audits=[audit_no_negatives, audit_min_rows])
        assert table.current_version() == 1  # veto left the head alone
        staged_paths = [
            os.path.join(table.table_dir, f["path"])
            for f in table.staged_manifest(sid)["files"]
        ]
        assert all(os.path.exists(p) for p in staged_paths)
        table.abandon(sid)
        assert not any(os.path.exists(p) for p in staged_paths)
        assert table.current_version() == 1

    def test_publish_resolves_against_publish_time_head(self, spark, table):
        table.append(_mk(spark, 10))
        sid = table.stage(_mk(spark, 5, offset=10))
        table.append(_mk(spark, 7, offset=100))  # head moves while staged
        table.publish(sid)
        assert table.read().count() == 22  # 10 + 7 + 5

    def test_staged_overwrite_replaces_publish_time_head(self, spark, table):
        table.append(_mk(spark, 10))
        sid = table.stage(_mk(spark, 3, offset=50), operation="overwrite")
        table.append(_mk(spark, 7, offset=100))
        v = table.publish(sid)
        assert v == 3 and table.read().count() == 3
        assert table.read(version=2).count() == 17  # pre-publish head intact

    def test_publish_summary_records_staged_id(self, spark, table):
        sid = table.stage(_mk(spark, 5), extra_summary={"job": "unit"})
        v = table.publish(sid)
        s = table.manifest(v)["summary"]
        assert s["staged_id"] == sid and s["job"] == "unit"
        assert s["added_rows"] == 5

    def test_stage_rejects_schema_drift_fast(self, spark, table):
        table.append(_mk(spark, 10))
        bad = spark.range(3).select(F.col("id").alias("other"))
        with pytest.raises(ValueError, match="schema mismatch"):
            table.stage(bad)

    def test_bad_operation_rejected(self, spark, table):
        with pytest.raises(ValueError, match="unsupported staged operation"):
            table.stage(_mk(spark, 1), operation="merge")


class TestInspection:
    def test_publish_of_expired_staging_fails_cleanly(self, spark, table):
        table.append(_mk(spark, 10))
        sid = table.stage(_mk(spark, 5, offset=10))
        for f in table.staged_manifest(sid)["files"]:
            os.remove(os.path.join(table.table_dir, f["path"]))
        with pytest.raises(ValueError, match="expired"):
            table.publish(sid)
        assert table.current_version() == 1  # head never corrupted

    def test_expire_sweeps_stale_staged_manifests(self, spark, table):
        table.append(_mk(spark, 10))
        sid = table.stage(_mk(spark, 5, offset=10))
        p = table._staged_path(sid)
        old = os.path.getmtime(p) - 7200
        os.utime(p, (old, old))
        for f in table.staged_manifest(sid)["files"]:
            fp = os.path.join(table.table_dir, f["path"])
            os.utime(fp, (old, old))
        res = table.expire_snapshots(keep_last=1, orphan_grace_s=3600)
        assert res["removed_staged"] == 1
        assert res["removed_files"] >= 1
        with pytest.raises(ValueError, match="no staged snapshot"):
            table.publish(sid)
