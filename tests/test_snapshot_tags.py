"""Named tags on snapshot tables: immutable version pins that survive
retention (expire_snapshots) until dropped — the reproducible-corpus
primitive ("the exact table state training run X read" is a name)."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F, types as T

from feasts_spark.sources.snapshots import SnapshotTable

T0 = dt.datetime(2024, 3, 1)

_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
])


def _batch(spark, n, start=0):
    rows = [
        Row(conv_id=f"c{i % 3}", ts=T0 + dt.timedelta(minutes=start + i),
            value=float(i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, _SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path), "raw", stats_cols=("ts",))


class TestTagBasics:
    def test_tag_pins_a_version_across_later_commits(self, spark, table):
        table.append(_batch(spark, 10))
        v = table.tag("run-2024w09")
        assert v == table.current_version()
        table.append(_batch(spark, 5, start=10))
        table.append(_batch(spark, 5, start=15))
        assert table.read(tag="run-2024w09").count() == 10
        assert table.read().count() == 20
        assert table.tags() == {"run-2024w09": v}

    def test_tags_are_immutable_unless_replaced(self, spark, table):
        table.append(_batch(spark, 10))
        table.tag("pin")
        table.append(_batch(spark, 5, start=10))
        with pytest.raises(FileExistsError, match="already exists"):
            table.tag("pin")
        v2 = table.tag("pin", replace=True)
        assert v2 == table.current_version()
        assert table.read(tag="pin").count() == 15

    def test_drop_and_unknown_tag(self, spark, table):
        table.append(_batch(spark, 10))
        table.tag("pin")
        assert table.drop_tag("pin") is True
        assert table.drop_tag("pin") is False
        with pytest.raises(ValueError, match="unknown tag"):
            table.read(tag="pin")

    def test_validation(self, spark, table):
        with pytest.raises(ValueError, match="no snapshots"):
            table.tag("early")
        table.append(_batch(spark, 3))
        for bad in ("", "-leading", "has space", "a/b", "x" * 65):
            with pytest.raises(ValueError, match="invalid tag name"):
                table.tag(bad)
        with pytest.raises(FileNotFoundError):
            table.tag("ghost", version=99)
        with pytest.raises(ValueError, match="exactly one"):
            table.read(version=1, tag="t")

    def test_failed_duplicate_leaves_no_residue(self, spark, table):
        """A losing exclusive tag() must leave tags() fully readable and
        no tmp files behind (the atomicity contract expire/read rely on)."""
        import glob
        import os

        table.append(_batch(spark, 3))
        table.tag("pin")
        with pytest.raises(FileExistsError):
            table.tag("pin")
        assert table.tags() == {"pin": 1}
        assert glob.glob(os.path.join(table.meta_dir, "tag-*.tmp-*")) == []

    def test_tag_explicit_older_version(self, spark, table):
        table.append(_batch(spark, 10))
        table.append(_batch(spark, 5, start=10))
        v = table.tag("first", version=1)
        assert v == 1
        assert table.read(tag="first").count() == 10


class TestTagRetention:
    def test_expire_keeps_tagged_snapshot(self, spark, table):
        table.append(_batch(spark, 10))
        tagged_v = table.tag("pinned-corpus")
        for k in range(3):
            table.overwrite(_batch(spark, 4 + k))
        res = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
        assert res["removed_manifests"] > 0
        # the pinned snapshot survived in full: manifest AND data files
        assert table.read(tag="pinned-corpus").count() == 10
        assert table.manifest(tagged_v)["version"] == tagged_v
        # untagged intermediates are gone
        with pytest.raises(FileNotFoundError):
            table.manifest(tagged_v + 1)

    def test_drop_tag_makes_snapshot_expirable(self, spark, table):
        table.append(_batch(spark, 10))
        v = table.tag("pin")
        table.overwrite(_batch(spark, 4))
        table.drop_tag("pin")
        table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
        with pytest.raises(FileNotFoundError):
            table.manifest(v)
