"""Continuous aggregate over snapshot tables — incremental tier refresh.

The north-rule tiers (rollup.py) and the snapshot storage layer
(sources/snapshots.py) compose here into the full continuous-aggregate
loop that systems like TimescaleDB caggs / Materialize run: a rollup tier
materialized in its own snapshot table stays in sync with a raw snapshot
table by processing ONLY what changed since the last refresh.

The reference has no storage layer at all (feasts computes features on
in-memory tsibbles); this module is pure engine surface required by the
north rule ("continuous aggregates", "resumable", "per-partition
lineage").

Change detection is the snapshot version log: `read_changes(cursor)`
surfaces exactly the rows of files added since the cursor version, and
`read_removed(cursor)` the pre-image rows of files dropped (the
invalidation source for deletes). The refresh cursor — the last source
version folded into the target — commits ATOMICALLY with the refreshed
data, in the target manifest's summary (`cagg_source_version`), the same
transaction-log recipe the streaming sink uses for micro-batch ids: there
is no window where refreshed rows are visible but the cursor is not. A
sidecar file covers cursor-only advances and manifest expiry; manifests
cover a crash between commit and sidecar write.

Refresh strategy by what happened in the source since the cursor:

  - nothing               -> no-op
  - only `compact`        -> sidecar-only cursor advance (layout changed,
                             no logical rows did)
  - only `append`/`compact` -> MERGE mode: the per-commit file diff gives
                             exactly the new raw rows (compacted old rows
                             never enter the delta), and
                             `rollup_merge(touched_tier_rows,
                             rollup(delta))` re-aggregates WITHOUT
                             touching on-time raw data — the streaming /
                             crawl cadence hot path.
  - `replace` or `delete` -> RECOMPUTE mode: changed ∪ removed rows mark
                             dirty (series_key, bucket) pairs
                             (conservatively — compaction rows resurface
                             and recompute to identical values), and the
                             dirty buckets re-aggregate from the CURRENT
                             source via a footer-stats-pruned range read.
                             Buckets whose raw rows all vanished drop from
                             the tier — retention cascades to the
                             aggregate automatically.
  - `overwrite` / first run / cursor expired -> FULL rebuild.

Every source read during a refresh is PINNED to the head version captured
at entry, so a concurrent writer (e.g. the streaming sink) committing
mid-refresh can never leak rows into this refresh AND into the next one's
delta — the cursor always describes exactly what was folded.

Crash-consistency across multi-commit refreshes: non-final commits are
marked in-progress in the manifest summary (atomic with their data).
Recompute and full refreshes (and FeatureView) re-derive dirty state from
the source, so replaying them rewrites identical content — idempotent as
is. MERGE-mode re-application is NOT idempotent (re-merging a delta the
target already absorbed would double-count), so when a refresh starts
with a pending in-progress marker newer than the last cursor commit, the
merge path is forbidden and the refresh falls back to recompute — always
correct, at the one-off cost of re-aggregating the dirty buckets from
source.

Rows with a NULL timestamp have no bucket: they are excluded from every
aggregation path (full and incremental alike — `date_trunc(NULL)` would
otherwise produce an unaddressable NULL bucket that range commits can
never replace). They still live in the raw table, protected by the
storage layer's NULL-survival semantics.

Storage commits are surgical: dirty buckets coalesce into contiguous
bucket_ts runs (a late batch touching today plus one backfilled day
yields two `replace_where` commits, not one whole-table rewrite), and
each `replace_where` carries untouched files by reference. The cursor
summary rides only the LAST run's commit.

At 10^12 turns: the delta scan is bounded by the late data, the dirty
set by the delta, the tier rewrite by the dirty bucket ranges — no step
is proportional to table size except the (metadata-only) manifest walk.
"""

from __future__ import annotations

import datetime as _dt
import glob as _glob
import json
import os

from pyspark.sql import DataFrame, functions as F

from feasts_spark.operators.rollup import (
    TIER_SECONDS,
    invalidated_buckets,
    rollup_merge,
    rollup_raw,
)
from feasts_spark.sources.snapshots import SnapshotTable

_KEY_COLS = ["series_key", "bucket_ts"]


def _require_cols(df, cols, what: str) -> None:
    """Loud failure when an invalidation input lost a load-bearing column
    (e.g. an overwrite gave the source a shape without the cagg's key/ts):
    the permissive union below would otherwise NULL-fill it and silently
    skip invalidation."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"{what} is missing column(s) {missing} — was the source "
            "overwritten with another schema under this consumer?")


# ----- shared cursor / change-classification machinery ---------------------

def _cursor_sidecar(target: SnapshotTable, name: str) -> str:
    return os.path.join(target.meta_dir, f"cagg-{name}.json")


def _write_cursor_sidecar(target: SnapshotTable, name: str,
                          version: int) -> None:
    p = _cursor_sidecar(target, name)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"source_version": version}, f)
    os.replace(tmp, p)


def _cagg_state(target: SnapshotTable, name: str) -> tuple[int, bool]:
    """(cursor, partial_pending) for this consumer.

    cursor: the newest source version already FULLY folded into `target` —
    max of the sidecar (survives manifest expiry) and the newest retained
    manifest carrying `cagg_source_version` for this name (survives a
    crash between commit and sidecar write). partial_pending: an
    in-progress (non-final) refresh commit exists NEWER than that cursor
    commit — i.e. a multi-commit refresh crashed midway and part of its
    delta is already absorbed.

    Newest-first walk over globbed version numbers with early exit at the
    first cursor-carrying hit: O(1-2) manifest reads in steady state, not
    O(history).
    """
    best = 0
    p = _cursor_sidecar(target, name)
    if os.path.exists(p):
        with open(p) as f:
            best = int(json.load(f).get("source_version", 0))
    partial = False
    versions = sorted(
        (
            int(os.path.basename(q)[1:-5])
            for q in _glob.glob(os.path.join(target.meta_dir, "v*.json"))
        ),
        reverse=True,
    )
    for v in versions:
        s = target.manifest(v).get("summary", {})
        if s.get("cagg_name") != name:
            continue
        if "cagg_source_version" in s:
            return max(best, int(s["cagg_source_version"])), partial
        partial = True  # newer uncursored refresh commit: crashed midway
    return best, partial


def last_refreshed_source_version(target: SnapshotTable, name: str) -> int:
    """The newest source version already folded into `target` (0 = none)."""
    return _cagg_state(target, name)[0]


def _check_cursor_source(source: SnapshotTable, target: SnapshotTable,
                         name: str) -> None:
    """Loud failure when this consumer's cursor was written against a
    DIFFERENT source table: cursor versions are only meaningful relative
    to the table that produced them, so interpreting tier_1m versions
    against raw (a mis-wired ContinuousAggregate) would classify changes
    nonsensically and silently serve wrong data. Older cursors that
    never recorded a source table pass (best-effort check)."""
    versions = sorted(
        (
            int(os.path.basename(q)[1:-5])
            for q in _glob.glob(os.path.join(target.meta_dir, "v*.json"))
        ),
        reverse=True,
    )
    for v in versions:
        s = target.manifest(v).get("summary", {})
        if s.get("cagg_name") != name:
            continue
        if "cagg_source_version" in s:
            rec = s.get("cagg_source_table")
            if rec is not None and rec != source.name:
                raise ValueError(
                    f"cagg {name}: refresh cursor was written against "
                    f"source table {rec!r}, not {source.name!r} — "
                    "consumer wiring mismatch")
            return


def _cursor_manifest_ok(source: SnapshotTable, cur: int) -> bool:
    try:
        source.manifest(cur)
        return True
    except FileNotFoundError:
        return False  # cursor snapshot expired: can't diff against it


def _ops_since(source: SnapshotTable, cur: int, head: int) -> list[str] | None:
    """Operations of source versions (cur, head]; None when any manifest in
    the range was expired. None does NOT force a full rebuild — the
    recompute path only needs the cur and head manifests."""
    ops = []
    for v in range(cur + 1, head + 1):
        try:
            ops.append(source.manifest(v)["operation"])
        except FileNotFoundError:
            return None
    return ops


def _split_runs(values: list, gap, max_commits: int) -> list[tuple]:
    """Split sorted scalars into contiguous runs: a new run starts when
    the step exceeds `gap` (same arithmetic as the values — timedelta for
    bucket timestamps, int for hash buckets). If that yields more than
    `max_commits` runs, merge across the smallest gaps first — commit
    count stays bounded and the extra rewrite covers the narrowest
    possible clean spans."""
    runs = [[values[0], values[0]]]
    for v in values[1:]:
        if v - runs[-1][1] > gap:
            runs.append([v, v])
        else:
            runs[-1][1] = v
    while len(runs) > max_commits:
        gaps = [
            (runs[i + 1][0] - runs[i][1], i) for i in range(len(runs) - 1)
        ]
        _, i = min(gaps, key=lambda t: (t[0], t[1]))
        runs[i][1] = runs[i + 1][1]
        del runs[i + 1]
    return [tuple(r) for r in runs]


def append_delta(source: SnapshotTable, cur: int, head: int) -> DataFrame:
    """Exactly the rows appended to `source` in (cur, head]: per-commit
    file diff, so files later rewritten by compaction inside the range
    still contribute their rows ONCE (from their original file, which
    stays on disk until expiry)."""
    frames = []
    prev = {f["path"] for f in source.manifest(cur)["files"]}
    for v in range(cur + 1, head + 1):
        m = source.manifest(v)
        paths = {f["path"] for f in m["files"]}
        if m["operation"] == "append":
            added = [f for f in m["files"] if f["path"] not in prev]
            if added:
                frames.append(source._read_files(m, added))
        prev = paths
    if not frames:
        m = source.manifest(head)
        return source._read_files(m, [])
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


_IN_PROGRESS = {"cagg_in_progress": True}


class ContinuousAggregate:
    """Keep a rollup-tier snapshot table in sync with a raw snapshot table.

    `target` should be created with ``stats_cols=("bucket_ts",)`` (or a
    superset) so refresh commits and reads prune by bucket range;
    `source` with ``stats_cols`` including `ts_col` for the recompute
    scan. Neither is required for correctness — missing stats only cost
    pruning.
    """

    def __init__(self, source: SnapshotTable, target: SnapshotTable,
                 tier: str, key_col: str = "conv_id", ts_col: str = "ts",
                 value_col: str = "value", name: str | None = None):
        if tier not in TIER_SECONDS:
            raise ValueError(f"unknown tier {tier!r}")
        self.source, self.target, self.tier = source, target, tier
        self.key_col, self.ts_col, self.value_col = key_col, ts_col, value_col
        self.name = name or f"cagg_{tier}"

    def _with_ts(self, df: DataFrame) -> DataFrame:
        return df.filter(F.col(self.ts_col).isNotNull())

    def _aggregate(self, df: DataFrame) -> DataFrame:
        """Source rows -> tier rows. Subclasses swap the algebra (raw
        points here; re-aggregation of lower-tier rows in
        CascadeAggregate)."""
        return rollup_raw(self._with_ts(df), self.tier, self.key_col,
                          self.ts_col, self.value_col)

    def _append_delta(self, cur: int, head: int) -> DataFrame:
        return append_delta(self.source, cur, head)

    def _runs(self, buckets: list, coalesce_gap_buckets: int,
              max_commits: int) -> list[tuple]:
        step = _dt.timedelta(seconds=TIER_SECONDS[self.tier])
        return _split_runs(buckets, step * coalesce_gap_buckets, max_commits)

    def refresh(self, coalesce_gap_buckets: int = 16,
                max_commits: int = 8) -> dict:
        """Fold every source change since the last refresh into the target.

        Returns a stats dict: mode, source version range, dirty bucket
        count, commits made, and rows written. Safe to re-run at any time
        (a no-op when the cursor is at head) and after any crash (the
        cursor only advances on the final commit; a crashed merge refresh
        resumes as recompute).
        """
        _check_cursor_source(self.source, self.target, self.name)
        head = self.source.current_version()
        cur, partial = _cagg_state(self.target, self.name)
        stats = {"mode": "noop", "source_from": cur, "source_to": head,
                 "dirty_buckets": 0, "commits": 0, "rows_written": 0}
        if head <= cur:
            return stats

        ops = _ops_since(self.source, cur, head)
        if ops is not None and all(o == "compact" for o in ops) \
                and not partial:
            self._write_sidecar(head)
            stats["mode"] = "cursor_only"
            return stats

        cursor_summary = {"cagg_name": self.name,
                          "cagg_source_version": head,
                          "cagg_source_table": self.source.name}

        if cur == 0 or not _cursor_manifest_ok(self.source, cur) \
                or (ops is not None and "overwrite" in ops):
            full = self._aggregate(self.source.read(version=head))
            self.target.retrying(self.target.overwrite, full,
                                 extra_summary=cursor_summary)
            self._write_sidecar(head)
            n = sum(f["rows"] for f in self.target.manifest()["files"])
            stats.update(mode="full", commits=1, rows_written=n)
            return stats

        # merge-mode re-application is not idempotent, so a crashed
        # multi-commit refresh (partial=True: part of the pending delta is
        # already absorbed) must resume through recompute, which rewrites
        # dirty buckets from source state and is replay-safe
        if ops is not None and all(o in ("append", "compact") for o in ops) \
                and not partial:
            mode = "merge"
            delta_tier = self._aggregate(
                self._append_delta(cur, head)).localCheckpoint(eager=True)
            dirty = delta_tier.select(*_KEY_COLS)
        else:
            mode = "recompute"
            # allowMissingColumns: an overwrite with another schema
            # between cursor and head gives the pre-image the old shape —
            # invalidation only needs key+ts, whose presence the guard
            # enforces loudly
            post = self.source.read_changes(cur, head)
            pre = self.source.read_removed(cur, head)
            for side, df_ in (("post-image", post), ("pre-image", pre)):
                _require_cols(df_, [self.key_col, self.ts_col],
                              f"cagg {self.name} {side}")
            changed = post.unionByName(pre, allowMissingColumns=True)
            dirty = invalidated_buckets(
                self._with_ts(changed), self.tier, self.key_col, self.ts_col
            ).localCheckpoint(eager=True)
            delta_tier = None

        buckets = sorted(
            r[0] for r in dirty.select("bucket_ts").distinct().collect()
        )
        if not buckets:
            # e.g. a replace that rewrote zero rows; nothing to fold
            self._write_sidecar(head)
            stats["mode"] = "cursor_only"
            return stats

        runs = self._runs(buckets, coalesce_gap_buckets, max_commits)
        step = _dt.timedelta(seconds=TIER_SECONDS[self.tier])
        rows_written = 0
        for i, (lo, hi) in enumerate(runs):
            in_range = self.target.read_where("bucket_ts", lo, hi)
            clean = in_range.join(F.broadcast(dirty), _KEY_COLS, "left_anti")
            if mode == "merge":
                part = delta_tier.filter(
                    F.col("bucket_ts").between(F.lit(lo), F.lit(hi)))
                touched = in_range.join(F.broadcast(dirty), _KEY_COLS,
                                        "left_semi")
                refreshed = rollup_merge(touched, part)
            else:
                raw = self.source.read_where(
                    self.ts_col, lo, hi + step - _dt.timedelta(microseconds=1),
                    version=head)
                refreshed = self._aggregate(raw).join(
                    F.broadcast(dirty), _KEY_COLS, "left_semi")
            out = clean.select(refreshed.columns).unionByName(refreshed)
            last = i == len(runs) - 1
            v = self.target.retrying(
                self.target.replace_where, out, "bucket_ts", lo, hi,
                extra_summary=cursor_summary if last
                else {"cagg_name": self.name, **_IN_PROGRESS},
            )
            m = self.target.manifest(v)
            before = {f["path"] for f in
                      self.target.manifest(m["parent"])["files"]}
            rows_written += sum(
                f["rows"] for f in m["files"] if f["path"] not in before)
        self._write_sidecar(head)
        stats.update(mode=mode, dirty_buckets=len(buckets),
                     commits=len(runs), rows_written=rows_written)
        return stats

    def _write_sidecar(self, version: int) -> None:
        _write_cursor_sidecar(self.target, self.name, version)

    def read_fresh(self) -> DataFrame:
        """Real-time view: the rows `refresh()` WOULD leave in the target
        at the current source head, computed read-only — no commit, no
        cursor movement. This is the TimescaleDB real-time-aggregate
        shape (materialized rows unioned with the aggregation of the
        not-yet-folded tail), but version-addressed instead of
        watermark-split: the tail is exactly the rows of source files
        committed since the refresh cursor, so late data and backfills
        ride the same read the refresh itself would do — a real-time
        view over a watermark would silently miss a backfill older than
        the watermark.

        Mode lands in ``self.last_view_mode`` (mirrors refresh):

        - ``noop``      cursor at head, or only compaction since — the
                        materialized rows ARE fresh; plain target read.
        - ``full``      no cursor / expired cursor / overwrite since —
                        aggregates the whole pinned source head (what a
                        first refresh would write).
        - ``merge``     append-only tail, no pending partial refresh —
                        the delta's tier rows merge into the touched
                        materialized rows; clean rows pass through
                        untouched via a broadcast anti join.
        - ``recompute`` replace/delete since the cursor, or a crashed
                        multi-commit refresh left a partial absorbed —
                        dirty buckets re-aggregate from the pinned
                        source head; the source scan footer-prunes to
                        the [min, max] dirty bucket range (one range,
                        not per-run: a view has no commit granularity
                        to bound).

        The returned plan is pinned to the source/target versions
        captured here, so it stays consistent under concurrent writers;
        the delta tier / dirty set is locally checkpointed once so the
        anti/semi/merge branches don't re-derive it. Cost matches the
        equivalent refresh minus the writes; a view over a CASCADE
        aggregate is fresh w.r.t. its own source TABLE (the lower
        tier) — refresh lower tiers first for end-to-end freshness.
        """
        _check_cursor_source(self.source, self.target, self.name)
        head = self.source.current_version()
        cur, partial = _cagg_state(self.target, self.name)
        if head <= cur:
            self.last_view_mode = "noop"
            return self.target.read()

        ops = _ops_since(self.source, cur, head)
        if ops is not None and all(o == "compact" for o in ops) \
                and not partial:
            self.last_view_mode = "noop"
            return self.target.read()

        if cur == 0 or not _cursor_manifest_ok(self.source, cur) \
                or (ops is not None and "overwrite" in ops):
            self.last_view_mode = "full"
            return self._aggregate(self.source.read(version=head))

        base = self.target.read()
        if ops is not None and all(o in ("append", "compact") for o in ops) \
                and not partial:
            delta_tier = self._aggregate(
                self._append_delta(cur, head)).localCheckpoint(eager=True)
            dirty = delta_tier.select(*_KEY_COLS)
            touched = base.join(F.broadcast(dirty), _KEY_COLS, "left_semi")
            refreshed = rollup_merge(touched, delta_tier)
            self.last_view_mode = "merge"
        else:
            post = self.source.read_changes(cur, head)
            pre = self.source.read_removed(cur, head)
            for side, df_ in (("post-image", post), ("pre-image", pre)):
                _require_cols(df_, [self.key_col, self.ts_col],
                              f"cagg {self.name} {side}")
            changed = post.unionByName(pre, allowMissingColumns=True)
            dirty = invalidated_buckets(
                self._with_ts(changed), self.tier, self.key_col, self.ts_col
            ).localCheckpoint(eager=True)
            bounds = dirty.agg(F.min("bucket_ts"), F.max("bucket_ts")).first()
            if bounds[0] is None:
                self.last_view_mode = "noop"
                return base
            step = _dt.timedelta(seconds=TIER_SECONDS[self.tier])
            raw = self.source.read_where(
                self.ts_col, bounds[0],
                bounds[1] + step - _dt.timedelta(microseconds=1),
                version=head)
            refreshed = self._aggregate(raw).join(
                F.broadcast(dirty), _KEY_COLS, "left_semi")
            self.last_view_mode = "recompute"
        clean = base.join(F.broadcast(dirty), _KEY_COLS, "left_anti")
        return clean.select(refreshed.columns).unionByName(refreshed)


class CascadeAggregate(ContinuousAggregate):
    """A continuous aggregate whose source is the NEXT-LOWER tier's
    snapshot table instead of raw turns: 1h stays in sync with the 1m
    TABLE, 1d with the 1h table.

    Chaining caggs this way means one refresh tick scans the raw delta
    once (for the finest tier) and every coarser tier re-aggregates
    tier-sized data — ~60:1 smaller per hop — using the same exact
    re-aggregation algebra as `rollup_cascade` (counts/sums add, min/max
    nest, first/last resolve by carried timestamps), so
    `cascade-chain == rollup_raw(coarse)` stays bitwise except float
    re-association on val_sum/val_avg. Change classes compose naturally:
    the lower cagg's surgical replace commits surface as RECOMPUTE
    deltas here (changed ∪ removed lower rows invalidate exactly the
    coarse buckets they roll into), and a streaming sink appending
    watermark-closed lower buckets takes the cheap MERGE path.

    Refresh ORDER matters operationally (refresh 1m, then 1h, then 1d —
    cagg_job does this); a missed level is never wrong, just stale: each
    level's cursor tracks its own source table.
    """

    def __init__(self, lower: SnapshotTable, target: SnapshotTable,
                 tier: str, name: str | None = None):
        super().__init__(lower, target, tier, key_col="series_key",
                         ts_col="bucket_ts", value_col="val_avg",
                         name=name)

    def _aggregate(self, df: DataFrame) -> DataFrame:
        from feasts_spark.operators.rollup import rollup_cascade
        return rollup_cascade(self._with_ts(df), self.tier)


class FeatureView:
    """Incrementally materialized per-series feature packs.

    The feature analogue of ContinuousAggregate: a snapshot table holding
    one `features()` row per series, kept in sync with a raw snapshot
    table by recomputing ONLY the series whose turns changed. Unlike a
    rollup bucket, a feature row depends on its series' FULL history
    (feat_stl/feat_acf are whole-series kernels), so every change class —
    append, replace, delete — recomputes the dirty series from the
    pinned source head; what stays incremental is WHICH series recompute
    and which storage files rewrite. Recompute-from-source also makes
    every commit replay-safe (no merge-mode hazard).

    Key-addressed replacement over a range-addressed storage primitive:
    rows carry `_kb = pmod(xxhash64(key), n_buckets)`, the target keeps
    footer stats on `_kb`, and a refresh rewrites only the hash-bucket
    runs containing dirty series — clean series in a dirty bucket are
    read back and carried through, clean buckets carry by reference.
    Deterministic hashing keeps a series in one bucket for life, so at
    10^12 turns a daily refresh touching 0.1% of conversations rewrites
    ~min(n_buckets, dirty) buckets of a table with one row per series,
    never the raw corpus.

    The one full-table cost is the dirty-series history scan: features
    need each dirty series' complete turn stream, so the source is read
    once (a broadcast semi join on the dirty key set — no shuffle of the
    raw table). Create the source with ``bloom_cols=(key_col,)`` and the
    scan prunes at the FILE level too: per-file key blooms in the
    manifest admit only the files that may hold a dirty key (superset
    read; the semi join stays the exact predicate), so a refresh
    touching 0.1% of series opens ~that fraction of the raw files
    instead of all of them. The refresh cursor commits exactly as
    ContinuousAggregate's does.
    """

    def __init__(self, source: SnapshotTable, target: SnapshotTable,
                 key_col: str = "conv_id", ts_col: str = "ts",
                 value_col: str = "value", n_buckets: int = 256,
                 name: str = "features", period=1,
                 min_points: int = 0, select: tuple | None = None,
                 max_points: int = 2_000_000):
        self.source, self.target = source, target
        self.key_col, self.ts_col, self.value_col = key_col, ts_col, value_col
        self.n_buckets, self.name = n_buckets, name
        self.period, self.min_points = period, min_points
        self.select, self.max_points = select, max_points

    def _kb(self):
        return F.pmod(F.xxhash64(F.col(self.key_col)),
                      F.lit(self.n_buckets)).cast("int").alias("_kb")

    def _featurize(self, raw: DataFrame) -> DataFrame:
        from feasts_spark.operators.features import features
        out = features(
            raw.filter(F.col(self.ts_col).isNotNull()),
            key_col=self.key_col, order_col=self.ts_col,
            value_col=self.value_col, period=self.period,
            min_points=self.min_points, select=self.select,
            max_points=self.max_points,
        )
        return out.select(self._kb(), *out.columns)

    def refresh(self, coalesce_gap_buckets: int = 4,
                max_commits: int = 8) -> dict:
        """Fold every source change since the last refresh into the
        feature table. Same contract as ContinuousAggregate.refresh."""
        _check_cursor_source(self.source, self.target, self.name)
        head = self.source.current_version()
        cur, _ = _cagg_state(self.target, self.name)
        stats = {"mode": "noop", "source_from": cur, "source_to": head,
                 "dirty_keys": 0, "commits": 0}
        if head <= cur:
            return stats

        ops = _ops_since(self.source, cur, head)
        if ops is not None and all(o == "compact" for o in ops):
            _write_cursor_sidecar(self.target, self.name, head)
            stats["mode"] = "cursor_only"
            return stats

        cursor_summary = {"cagg_name": self.name,
                          "cagg_source_version": head,
                          "cagg_source_table": self.source.name}

        if cur == 0 or not _cursor_manifest_ok(self.source, cur) \
                or (ops is not None and "overwrite" in ops):
            full = self._featurize(self.source.read(version=head))
            self.target.retrying(self.target.overwrite, full,
                                 extra_summary=cursor_summary)
            _write_cursor_sidecar(self.target, self.name, head)
            stats.update(mode="full", commits=1)
            return stats

        post = self.source.read_changes(cur, head)
        pre = self.source.read_removed(cur, head)
        for side, df_ in (("post-image", post), ("pre-image", pre)):
            _require_cols(df_, [self.key_col],
                          f"feature view {self.name} {side}")
        changed = post.unionByName(pre, allowMissingColumns=True)
        dirty_keys = changed.select(self.key_col).distinct() \
            .select(F.col(self.key_col), self._kb()) \
            .localCheckpoint(eager=True)
        buckets = sorted(
            r[0] for r in dirty_keys.select("_kb").distinct().collect())
        if not buckets:
            _write_cursor_sidecar(self.target, self.name, head)
            stats["mode"] = "cursor_only"
            return stats

        # ONE pass over the pinned source head for every dirty series'
        # full history; materialized so per-run commits don't rescan the
        # raw table. When the source carries key blooms, the pass opens
        # only the files that may hold a dirty key (superset read — the
        # broadcast semi join below stays the exact predicate); min/max
        # stats can't prune here because a ts-clustered file spans the
        # whole key space.
        src = None
        if self.key_col in getattr(self.source, "bloom_cols", ()):
            # shared probe helper: caps the key set (beyond the cap the
            # full-scan semi join is the right plan anyway) and strips
            # NULLs before hashing
            probe = self.source._collect_probe_keys(
                dirty_keys, self.key_col)
            if probe is not None:
                src = self.source.read_containing(
                    self.key_col, probe, version=head)
        if src is None:
            src = self.source.read(version=head)
        raw_dirty = src.join(
            F.broadcast(dirty_keys.select(self.key_col)),
            self.key_col, "left_semi")
        recomputed = self._featurize(raw_dirty).localCheckpoint(eager=True)

        runs = _split_runs(buckets, coalesce_gap_buckets, max_commits)
        for i, (lo, hi) in enumerate(runs):
            part = recomputed.filter(F.col("_kb").between(lo, hi))
            clean = self.target.read_where("_kb", lo, hi).join(
                F.broadcast(dirty_keys.select(self.key_col)),
                self.key_col, "left_anti")
            out = clean.select(part.columns).unionByName(part)
            self.target.retrying(
                self.target.replace_where, out, "_kb", lo, hi,
                extra_summary=cursor_summary if i == len(runs) - 1
                else {"cagg_name": self.name, **_IN_PROGRESS},
            )
        _write_cursor_sidecar(self.target, self.name, head)
        stats.update(mode="incremental", dirty_keys=dirty_keys.count(),
                     commits=len(runs))
        return stats

    def read_fresh(self) -> DataFrame:
        """Real-time feature view: the rows `refresh()` WOULD leave in
        the feature table at the current source head, computed read-only
        (see ContinuousAggregate.read_fresh). Because a feature row
        depends on its series' FULL history, the fresh tail here is the
        dirty-key recompute itself — clean series' materialized rows
        pass through a broadcast anti join; dirty series re-featurize
        from the pinned source head (bloom-pruned when the source
        carries key blooms). Mode lands in ``self.last_view_mode``:
        noop / full / incremental."""
        _check_cursor_source(self.source, self.target, self.name)
        head = self.source.current_version()
        cur, _ = _cagg_state(self.target, self.name)
        if head <= cur:
            self.last_view_mode = "noop"
            return self.target.read()

        ops = _ops_since(self.source, cur, head)
        if ops is not None and all(o == "compact" for o in ops):
            self.last_view_mode = "noop"
            return self.target.read()

        if cur == 0 or not _cursor_manifest_ok(self.source, cur) \
                or (ops is not None and "overwrite" in ops):
            self.last_view_mode = "full"
            return self._featurize(self.source.read(version=head))

        post = self.source.read_changes(cur, head)
        pre = self.source.read_removed(cur, head)
        for side, df_ in (("post-image", post), ("pre-image", pre)):
            _require_cols(df_, [self.key_col],
                          f"feature view {self.name} {side}")
        changed = post.unionByName(pre, allowMissingColumns=True)
        dirty_keys = changed.select(self.key_col).distinct() \
            .localCheckpoint(eager=True)
        base = self.target.read()
        if dirty_keys.isEmpty():
            self.last_view_mode = "noop"
            return base

        src = None
        if self.key_col in getattr(self.source, "bloom_cols", ()):
            probe = self.source._collect_probe_keys(dirty_keys, self.key_col)
            if probe is not None:
                src = self.source.read_containing(
                    self.key_col, probe, version=head)
        if src is None:
            src = self.source.read(version=head)
        raw_dirty = src.join(F.broadcast(dirty_keys), self.key_col,
                             "left_semi")
        recomputed = self._featurize(raw_dirty)
        clean = base.join(F.broadcast(dirty_keys), self.key_col, "left_anti")
        self.last_view_mode = "incremental"
        return clean.select(recomputed.columns).unionByName(recomputed)
