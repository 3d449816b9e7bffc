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

The refresh plan — decided in ONE place, `_plan`, for every cursor
consumer (ContinuousAggregate.refresh and .read_fresh,
FeatureView.refresh, AnnIndexView.refresh), by what happened in the
source since the cursor; the first matching row wins:

  - nothing               -> `noop`
  - only `compact`        -> `cursor_only`: sidecar-only cursor advance
                             (layout changed, no logical rows did)
  - `overwrite` / first run / cursor manifest expired -> `full` rebuild
  - only `append`/`compact` -> `merge`: the per-commit file diff gives
                             exactly the new raw rows (compacted old rows
                             never enter the delta), and
                             `rollup_merge(touched_tier_rows,
                             rollup(delta))` re-aggregates WITHOUT
                             touching on-time raw data — the streaming /
                             crawl cadence hot path.
  - anything else (`replace`, `delete`, an expired mid-range manifest)
                          -> `recompute`: changed ∪ removed rows mark
                             dirty (series_key, bucket) pairs
                             (conservatively — compaction rows resurface
                             and recompute to identical values), and the
                             dirty buckets re-aggregate from the CURRENT
                             source via a footer-stats-pruned range read.
                             Buckets whose raw rows all vanished drop from
                             the tier — retention cascades to the
                             aggregate automatically.

A merge or recompute whose dirty set comes out empty (e.g. a replace
that rewrote zero rows) becomes `cursor_only`. A pending partial refresh
(below) turns `cursor_only` and `merge` into `recompute`. Consumers read
the plan in their own terms: FeatureView never merges (a feature row
depends on its series' whole history) and reports `recompute` as
`incremental`; AnnIndexView reads `merge` as EXTEND and layers its
retrain rules on top; read_fresh reports `cursor_only` as `noop`.

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
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from feasts_spark.operators.rollup import (
    TIER_SECONDS,
    invalidated_buckets,
    rollup_merge,
    rollup_raw,
)
from feasts_spark.sources.snapshots import SnapshotTable

_KEY_COLS = ["series_key", "bucket_ts"]


# ----- shared cursor / change-planning machinery ----------------------------

def _cursor_sidecar(target: SnapshotTable, name: str) -> str:
    return os.path.join(target.meta_dir, f"cagg-{name}.json")


def _write_cursor_sidecar(target: SnapshotTable, name: str,
                          version: int) -> None:
    p = _cursor_sidecar(target, name)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"source_version": version}, f)
    os.replace(tmp, p)


def _cursor_walk(target: SnapshotTable,
                 name: str) -> tuple[int, bool, str | None]:
    """(cursor, partial_pending, cursor_source) for this consumer.

    cursor: the newest source version already FULLY folded into `target` —
    max of the sidecar (survives manifest expiry) and the newest retained
    manifest carrying `cagg_source_version` for this name (survives a
    crash between commit and sidecar write). partial_pending: an
    in-progress (non-final) refresh commit exists NEWER than that cursor
    commit — i.e. a multi-commit refresh crashed midway and part of its
    delta is already absorbed. cursor_source: the source table that cursor
    commit recorded (None when no retained manifest carries a cursor, or
    it predates the record).

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
            return (max(best, int(s["cagg_source_version"])), partial,
                    s.get("cagg_source_table"))
        partial = True  # newer uncursored refresh commit: crashed midway
    return best, partial, None


def _cagg_state(target: SnapshotTable, name: str) -> tuple[int, bool]:
    """(cursor, partial_pending) for this consumer (see `_cursor_walk`)."""
    return _cursor_walk(target, name)[:2]


def last_refreshed_source_version(target: SnapshotTable, name: str) -> int:
    """The newest source version already folded into `target` (0 = none)."""
    return _cagg_state(target, name)[0]


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


@dataclass
class _Plan:
    """One refresh's plan (the module docstring's table). `cursor_summary`
    rides the commit that completes the refresh; a merge or recompute plan
    carries its dirty set once the consumer derives it (`set_dirty`)."""
    mode: str  # noop | cursor_only | full | merge | recompute
    cur: int
    head: int
    cursor_summary: dict
    dirty: DataFrame | None = None
    delta: DataFrame | None = None  # merge: the delta's target-shaped rows
    buckets: list = field(default_factory=list)

    def set_dirty(self, dirty: DataFrame, col: str,
                  delta: DataFrame | None = None) -> None:
        """Record the dirty set and its sorted distinct `col` values (what
        the commit runs split); an empty one leaves nothing to fold."""
        self.dirty, self.delta = dirty, delta
        self.buckets = sorted(
            r[0] for r in dirty.select(col).distinct().collect())
        if not self.buckets:
            self.mode = "cursor_only"


def _plan(source: SnapshotTable, target: SnapshotTable, name: str,
          merges: bool = True) -> _Plan:
    """Decide a consumer's refresh mode: take the source head, walk the
    target's manifests ONCE (cursor, pending partial, recorded source
    table), classify the source ops in (cursor, head]. `merges=False` is
    for a consumer that never merges and so replays every commit safely:
    a pending partial does not constrain it, and append-only ranges plan
    as recompute."""
    head = source.current_version()
    cur, partial, recorded = _cursor_walk(target, name)
    # cursor versions are only meaningful relative to the table that
    # produced them: interpreting tier_1m versions against raw (a
    # mis-wired consumer) would classify changes nonsensically and
    # silently serve wrong data. Cursors that never recorded a source
    # table pass (best-effort check).
    if recorded is not None and recorded != source.name:
        raise ValueError(
            f"cagg {name}: refresh cursor was written against source "
            f"table {recorded!r}, not {source.name!r} — consumer wiring "
            "mismatch")
    # merge-mode re-application is not idempotent, so a crashed
    # multi-commit refresh (partial: part of the pending delta is already
    # absorbed) must resume through recompute, which rewrites dirty
    # state from the source and is replay-safe
    blocked = partial and merges
    mode = "noop"
    if head > cur:
        ops = _ops_since(source, cur, head)
        if ops is not None and not blocked \
                and all(o == "compact" for o in ops):
            mode = "cursor_only"
        elif cur == 0 or not _cursor_manifest_ok(source, cur) \
                or (ops is not None and "overwrite" in ops):
            mode = "full"
        elif merges and not blocked and ops is not None \
                and all(o in ("append", "compact") for o in ops):
            mode = "merge"
        else:
            mode = "recompute"
    return _Plan(mode, cur, head, {"cagg_name": name,
                                   "cagg_source_version": head,
                                   "cagg_source_table": source.name})


def _changed_rows(source: SnapshotTable, cur: int, head: int, cols: list,
                  what: str) -> DataFrame:
    """Rows of the source files added (post-image) or dropped (pre-image)
    in (cur, head] — a recompute's invalidation input. An overwrite with
    another schema between cursor and head gives the pre-image the old
    shape, hence allowMissingColumns; invalidation only needs `cols`, so
    their absence fails loudly instead of NULL-filling and silently
    skipping invalidation."""
    post = source.read_changes(cur, head)
    pre = source.read_removed(cur, head)
    for side, df in (("post-image", post), ("pre-image", pre)):
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"{what} {side} is missing column(s) {missing} — was the "
                "source overwritten with another schema under this "
                "consumer?")
    return post.unionByName(pre, allowMissingColumns=True)


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
        self._step = _dt.timedelta(seconds=TIER_SECONDS[tier])

    def _with_ts(self, df: DataFrame) -> DataFrame:
        return df.filter(F.col(self.ts_col).isNotNull())

    def _aggregate(self, df: DataFrame) -> DataFrame:
        """Source rows -> tier rows. Subclasses swap the algebra (raw
        points here; re-aggregation of lower-tier rows in
        CascadeAggregate)."""
        return rollup_raw(self._with_ts(df), self.tier, self.key_col,
                          self.ts_col, self.value_col)

    def _dirty_plan(self) -> _Plan:
        """The shared plan plus this aggregate's dirty set, checkpointed
        once: merge mode aggregates the append delta (its keys are the
        dirty set), recompute marks the (series_key, bucket) pairs that
        changed ∪ removed rows invalidate."""
        p = _plan(self.source, self.target, self.name)
        if p.mode == "merge":
            delta = self._aggregate(append_delta(
                self.source, p.cur, p.head)).localCheckpoint(eager=True)
            p.set_dirty(delta.select(*_KEY_COLS), "bucket_ts", delta)
        elif p.mode == "recompute":
            changed = _changed_rows(self.source, p.cur, p.head,
                                    [self.key_col, self.ts_col],
                                    f"cagg {self.name}")
            p.set_dirty(invalidated_buckets(
                self._with_ts(changed), self.tier, self.key_col,
                self.ts_col).localCheckpoint(eager=True), "bucket_ts")
        return p

    def _fold(self, p: _Plan, base: DataFrame | None = None,
              run: tuple | None = None) -> DataFrame:
        """The target rows plan `p` leaves in bucket range `run` (the
        dirty buckets' [first, last] when None), from `base`, the target's
        rows in that range (the whole target when None). noop and
        cursor_only return `base` as is; full aggregates the pinned source
        head; merge and recompute pass the clean rows of `base` through a
        broadcast anti join and union the dirty keys, merged with the
        delta or re-aggregated from the pinned source head."""
        if p.mode == "full":
            return self._aggregate(self.source.read(version=p.head))
        base = self.target.read() if base is None else base
        if p.mode in ("noop", "cursor_only"):
            return base
        lo, hi = run or (p.buckets[0], p.buckets[-1])
        dirty = F.broadcast(p.dirty)
        if p.mode == "merge":
            touched = base.join(dirty, _KEY_COLS, "left_semi")
            refreshed = rollup_merge(touched, p.delta.filter(
                F.col("bucket_ts").between(F.lit(lo), F.lit(hi))))
        else:
            raw = self.source.read_where(
                self.ts_col, lo,
                hi + self._step - _dt.timedelta(microseconds=1),
                version=p.head)
            refreshed = self._aggregate(raw).join(dirty, _KEY_COLS,
                                                  "left_semi")
        clean = base.join(dirty, _KEY_COLS, "left_anti")
        return clean.select(refreshed.columns).unionByName(refreshed)

    def refresh(self, coalesce_gap_buckets: int = 16,
                max_commits: int = 8) -> dict:
        """Fold every source change since the last refresh into the target,
        as the module docstring's plan table says.

        Returns a stats dict: mode, source version range, dirty bucket
        count, commits made, and rows written. Safe to re-run at any time
        (a no-op when the cursor is at head) and after any crash (the
        cursor only advances on the final commit; a crashed merge refresh
        resumes as recompute). Dirty buckets coalesce into at most
        `max_commits` runs, one `replace_where` commit each.
        """
        p = self._dirty_plan()
        stats = {"mode": p.mode, "source_from": p.cur, "source_to": p.head,
                 "dirty_buckets": len(p.buckets), "commits": 0,
                 "rows_written": 0}
        if p.mode == "noop":
            return stats
        if p.mode == "full":
            self.target.retrying(self.target.overwrite, self._fold(p),
                                 extra_summary=p.cursor_summary)
            stats.update(commits=1, rows_written=sum(
                f["rows"] for f in self.target.manifest()["files"]))
        elif p.mode != "cursor_only":
            runs = _split_runs(p.buckets, self._step * coalesce_gap_buckets,
                               max_commits)
            for i, (lo, hi) in enumerate(runs):
                out = self._fold(
                    p, self.target.read_where("bucket_ts", lo, hi), (lo, hi))
                v = self.target.retrying(
                    self.target.replace_where, out, "bucket_ts", lo, hi,
                    extra_summary=p.cursor_summary if i == len(runs) - 1
                    else {"cagg_name": self.name, **_IN_PROGRESS},
                )
                m = self.target.manifest(v)
                before = {f["path"] for f in
                          self.target.manifest(m["parent"])["files"]}
                stats["rows_written"] += sum(
                    f["rows"] for f in m["files"] if f["path"] not in before)
            stats["commits"] = len(runs)
        _write_cursor_sidecar(self.target, self.name, p.head)
        return stats

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

        Same plan and same fold as `refresh()`, over the whole target and
        the dirty buckets' [first, last] range (a view has no commit
        granularity to bound); the plan's mode lands in
        ``self.last_view_mode``, with `cursor_only` reported as `noop`.
        The returned plan is pinned to the source/target versions
        captured here, so it stays consistent under concurrent writers.
        Cost matches the equivalent refresh minus the writes; a view over
        a CASCADE aggregate is fresh w.r.t. its own source TABLE (the
        lower tier) — refresh lower tiers first for end-to-end freshness.
        """
        p = self._dirty_plan()
        self.last_view_mode = "noop" if p.mode == "cursor_only" else p.mode
        return self._fold(p)


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
        feature table: the module docstring's plan without merge, its
        recompute reported as `incremental`. Same contract as
        ContinuousAggregate.refresh."""
        p = _plan(self.source, self.target, self.name, merges=False)
        if p.mode == "recompute":
            changed = _changed_rows(self.source, p.cur, p.head,
                                    [self.key_col],
                                    f"feature view {self.name}")
            p.set_dirty(changed.select(self.key_col).distinct()
                        .select(F.col(self.key_col), self._kb())
                        .localCheckpoint(eager=True), "_kb")
        stats = {"mode": p.mode, "source_from": p.cur, "source_to": p.head,
                 "dirty_keys": 0, "commits": 0}
        if p.mode == "noop":
            return stats
        if p.mode == "full":
            full = self._featurize(self.source.read(version=p.head))
            self.target.retrying(self.target.overwrite, full,
                                 extra_summary=p.cursor_summary)
            stats["commits"] = 1
        elif p.mode == "recompute":
            dirty_keys = F.broadcast(p.dirty.select(self.key_col))
            # ONE pass over the pinned source head for every dirty
            # series' full history; materialized so per-run commits don't
            # rescan the raw table. When the source carries key blooms,
            # the pass opens only the files that may hold a dirty key
            # (superset read — the broadcast semi join below stays the
            # exact predicate); min/max stats can't prune here because a
            # ts-clustered file spans the whole key space.
            src = None
            if self.key_col in getattr(self.source, "bloom_cols", ()):
                # shared probe helper: caps the key set (beyond the cap
                # the full-scan semi join is the right plan anyway) and
                # strips NULLs before hashing
                probe = self.source._collect_probe_keys(p.dirty,
                                                        self.key_col)
                if probe is not None:
                    src = self.source.read_containing(
                        self.key_col, probe, version=p.head)
            if src is None:
                src = self.source.read(version=p.head)
            raw_dirty = src.join(dirty_keys, self.key_col, "left_semi")
            recomputed = self._featurize(raw_dirty).localCheckpoint(
                eager=True)

            runs = _split_runs(p.buckets, coalesce_gap_buckets, max_commits)
            for i, (lo, hi) in enumerate(runs):
                part = recomputed.filter(F.col("_kb").between(lo, hi))
                clean = self.target.read_where("_kb", lo, hi).join(
                    dirty_keys, self.key_col, "left_anti")
                out = clean.select(part.columns).unionByName(part)
                self.target.retrying(
                    self.target.replace_where, out, "_kb", lo, hi,
                    extra_summary=p.cursor_summary if i == len(runs) - 1
                    else {"cagg_name": self.name, **_IN_PROGRESS},
                )
            stats.update(mode="incremental", dirty_keys=p.dirty.count(),
                         commits=len(runs))
        _write_cursor_sidecar(self.target, self.name, p.head)
        return stats
