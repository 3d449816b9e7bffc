"""Continuous ANN index maintenance — an IVF index kept in sync with a
growing embeddings snapshot table.

The batch ANN path (operators/similarity.py) builds an IVF index once per
corpus snapshot: train a coarse quantizer on a bounded seeded sample,
assign every vector to its nearest-centroid cell, persist (centroids,
assignments). At crawl cadence that rebuild is the wrong shape — a daily
1% append to a 10^9-vector corpus would re-assign the other 99% for
nothing. This module gives the index the change-classified refresh
loop of ContinuousAggregate: the same plan (`continuous._plan`; the
decision table is in operators/continuous.py), read in index terms:

  - append-only delta   -> EXTEND: assign ONLY the new vectors against the
                           frozen centroids (map-only mapInPandas, no
                           shuffle) and append them to the assignments
                           table. Invariant: the extended index is
                           row-identical to assigning the whole corpus
                           with the same frozen centroids.
  - replace/upsert/
    delete              -> RECOMPUTE the dirty ids: delete their
                           assignment rows (key-addressed, bloom-pruned),
                           re-assign the ids still present at the pinned
                           source head, append. Erasure in the corpus
                           cascades to the index.
  - overwrite / first
    run / growth past
    `retrain_growth`    -> FULL retrain: new quantizer from the current
                           corpus (ivf_params-scaled sample), overwrite
                           centroids + assignments.
  - compaction only     -> cursor-only advance (layout changed, rows
                           did not).

Freshness-vs-recall contract, stated honestly: EXTEND freezes the
quantizer, so as the corpus distribution drifts the cells get unbalanced
and recall at fixed nprobe decays — incremental assignment is an
availability trade, not a free lunch. The drift is measured, not guessed:
`status()` reports growth since the last retrain and the cell-occupancy
imbalance, `refresh()` auto-retrains past `retrain_growth`, and callers
can force_retrain=True at maintenance windows. (The same policy faiss
users run: add_with_ids between periodic re-trains.)

The refresh cursor commits atomically with the data exactly as
ContinuousAggregate's does (manifest summary + sidecar); the recompute
path is delete-then-append across two commits, with the cursor riding
ONLY the final one — a crash between them leaves dirty ids absent from
the index until the re-run (which is replay-safe: re-deleting absent
keys no-ops, re-appending overwrites nothing because the delete cleared
the keys first).
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import DataFrame, functions as F

from feasts_spark.operators.continuous import (
    _changed_rows,
    _plan,
    _write_cursor_sidecar,
    append_delta,
)
from feasts_spark.operators.similarity import (
    _ivf_assign,
    _ivf_centroids,
    ivf_params,
    ivf_query_topk,
)
from feasts_spark.sources.snapshots import SnapshotTable


class AnnIndexView:
    """Keep an IVF assignments snapshot table in sync with an embeddings
    snapshot table.

    `source` rows: (id_col long, vec_col array<float|double>). The view
    owns two tables under the source's warehouse root: `<name>`
    (assignments: id, vec, cell — create it with ``stats_cols=("cell",)``
    and ``bloom_cols=("id",)`` so serving prunes by cell and the
    recompute path prunes rewrites by id) and `<name>_centroids`
    (cell, centroid — O(n_cells) rows).
    """

    def __init__(self, source: SnapshotTable, target: SnapshotTable,
                 centroids: SnapshotTable, id_col: str = "vec_id",
                 vec_col: str = "embedding", name: str = "ann_ivf",
                 n_cells: int | None = None, seed: int = 7,
                 retrain_growth: float = 0.5):
        self.source, self.target, self.centroids = source, target, centroids
        self.id_col, self.vec_col, self.name = id_col, vec_col, name
        self.n_cells, self.seed = n_cells, seed
        self.retrain_growth = retrain_growth

    # ----- trained state ----------------------------------------------------
    # (trained_rows, centroids_version) ride the FULL retrain's target
    # commit summary — atomic with the assignments they describe, so a
    # crash between the centroids commit and the assignments commit can
    # never serve assignments against the wrong quantizer: readers
    # resolve the centroid version FROM the assignments head's lineage.
    # A sidecar covers manifest expiry, exactly like the refresh cursor.

    def _train_sidecar(self) -> str:
        return os.path.join(self.target.meta_dir, f"ann-{self.name}.json")

    def _train_state(self) -> tuple[int, int] | None:
        """(trained_rows, centroids_version) of the newest retrain visible
        from the assignments table's manifest walk, falling back to the
        sidecar; None before the first retrain."""
        import glob as _glob
        versions = sorted(
            (
                int(os.path.basename(q)[1:-5])
                for q in _glob.glob(
                    os.path.join(self.target.meta_dir, "v*.json"))
            ),
            reverse=True,
        )
        for v in versions:
            s = self.target.manifest(v).get("summary", {})
            if "ann_trained_rows" in s:
                return (int(s["ann_trained_rows"]),
                        int(s["ann_centroids_version"]))
        p = self._train_sidecar()
        if os.path.exists(p):
            with open(p) as f:
                d = json.load(f)
            return int(d["trained_rows"]), int(d["centroids_version"])
        return None

    def _write_trained(self, rows: int, cent_version: int) -> None:
        p = self._train_sidecar()
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"trained_rows": int(rows),
                       "centroids_version": int(cent_version)}, f)
        os.replace(tmp, p)

    # ----- centroid plumbing ----------------------------------------------

    def _cent_np(self) -> np.ndarray:
        st = self._train_state()
        if st is None:
            raise ValueError(f"ann index {self.name} has never been trained")
        rows = sorted(self.centroids.read(version=st[1]).collect(),
                      key=lambda r: r["cell"])
        return np.array([r["centroid"] for r in rows], dtype=np.float64)

    def _assign(self, df: DataFrame, cent: np.ndarray) -> DataFrame:
        return _ivf_assign(df, cent, self.id_col, self.vec_col,
                           nprobe=1).select("id", "vec", "cell")

    # ----- refresh ---------------------------------------------------------

    def refresh(self, force_retrain: bool = False) -> dict:
        """Fold every source change since the last refresh into the
        index: operators/continuous.py's plan, with `merge` read as
        EXTEND and this index's retrain rules (force_retrain, an
        untrained index, growth or churn past `retrain_growth`) on top.
        Returns {mode, source_from, source_to, rows_assigned,
        retrained}."""
        plan = _plan(self.source, self.target, self.name)
        cur, head = plan.cur, plan.head
        stats = {"mode": plan.mode, "source_from": cur, "source_to": head,
                 "rows_assigned": 0, "retrained": False}
        if plan.mode in ("noop", "cursor_only") and not force_retrain:
            if plan.mode == "cursor_only":
                _write_cursor_sidecar(self.target, self.name, head)
            return stats

        st = self._train_state()
        trained = st[0] if st else None
        full = force_retrain or plan.mode == "full" or trained is None

        if not full and plan.mode == "merge":
            # growth since the quantizer was trained — retrain past the
            # budget instead of silently degrading recall. Manifest-only
            # arithmetic, checked BEFORE any delta job runs: a retrain
            # rescans everything anyway, so materializing the delta
            # first would be a thrown-away Spark job.
            grown = sum(f["rows"] for f in self.source.manifest(head)["files"])
            if trained and (grown - trained) / trained > self.retrain_growth:
                full = True
            else:
                delta = append_delta(self.source, cur, head) \
                    .localCheckpoint(eager=True)
                n_delta = delta.count()
                if n_delta == 0:
                    _write_cursor_sidecar(self.target, self.name, head)
                    stats["mode"] = "cursor_only"
                    return stats
                assigned = self._assign(delta, self._cent_np())
                self.target.retrying(self.target.append, assigned,
                                     extra_summary=plan.cursor_summary)
                _write_cursor_sidecar(self.target, self.name, head)
                stats.update(mode="extend", rows_assigned=n_delta)
                return stats

        if full:
            src = self.source.read(version=head)
            n_rows = src.count()
            n_cells = self.n_cells
            sample_n = None
            if n_cells is None:
                p = ivf_params(n_rows)
                n_cells, sample_n = p["n_cells"], p["sample_n"]
            cent = _ivf_centroids(
                src, self.id_col, self.vec_col, n_cells, self.seed,
                **({"sample_n": sample_n} if sample_n is not None else {}),
            )
            cent_df = src.sparkSession.createDataFrame(
                [(int(i), [float(v) for v in cent[i]])
                 for i in range(cent.shape[0])],
                "cell int, centroid array<double>",
            )
            cv = self.centroids.retrying(self.centroids.overwrite, cent_df)
            # expire-protected pin with NO unprotected crash window: the
            # new version is pinned under a transient name before the
            # assignments commit, and the main pin only moves off the
            # old version AFTER the assignments lineage points at the
            # new one — whichever version _train_state() resolves at any
            # crash point, a tag protects it. The stale -next tag (crash
            # after the main move) is harmless: replaced next retrain.
            self.centroids.tag(f"ann-{self.name}-next", version=cv,
                               replace=True)
            self.target.retrying(
                self.target.overwrite, self._assign(src, cent),
                extra_summary={**plan.cursor_summary,
                               "ann_trained_rows": n_rows,
                               "ann_centroids_version": cv})
            self.centroids.tag(f"ann-{self.name}", version=cv, replace=True)
            self.centroids.drop_tag(f"ann-{self.name}-next")
            self._write_trained(n_rows, cv)
            _write_cursor_sidecar(self.target, self.name, head)
            stats.update(mode="full", rows_assigned=n_rows, retrained=True)
            return stats

        # replace / upsert / delete (or an expired mid-range
        # manifest): key-addressed recompute of exactly the dirty ids
        dirty = (
            _changed_rows(self.source, cur, head, [self.id_col],
                          f"ann index {self.name}")
            .select(self.id_col)
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_dirty = dirty.count()
        if n_dirty == 0:
            _write_cursor_sidecar(self.target, self.name, head)
            stats["mode"] = "cursor_only"
            return stats
        # churn-majority escape: recomputing more rows than the retrain
        # budget allows is strictly worse than retraining (the recompute
        # rewrites + reassigns them against a quantizer that churn this
        # large has likely invalidated anyway) — same threshold as the
        # append-growth path. The threshold is checked on the EXACT
        # distinct-id count, which costs one delta-sized job that the
        # escape then discards; a manifest-level rows-in-changed-files
        # bound would be free but is unusable here: COW rewrite
        # amplification (a one-id upsert on a bloom-less table rewrites
        # whole files, whose carried rows all count as "changed") makes
        # it exceed any threshold for arbitrarily small real deltas, and
        # a falsely-triggered retrain costs a full table scan + kmeans.
        # The discarded job is delta-sized against an immediately-
        # following table-sized retrain, so exactness is the cheap side.
        # (the checkpoint blocks behind `dirty` are released by Spark's
        # ContextCleaner once this frame drops out of scope on the
        # escape return — Dataset.unpersist only touches the cache
        # manager, not localCheckpoint storage)
        if trained and n_dirty / trained > self.retrain_growth:
            return self.refresh(force_retrain=True)
        # 1) clear the dirty keys. The id set stays a DataFrame end to
        #    end — delete_keyed's frame form bloom-probes through the
        #    capped _collect_probe_keys and anti-joins distributed, so no
        #    id list ever materializes on the driver (None = provable
        #    no-op, e.g. first time these ids appear)
        self.target.retrying(
            self.target.delete_keyed, "id",
            dirty.select(F.col(self.id_col).alias("id")))
        # 2) re-assign the dirty ids still present at the pinned head —
        #    bloom-pruned file read when the source indexes the id column
        #    (same recipe as FeatureView's dirty-history scan), with the
        #    broadcast semi join as the exact predicate either way
        src_head = None
        if self.id_col in getattr(self.source, "bloom_cols", ()):
            probe = self.source._collect_probe_keys(dirty, self.id_col)
            if probe is not None:
                src_head = self.source.read_containing(
                    self.id_col, probe, version=head)
        if src_head is None:
            src_head = self.source.read(version=head)
        still = src_head.join(
            F.broadcast(dirty.select(self.id_col)), self.id_col, "left_semi")
        assigned = self._assign(still, self._cent_np())
        n = assigned.count()
        if n:
            self.target.retrying(self.target.append, assigned,
                                 extra_summary=plan.cursor_summary)
        _write_cursor_sidecar(self.target, self.name, head)
        stats.update(mode="recompute", rows_assigned=n)
        return stats

    # ----- observability / serving ----------------------------------------

    def status(self) -> dict:
        """Drift report: rows at last retrain, rows now, growth fraction,
        and cell-occupancy imbalance (max/mean — 1.0 is perfectly even;
        large values mean the frozen quantizer no longer fits the data)."""
        st = self._train_state()
        trained = st[0] if st else 0
        m = self.source.manifest()
        rows_now = sum(f["rows"] for f in m["files"])
        if st is None or self.target.current_version() == 0:
            # observability must not crash on an untrained index — that
            # IS the state it exists to report
            return {
                "trained_rows": 0, "rows_now": rows_now,
                "growth_since_retrain": float("inf"),
                "cell_imbalance": 0.0, "needs_retrain": True,
            }
        occ = (
            self.target.read().groupBy("cell").count()
            .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"))
            .first()
        )
        imbalance = float(occ["mx"] / occ["mean"]) if occ["mean"] else 0.0
        growth = (rows_now - trained) / trained if trained else float("inf")
        return {
            "trained_rows": trained, "rows_now": rows_now,
            "growth_since_retrain": growth,
            "cell_imbalance": imbalance,
            "needs_retrain": growth > self.retrain_growth,
        }

    def query_topk(self, queries: DataFrame, k: int = 5, nprobe: int = 2,
                   exclude_self: bool = False) -> DataFrame:
        """Serve approximate cosine top-k from the maintained index (same
        contract as similarity.ivf_query_topk). The centroids are read at
        the version PINNED by the assignments head's lineage — never a
        newer quantizer the assignments weren't built with. At scale the
        assignments table is clustered by cell, so a cell-filtered read
        prunes to the probed cells."""
        st = self._train_state()
        if st is None:
            raise ValueError(f"ann index {self.name} has never been trained")
        return ivf_query_topk(
            self.centroids.read(version=st[1]), self.target.read(), queries,
            k=k, nprobe=nprobe, id_col=self.id_col, vec_col=self.vec_col,
            exclude_self=exclude_self,
        )
