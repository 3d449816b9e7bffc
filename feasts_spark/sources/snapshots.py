"""Snapshot tables — Iceberg-shaped metadata layer over parquet files.

The north rule targets Iceberg transcript/rollup tables; the sandbox has no
iceberg-spark-runtime jar, so this module implements the same METADATA
architecture from scratch over plain parquet files (the design follows the
public Iceberg spec's shape: immutable data files + versioned manifests +
an atomic pointer, not its code):

- **Immutable data files.** Every commit writes NEW parquet files under
  ``data/commit-<uuid>/``; nothing is mutated in place. A snapshot is a
  manifest (JSON) listing exactly the files that make up the table at that
  version, each with row count, byte size and per-column min/max stats
  harvested from the parquet FOOTER at commit time (pyarrow metadata read —
  no data pages touched).
- **Atomic commits, optimistic concurrency.** Committing version N creates
  ``metadata/v{N}.json`` exclusively (O_EXCL semantics, as a hard link of
  the fully written file) — the exclusive create IS the commit point (the
  same linearization Iceberg gets from a conditional pointer swap; on an
  object store this maps to a conditional PUT). Two writers
  racing from the same parent deterministically leave one winner; the loser
  gets :class:`SnapshotConflict`, cleans up its staging files, and retries
  against the new head.
- **Time travel.** ``read(version=...)`` / ``read(tag=...)`` resolve any
  retained manifest; readers pinned to a version see an immutable file set
  regardless of concurrent commits — a refresh/compaction never disturbs a
  running query.
- **One schema per manifest.** Every file a manifest lists is read with
  that manifest's ``schema``. ``append``, ``replace_where`` and ``publish``
  pin it (names + types, see ``_normalized``); only ``overwrite``, which
  replaces every file, can change it. Manifests from older builds may
  carry a schema-era log (``schema_sid``, ``schemas``, ``next_fid`` and a
  ``sid`` per file): one whose files all sit in the current era reads and
  commits like any other, and one whose files span eras is refused with a
  ``ValueError`` rather than misread (``_check_one_era``).
- **File-level pruning.** ``read_where(col, lo, hi)`` selects manifest
  entries by footer min/max before Spark ever lists or opens a file — the
  manifest replaces the O(files) storage listing that kills naive parquet
  dirs at 100 TB, and the residual filter still pushes down inside the
  survivors.
- **Copy-on-write replace.** ``replace_where`` rewrites ONLY the files
  whose stats intersect the dirty predicate (late-data refresh shape:
  untouched files carry over into the new manifest by reference, bitwise
  identical), unioning the kept rows of rewritten files with the new data.
- **Compaction and expiry.** ``compact`` bin-packs small files into larger
  ones as a normal commit (readers of old snapshots unaffected);
  ``expire_snapshots`` drops old manifests and deletes data files no
  retained manifest references.

Scale notes: every metadata operation is O(#files) driver-side JSON work
with no data I/O; commits touch only changed files. MEASURED ceiling
(``bench.py --manifest-scale``, BENCH_MANIFEST.json): a 1e5-entry manifest
is ~20 MB on disk, commits in ~1.1 s, loads in ~0.35 s, and a
``read_where`` prune sweep over all 1e5 entries takes ~0.5 s — all linear
in #files, so ~1e5 files (10^12 turns at day-partitioned tier grain) is
comfortably inside driver budget and ~1e6 is the practical ceiling
(~200 MB manifests, ~10 s commits). The mitigation is the knob this layer
already owns: ``compact()`` bin-packs small files so #entries tracks table
BYTES, not commit count — real Iceberg splits manifests into a tree for
the same reason; a flat list is the right call below ~1e6 files.
Reference parity: the rollup/retention tier tables the reference stores in
hypertables (SURVEY.md §2.5) gain atomic refresh + time travel here.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class AuditFailed(Exception):
    """A write-audit-publish audit vetoed the staged snapshot — a
    data-quality rejection, distinct from infrastructure errors."""


class SnapshotConflict(Exception):
    """Another writer committed the same version first; retry from head."""


def _may_have_nulls(f: dict, col: str) -> bool:
    """Whether a manifest file entry may hold NULL `col` rows (missing
    flag = unknown = assume yes). Whole-file drops must route such files
    to a rewrite: min/max windows ignore NULLs, and NULL rows never match
    a range predicate, so they survive every delete/replace."""
    v = f.get("nulls", {}).get(col)
    return True if v is None else bool(v)


def _normalized(schema: StructType) -> StructType:
    """Schema modulo nullability and field metadata.

    Writers legitimately produce non-nullable variants of the pinned schema
    (e.g. a literal-valued column); parquet files store the values
    identically, so the pin compares names + types only.
    """
    import pyspark.sql.types as T

    def norm(dt):
        if isinstance(dt, T.StructType):
            return T.StructType(
                [T.StructField(f.name, norm(f.dataType), True) for f in dt]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(norm(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(norm(dt.keyType), norm(dt.valueType), True)
        return dt

    return norm(schema)


def _json_safe(v):
    """Canonical JSON-storable form of a stat/bound value.

    Values are COMPARED as their canonical form (lexicographically for
    strings), so rendering must be order-preserving and, critically,
    identical for equal instants: pyarrow returns footer timestamp stats
    tz-AWARE (UTC) while Spark-side bounds arrive naive (session UTC) —
    str() would give the aware one a '+00:00' suffix and make an equal
    boundary compare as greater, wrongly pruning a file whose min equals
    the query's hi. Fixed-width UTC-naive ISO rendering closes that.
    """
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    # any other type (Decimal, bytes, ...) has no order-preserving string
    # form here: store NO stat (None = "window unknown"), which every
    # pruning site already treats as must-inspect — conservative, never
    # wrong. str() would PRUNE wrongly (e.g. '10.2' < '9.5').
    return None


def _bound_safe(v):
    """Canonical form for a caller-supplied pruning bound; raises on types
    whose canonical comparison is not order-preserving instead of silently
    mis-pruning."""
    s = _json_safe(v)
    if s is None and v is not None:
        raise TypeError(
            f"cannot prune on a bound of type {type(v).__name__}: no "
            "order-preserving canonical form (supported: int, float, str, "
            "bool, datetime, date)"
        )
    return s


# ----- per-file key bloom filters ------------------------------------------
#
# Footer min/max windows prune RANGE predicates well only when files are
# clustered by the column; a key column orthogonal to the clustering (e.g.
# conv_id in a ts-clustered raw table) has every file spanning the whole
# key space, so min/max never skips anything. The manifest therefore also
# carries an optional per-file BLOOM over declared key columns (the same
# design parquet's own bloom filters and Iceberg's ndv-sketch pruning
# serve): a key-addressed read probes the blooms and opens only files that
# may contain any probed key. False positives only cost I/O; a bloom never
# produces a false negative, so pruning is always a superset of the truth.

def _bloom_hash(values) -> "np.ndarray":
    """(n, 2) uint64 digest pairs for double hashing — blake2b over each
    value's canonical utf-8 rendering (stable across sessions/platforms,
    unlike hash()/pandas hashing). Rendering: str for str, str(int) for
    integrals, _json_safe for the rest — probe sides must render alike,
    which they do by construction (both call this function)."""
    import hashlib

    import numpy as np

    out = np.empty((len(values), 2), dtype=np.uint64)
    for i, v in enumerate(values):
        # canonicalize numeric renderings so a bloom built from a float
        # column ('7.0') still matches an int probe key 7 (Spark equality
        # coerces across the numeric family; the hash must too). str keys
        # vs numeric columns remain the caller's type error to avoid.
        if isinstance(v, str):
            s = v
        elif isinstance(v, bool):
            s = str(v)
        elif isinstance(v, int) or isinstance(v, np.integer):
            s = str(int(v))
        elif isinstance(v, float) or isinstance(v, np.floating):
            f = float(v)
            s = str(int(f)) if f.is_integer() else repr(f)
        else:
            s = str(_json_safe(v))
        d = hashlib.blake2b(s.encode("utf-8"), digest_size=16).digest()
        out[i, 0] = int.from_bytes(d[:8], "little")
        out[i, 1] = int.from_bytes(d[8:], "little")
    return out


def _bloom_build(values: list, max_bytes: int) -> dict:
    """Bloom dict {m, k, b64} sized for ~1% FPR at `len(values)` distinct
    keys, capped at `max_bytes` bitmap (the cap trades FPR for manifest
    size — pruning degrades gracefully, never breaks)."""
    import base64

    import numpy as np

    n = max(1, len(values))
    cap_exp = max(3, (8 * max(1, max_bytes)).bit_length() - 1)
    m = 1 << min(cap_exp, max(10, int(n * 9.6).bit_length()))
    k = max(1, min(8, round(0.693 * m / n)))
    h = _bloom_hash(values)
    i = np.arange(k, dtype=np.uint64)
    pos = (h[:, :1] + i[None, :] * h[:, 1:]) % np.uint64(m)
    bits = np.zeros(m // 8, dtype=np.uint8)
    np.bitwise_or.at(bits, (pos >> np.uint64(3)).ravel(),
                     np.uint8(1) << (pos.ravel() & np.uint64(7)).astype(np.uint8))
    return {"m": int(m), "k": int(k),
            "b64": base64.b64encode(bits.tobytes()).decode("ascii")}


def _bloom_any_match(bloom: dict, h: "np.ndarray") -> bool:
    """Whether ANY probe digest (from _bloom_hash) may be in the bloom."""
    import base64

    import numpy as np

    bits = np.frombuffer(base64.b64decode(bloom["b64"]), dtype=np.uint8)
    m, k = np.uint64(bloom["m"]), bloom["k"]
    i = np.arange(k, dtype=np.uint64)
    pos = (h[:, :1] + i[None, :] * h[:, 1:]) % m
    hit = (bits[(pos >> np.uint64(3)).astype(np.int64)]
           >> (pos & np.uint64(7)).astype(np.uint8)) & 1
    return bool(hit.all(axis=1).any())


class SnapshotTable:
    """A versioned parquet table with manifest-tracked snapshots."""

    def __init__(self, spark: SparkSession, root: str, name: str,
                 stats_cols: tuple[str, ...] = (),
                 cluster_cols: tuple[str, ...] | None = None,
                 bloom_cols: tuple[str, ...] = (),
                 bloom_max_bytes: int = 32 * 1024,
                 bloom_max_distinct: int = 1 << 18):
        self.spark = spark
        self.table_dir = os.path.join(root, name)
        self.data_dir = os.path.join(self.table_dir, "data")
        self.meta_dir = os.path.join(self.table_dir, "metadata")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        self.stats_cols = tuple(stats_cols)
        # stats are harvested for every stats_col PRESENT in the frame;
        # clustering may use a narrower set (e.g. skip a per-commit-constant
        # partition value like `dt`, which would range-partition every row
        # into one task)
        self.cluster_cols = self.stats_cols if cluster_cols is None \
            else tuple(cluster_cols)
        # key columns that get a per-file bloom in the manifest (see the
        # module-level bloom notes); a file whose distinct-key count
        # exceeds bloom_max_distinct records no bloom (= never pruned) so
        # build cost and manifest size stay bounded
        self.bloom_cols = tuple(bloom_cols)
        self.bloom_max_bytes = bloom_max_bytes
        self.bloom_max_distinct = bloom_max_distinct

    # ----- metadata primitives -------------------------------------------

    @property
    def name(self) -> str:
        """The table's directory name under the warehouse root — the
        identity consumers record in cross-table lineage (e.g. a cagg
        cursor notes which source table it was written against)."""
        return os.path.basename(self.table_dir)

    def current_version(self) -> int:
        """Highest committed version (0 = empty table, no snapshots)."""
        versions = [
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
        ]
        return max(versions, default=0)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.json")

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "files": [], "schema": None,
                    "operation": "empty", "committed_at": 0.0}
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        """Snapshot log (lineage): one row per retained version."""
        out = []
        for v in sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
        ):
            m = self.manifest(v)
            out.append({
                "version": v,
                "parent": m.get("parent"),
                "operation": m.get("operation"),
                "committed_at": m.get("committed_at"),
                "n_files": len(m["files"]),
                "total_rows": sum(f["rows"] for f in m["files"]),
                "total_bytes": sum(f["bytes"] for f in m["files"]),
                "summary": m.get("summary") or {},
            })
        return out

    # ----- named tags: immutable version pins ------------------------------
    # The Iceberg tag shape, for reproducible corpus builds: "the exact
    # table state training run X read" is a name, not a copy. A tag is a
    # tiny sidecar (name -> version) created O_EXCL so two writers racing
    # the same name get one winner; tagged snapshots are PROTECTED from
    # expire_snapshots, so the pin stays readable for the tag's lifetime
    # at the metadata-only cost of retaining its manifest + shared files.

    def _tag_path(self, name: str) -> str:
        return os.path.join(self.meta_dir, f"tag-{name}.json")

    @staticmethod
    def _check_tag_name(name: str) -> None:
        ok = (
            0 < len(name) <= 64
            and name[0].isalnum()
            and all(c.isalnum() or c in "._-" for c in name)
        )
        if not ok:
            raise ValueError(
                f"invalid tag name {name!r}: alnum start, then "
                "[A-Za-z0-9._-], max 64 chars")

    def tag(self, name: str, version: int | None = None,
            replace: bool = False) -> int:
        """Pin `name` to a snapshot version (head by default). Immutable:
        re-tagging an existing name raises unless ``replace=True``.
        Returns the pinned version."""
        self._check_tag_name(name)
        v = self.current_version() if version is None else int(version)
        if v == 0:
            raise ValueError("table has no snapshots yet")
        self.manifest(v)  # loud FileNotFoundError for an expired version
        payload = json.dumps(
            {"name": name, "version": v, "created_at": time.time()})
        p = self._tag_path(name)
        # ALWAYS write the payload to a tmp first, then publish with an
        # atomic rename (replace) or an atomic exclusive link (create):
        # a reader — tags() runs inside read(tag=) and expire_snapshots —
        # must never observe a created-but-unwritten tag file, and a
        # crash mid-write must not leave a poisoned empty tag behind.
        tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(payload)
        if replace:
            os.replace(tmp, p)
        else:
            try:
                os.link(tmp, p)  # exclusive: fails if the tag exists
            except FileExistsError:
                raise FileExistsError(
                    f"tag {name!r} already exists (version "
                    f"{self.tags()[name]}); pass replace=True to move it")
            finally:
                os.unlink(tmp)
        return v

    def drop_tag(self, name: str) -> bool:
        """Remove a tag (the pinned snapshot becomes expirable again).
        Returns False when the tag didn't exist."""
        self._check_tag_name(name)
        try:
            os.remove(self._tag_path(name))
            return True
        except FileNotFoundError:
            return False

    def tags(self) -> dict[str, int]:
        """name -> pinned version for every tag on this table."""
        out = {}
        for p in glob.glob(os.path.join(self.meta_dir, "tag-*.json")):
            with open(p) as f:
                t = json.load(f)
            out[t["name"]] = int(t["version"])
        return out

    # ----- commit path ----------------------------------------------------

    def _stage_files(self, df: DataFrame, sort_within: bool,
                     target_files: int | None = None
                     ) -> tuple[str, list[dict]]:
        """Write df's files into a fresh commit dir and harvest footer stats.

        Rows are clustered by stats_cols before writing so each file's
        min/max window stays narrow — that clustering is what makes
        read_where/replace_where prune well. Stats come from parquet
        row-group footers via pyarrow: no data pages are read.

        `target_files` pins the clustering shuffle's partition count —
        without it AQE's byte-based coalescing may pack a small commit
        into ONE file, which is fine for storage but gives file pruning
        nothing to skip; writers that know their size pass it.
        """
        import pyarrow.parquet as pq

        commit_dir = os.path.join(self.data_dir, f"commit-{uuid.uuid4().hex[:12]}")
        cluster = [c for c in self.cluster_cols if c in df.columns]
        if cluster and sort_within:
            tf = [target_files] if target_files else []
            # RANGE partitioning (not hash): adjacent stat values land in
            # the same file, so footer [min, max] windows are narrow and
            # disjoint — that is what makes read_where/replace_where prune
            # instead of touching every file. Lexicographic, so the FIRST
            # cluster column prunes sharply and later ones barely.
            df = df.repartitionByRange(*tf, *cluster)
            df = df.sortWithinPartitions(*cluster)
        df.write.mode("error").parquet(commit_dir)
        entries = []
        for path in sorted(glob.glob(os.path.join(commit_dir, "*.parquet"))):
            md = pq.ParquetFile(path).metadata
            if md.num_rows == 0:
                os.remove(path)
                continue
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            mins: dict = {}
            maxs: dict = {}
            nulls: dict = {}
            for col in self.stats_cols:
                if col not in names:
                    continue
                j = names.index(col)
                lo = hi = None
                has_null = False
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(j).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        has_null = True  # unknown -> assume present
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                    # min/max stats IGNORE nulls: a whole-file drop decided
                    # by the window alone would lose this file's NULL rows
                    if st.null_count is None or st.null_count > 0:
                        has_null = True
                mins[col] = _json_safe(lo)
                maxs[col] = _json_safe(hi)
                nulls[col] = has_null
            entry = {
                "path": os.path.relpath(path, self.table_dir),
                "rows": md.num_rows,
                "bytes": os.path.getsize(path),
                "min": mins,
                "max": maxs,
                "nulls": nulls,
            }
            blooms = {}
            for col in self.bloom_cols:
                if col not in names:
                    continue
                # one column-pruned read of the just-written local file;
                # at deployment this moves executor-side into the write
                # task (parquet's native bloom write path) — the manifest
                # shape is the same either way
                import pyarrow.compute as pc
                vals = pc.unique(pc.drop_null(
                    pq.read_table(path, columns=[col]).column(col)
                )).to_pylist()
                if len(vals) <= self.bloom_max_distinct:
                    # an all-NULL file gets an EMPTY bloom (matches no
                    # key): equality never selects NULL rows, so keyed
                    # reads/writes may always skip it
                    blooms[col] = _bloom_build(vals, self.bloom_max_bytes)
            if blooms:
                entry["bloom"] = blooms
            entries.append(entry)
        return commit_dir, entries

    def _check_one_era(self, m: dict) -> None:
        """Refuse a manifest whose files span schema eras. Older builds
        wrote an era log (`schema_sid`, `schemas`, a `sid` per file) so
        renamed or widened columns could be mapped per file; this layer
        reads every file with the manifest's one schema, which is right
        only when all files sit in its current era. Anything else is
        raised, never misread."""
        cur = m.get("schema_sid")
        if any(f.get("sid", cur) != cur for f in m["files"]):
            raise ValueError(
                f"snapshot table {self.name!r} version {m['version']}: its "
                "files span more than one schema era (written by schema "
                "evolution, which this build no longer supports); it can "
                "be neither read nor committed on")

    def _commit(self, files: list[dict], operation: str, parent_manifest: dict,
                schema_json: str, summary: dict) -> int:
        self._check_one_era(parent_manifest)
        parent_v = parent_manifest["version"]
        new_v = parent_v + 1
        manifest = {
            "version": new_v,
            "parent": parent_v,
            "operation": operation,
            "committed_at": time.time(),
            "schema": schema_json,
            "stats_cols": list(self.stats_cols),
            # entries carried from an older build's manifest drop their
            # era pointer: this manifest records no eras
            "files": [{k: v for k, v in f.items() if k != "sid"}
                      for f in files],
            "summary": summary,
        }
        path = self._manifest_path(new_v)
        # Write the manifest in full to a tmp file, then publish it with an
        # exclusive hard link. The link is the commit point (first writer
        # of v{N} wins), and v{N}.json never exists half-written: a reader
        # racing the commit, or a writer dying mid-write, cannot make an
        # empty or torn manifest the table head.
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        try:
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.link(tmp, path)
        except FileExistsError as e:
            raise SnapshotConflict(
                f"version {new_v} already committed by another writer; "
                "re-read the table head and retry"
            ) from e
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return new_v

    def _check_schema(self, df: DataFrame, parent: dict) -> str:
        if parent["files"] and parent["schema"] is not None:
            old = StructType.fromJson(json.loads(parent["schema"]))
            if _normalized(old) != _normalized(df.schema):
                raise ValueError(
                    "schema mismatch vs current snapshot: "
                    f"{old.simpleString()} != {df.schema.simpleString()}; "
                    "snapshot tables pin the schema per version — select "
                    "the frame into the pinned shape, or overwrite() the "
                    "whole table to change it"
                )
            # the shapes are equal: store the table's CANONICAL schema so
            # the pin never drifts commit to commit on writer-side
            # nullability noise
            return parent["schema"]
        return df.schema.json()

    def append(self, df: DataFrame, sort_within: bool = True,
               extra_summary: dict | None = None,
               target_files: int | None = None) -> int:
        """Commit df's rows as new files alongside the current file set.

        `extra_summary` lands in the manifest's summary dict — writers use
        it to make commits self-describing (e.g. the streaming sink records
        its micro-batch id there for exactly-once re-delivery checks).
        """
        parent = self.manifest()
        schema_json = self._check_schema(df, parent)
        commit_dir, new_files = self._stage_files(df, sort_within,
                                                  target_files)
        try:
            return self._commit(
                parent["files"] + new_files, "append", parent, schema_json,
                {"added_files": len(new_files),
                 "added_rows": sum(f["rows"] for f in new_files),
                 **(extra_summary or {})},
            )
        except SnapshotConflict:
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise

    def overwrite(self, df: DataFrame, sort_within: bool = True,
                  extra_summary: dict | None = None) -> int:
        """Commit df as the FULL table content (logical truncate + write)."""
        parent = self.manifest()
        commit_dir, new_files = self._stage_files(df, sort_within)
        try:
            return self._commit(
                new_files, "overwrite", parent, df.schema.json(),
                {"added_files": len(new_files),
                 "removed_files": len(parent["files"]),
                 **(extra_summary or {})},
            )
        except SnapshotConflict:
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise

    # ----- write-audit-publish ---------------------------------------------
    # The WAP pattern: a writer stages data files + a non-version staged
    # manifest, auditors query the staged rows with full Spark, and only
    # `publish` makes them visible — atomically, against whatever head
    # exists AT PUBLISH TIME. Bad data therefore never becomes readable,
    # and a publish that loses the O_EXCL race retries for the price of
    # one manifest write (the data files are already on disk), unlike
    # append's conflict path which restages everything. Staged-but-never-
    # published files are reclaimed by expire_snapshots' orphan sweep
    # once older than the grace window — publish within that window or
    # raise `orphan_grace_s`.

    def stage(self, df: DataFrame, operation: str = "append",
              sort_within: bool = True,
              extra_summary: dict | None = None,
              target_files: int | None = None) -> str:
        """Write df's files without committing; returns a staged id.

        `operation` is 'append' or 'overwrite' — resolved against the
        head at PUBLISH time, not stage time. Schema is checked against
        the current head here (fail fast) and again at publish (an overwrite
        may change it in between)."""
        if operation not in ("append", "overwrite"):
            raise ValueError(f"unsupported staged operation: {operation}")
        parent = self.manifest()
        schema_json = (self._check_schema(df, parent)
                       if operation == "append" else df.schema.json())
        commit_dir, files = self._stage_files(df, sort_within,
                                              target_files)
        sid = uuid.uuid4().hex[:12]
        staged = {
            "staged_id": sid,
            "operation": operation,
            "schema": schema_json,
            "staged_at": time.time(),
            "files": files,
            "summary": dict(extra_summary or {}),
        }
        with open(self._staged_path(sid), "w") as f:
            json.dump(staged, f)
        return sid

    def _staged_path(self, staged_id: str) -> str:
        return os.path.join(self.meta_dir, f"staged-{staged_id}.json")

    def staged_manifest(self, staged_id: str) -> dict:
        try:
            with open(self._staged_path(staged_id)) as f:
                return json.load(f)
        except FileNotFoundError as e:
            raise ValueError(
                f"no staged snapshot {staged_id!r} (already published, "
                "abandoned, or expired)"
            ) from e

    def read_staged(self, staged_id: str) -> DataFrame:
        """The staged rows as a DataFrame — the audit surface."""
        s = self.staged_manifest(staged_id)
        return self._read_files(s, s["files"])

    def publish(self, staged_id: str, audits=(),
                conflict_retries: int = 10) -> int:
        """Run audits over the staged rows ONCE, then commit them vs the
        current head, retrying only the (manifest-sized) head-resolve +
        O_EXCL step on SnapshotConflict — a lost race never re-scans the
        staged data. Each audit is a callable df -> anything that raises
        to veto (compose with in-plan raise_error certificates for
        machine-checked invariants); vetoes surface as AuditFailed so
        callers can distinguish data-quality rejections from
        infrastructure errors (expired staging, schema drift), and the
        staged files stay on disk for inspection either way."""
        s = self.staged_manifest(staged_id)
        missing = [
            f["path"] for f in s["files"]
            if not os.path.exists(os.path.join(self.table_dir, f["path"]))
        ]
        if missing:
            # expire_snapshots' orphan sweep reclaimed the data past the
            # grace window; committing would corrupt the head for every
            # reader
            raise ValueError(
                f"staged snapshot {staged_id!r} expired: {len(missing)} of "
                f"{len(s['files'])} staged files no longer exist "
                "(orphan sweep passed the grace window); restage"
            )
        df = self.read_staged(staged_id)
        audits = tuple(audits)
        for a in audits:
            try:
                a(df)
            except Exception as e:
                raise AuditFailed(
                    f"staged snapshot {staged_id!r} vetoed by "
                    f"{getattr(a, '__name__', repr(a))}: {e}"
                ) from e
        last: SnapshotConflict | None = None
        for _ in range(max(1, conflict_retries)):
            parent = self.manifest()
            if (s["operation"] == "append" and parent["files"]
                    and parent["schema"] is not None):
                old = _normalized(
                    StructType.fromJson(json.loads(parent["schema"])))
                new = _normalized(StructType.fromJson(json.loads(s["schema"])))
                if old != new:
                    raise ValueError(
                        "staged schema no longer matches the table head "
                        "(it changed after stage); abandon and restage"
                    )
            files = (parent["files"] + s["files"]
                     if s["operation"] == "append" else s["files"])
            try:
                v = self._commit(
                    files, s["operation"], parent, s["schema"],
                    {"staged_id": staged_id, "audits_passed": len(audits),
                     "added_files": len(s["files"]),
                     "added_rows": sum(f["rows"] for f in s["files"]),
                     **s["summary"]},
                )
                break
            except SnapshotConflict as e:
                last = e
        else:
            raise last  # type: ignore[misc]
        os.remove(self._staged_path(staged_id))
        return v

    def abandon(self, staged_id: str) -> None:
        """Drop a staged snapshot: its manifest and its data files."""
        s = self.staged_manifest(staged_id)
        for f in s["files"]:
            try:
                os.remove(os.path.join(self.table_dir, f["path"]))
            except FileNotFoundError:
                pass
        os.remove(self._staged_path(staged_id))

    def replace_where(self, df_new: DataFrame, col: str, lo, hi,
                      sort_within: bool = True,
                      extra_summary: dict | None = None) -> int:
        """Copy-on-write replace of the rows with ``lo <= col <= hi``.

        Files whose footer [min, max] window does not intersect the range
        carry into the new snapshot BY REFERENCE (bitwise untouched — the
        file-level twin of rollup_refresh's broadcast anti join). Files that
        do intersect are rewritten: their rows OUTSIDE the range are kept
        and unioned with df_new. The rewrite I/O is bounded by the dirty
        file count, not the table size.
        """
        parent = self.manifest()
        schema_json = self._check_schema(df_new, parent)
        lo_s, hi_s = _bound_safe(lo), _bound_safe(hi)
        kept, straddle, dropped = [], [], 0
        for f in parent["files"]:
            fmin = f["min"].get(col)
            fmax = f["max"].get(col)
            if fmin is None or fmax is None:
                straddle.append(f)  # no stats -> must assume it intersects
            elif fmax < lo_s or fmin > hi_s:
                kept.append(f)
            elif lo_s <= fmin and fmax <= hi_s \
                    and not _may_have_nulls(f, col):
                # fully inside the replace range (and no NULL rows, which
                # would survive the predicate): zero survivors — drop the
                # file WITHOUT reading it. This is the hot case for a
                # day-partition overwrite; stats truncation only ever
                # widens a window, so a window inside [lo, hi] is proof.
                dropped += 1
            else:
                straddle.append(f)
        out = df_new
        if straddle:
            old = self._read_files(parent, straddle)
            from pyspark.sql import functions as F
            # NULL range values never match the replace predicate, so they
            # must SURVIVE — plain ~between evaluates NULL and filter would
            # silently drop them
            survivors = old.filter(
                ~F.col(col).between(F.lit(lo), F.lit(hi))
                | F.col(col).isNull()
            )
            out = survivors.unionByName(df_new)
        commit_dir, new_files = self._stage_files(out, sort_within)
        try:
            return self._commit(
                kept + new_files, "replace", parent, schema_json,
                {"rewritten_files": len(straddle), "dropped_files": dropped,
                 "kept_files": len(kept), "added_files": len(new_files),
                 **(extra_summary or {})},
            )
        except SnapshotConflict:
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise

    def _split_by_keys(self, parent: dict, col: str, probe_keys
                       ) -> tuple[list[dict], list[dict]]:
        """(files that CANNOT hold any probe key, files that might).

        Bloom-probed on `col`; a file without a bloom lands in `might`
        (must inspect). probe_keys=None means "unknown key set" — every
        file might. Superset discipline as everywhere: kept files are
        PROVABLY clean, so carrying them by reference is exact."""
        if probe_keys is None:
            return [], list(parent["files"])
        h = _bloom_hash(list(probe_keys))
        kept, might = [], []
        for f in parent["files"]:
            b = f.get("bloom", {}).get(col)
            if b is None or _bloom_any_match(b, h):
                might.append(f)
            else:
                kept.append(f)
        return kept, might

    def _collect_probe_keys(self, df: DataFrame, col: str,
                            cap: int = 100_000) -> list | None:
        """df's distinct `col` values for bloom probing, or None when the
        set exceeds `cap` (probe cost stops paying; callers fall back to
        rewrite-everything-that-might, i.e. every file)."""
        if col not in self.bloom_cols:
            return None
        rows = df.select(col).distinct().limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        return [r[0] for r in rows if r[0] is not None]

    def upsert_keyed(self, df_new: DataFrame, key_cols,
                     sort_within: bool = True,
                     extra_summary: dict | None = None) -> int:
        """MERGE by key equality: rows whose `key_cols` tuple appears in
        `df_new` are replaced by df_new's rows; unmatched old rows
        survive; new keys insert. The key-addressed twin of
        `replace_where` — for upserts that are not range-shaped (a
        re-crawled conversation, a corrected series) on tables whose
        files are clustered by something else.

        Only files whose bloom (on the FIRST key column) may hold an
        incoming key are rewritten; provably-clean files carry by
        reference, so the rewrite I/O is bounded by the files the keys
        actually live in, not the table. Without blooms every file is
        rewritten (correct, just not pruned). Old rows with a NULL key
        never match and always survive; df_new NULL-key rows insert as-is.
        """
        key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        parent = self.manifest()
        schema_json = self._check_schema(df_new, parent)
        # pin the delta: it is evaluated three times (probe collect,
        # anti-join key set, staged write) and a nondeterministic input
        # plan could otherwise write keys the bloom probe never saw,
        # leaving their old rows alive in a "provably clean" carried file
        df_new = df_new.localCheckpoint(eager=True)
        probe = self._collect_probe_keys(df_new, key_cols[0])
        kept, might = self._split_by_keys(parent, key_cols[0], probe)
        out = df_new
        if might:
            from pyspark.sql import functions as F
            old = self._read_files(parent, might)
            # the incoming key set is the small side by construction (an
            # upsert delta); broadcast it so the rewritten files never
            # shuffle — the anti join stays a map-side probe
            survivors = old.join(
                F.broadcast(df_new.select(*key_cols).distinct()),
                key_cols, "left_anti")
            out = survivors.unionByName(df_new)
        commit_dir, new_files = self._stage_files(out, sort_within)
        try:
            return self._commit(
                kept + new_files, "upsert", parent, schema_json,
                {"key_cols": key_cols, "rewritten_files": len(might),
                 "kept_files": len(kept), "added_files": len(new_files),
                 **(extra_summary or {})},
            )
        except SnapshotConflict:
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise

    def delete_keyed(self, col: str, keys,
                     sort_within: bool = True,
                     extra_summary: dict | None = None) -> int | None:
        """Delete every row whose `col` equals one of `keys` — the
        compliance-erasure shape ("remove conversation X from the
        corpus") that is equality- not range-addressed, so `delete_below`
        / `replace_where` can't prune for it. Bloom-probed like
        `upsert_keyed`: only files that may hold a key are rewritten,
        the rest carry by reference; a downstream continuous aggregate
        sees the rewrite as changed ∪ removed rows and invalidates
        exactly the buckets the erased series touched. NULL rows never
        match an equality key and survive. Returns the new version, or
        None when no file could hold any key (metadata-only no-op —
        NOT a commit, so cursors don't advance on provable no-ops).

        `keys` may be a python sequence OR a single-column DataFrame.
        The DataFrame form never materializes the key set on the driver:
        bloom probing collects at most the `_collect_probe_keys` cap
        (past it, pruning degrades to rewrite-every-file-that-might,
        still exact), and the deletion itself is an anti join that stays
        distributed however large the key frame is — the shape a
        churn-majority erasure needs. The key frame is pinned
        (localCheckpoint) because it is evaluated more than once (probe
        + anti join), exactly like upsert_keyed's delta.
        """
        from pyspark.sql import functions as F
        if isinstance(keys, DataFrame):
            if len(keys.columns) != 1:
                raise ValueError(
                    "delete_keyed expects a single-column key frame")
            kdf = (
                keys.select(F.col(keys.columns[0]).alias(col))
                .filter(F.col(col).isNotNull())
                .distinct()
                .localCheckpoint(eager=True)
            )
            if kdf.isEmpty():
                return None
            parent = self.manifest()
            if not parent["files"]:
                return None
            probe = self._collect_probe_keys(kdf, col)
            kept, might = self._split_by_keys(parent, col, probe)
            if not might:
                return None
            old = self._read_files(parent, might)
            # broadcast only when the probe proved the set small; past
            # the cap the planner (AQE) picks the join strategy
            right = F.broadcast(kdf) if probe is not None else kdf
            survivors = old.join(right, [col], "left_anti")
            n_keys = kdf.count()
            commit_dir, new_files = self._stage_files(survivors, sort_within)
            try:
                return self._commit(
                    kept + new_files, "delete", parent,
                    parent["schema"],
                    {"key_col": col, "n_keys": n_keys,
                     "rewritten_files": len(might), "kept_files": len(kept),
                     **(extra_summary or {})},
                )
            except SnapshotConflict:
                shutil.rmtree(commit_dir, ignore_errors=True)
                raise
        keys = [k for k in keys if k is not None]
        if not keys:
            return None
        parent = self.manifest()
        if not parent["files"]:
            return None
        kept, might = self._split_by_keys(
            parent, col, keys if col in self.bloom_cols else None)
        if not might:
            return None
        old = self._read_files(parent, might)
        if len(keys) <= 1000:
            survivors = old.filter(
                ~F.col(col).isin(keys) | F.col(col).isNull())
        else:
            # big erasure lists: a literal IN won't codegen — anti join
            # against a broadcast key frame instead (NULLs survive an
            # anti join by construction)
            kdf = self.spark.createDataFrame(
                [(k,) for k in keys], old.select(col).schema)
            survivors = old.join(F.broadcast(kdf), [col], "left_anti")
        commit_dir, new_files = self._stage_files(survivors, sort_within)
        try:
            return self._commit(
                kept + new_files, "delete", parent,
                parent["schema"],
                {"key_col": col, "n_keys": len(keys),
                 "rewritten_files": len(might), "kept_files": len(kept),
                 **(extra_summary or {})},
            )
        except SnapshotConflict:
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise

    # ----- read path ------------------------------------------------------

    def _read_files(self, m: dict, files: list[dict]) -> DataFrame:
        self._check_one_era(m)
        schema = StructType.fromJson(json.loads(m["schema"]))
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.table_dir, f["path"]) for f in files]
        )

    def read(self, version: int | None = None,
             tag: str | None = None) -> DataFrame:
        """Read a snapshot: head by default, or pinned version / named
        tag."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass exactly one of version/tag")
            version = self.tags().get(tag)
            if version is None:
                raise ValueError(f"unknown tag {tag!r}")
        m = self.manifest(version)
        if m["version"] == 0:
            raise ValueError("table has no snapshots yet")
        return self._read_files(m, m["files"])

    def read_where(self, col: str, lo, hi, version: int | None = None) -> DataFrame:
        """Manifest-pruned range read: skip files by footer stats, then
        apply the residual filter (which also pushes down into the
        surviving files' row groups)."""
        m = self.manifest(version)
        if m["version"] == 0:
            raise ValueError("table has no snapshots yet")
        lo_s, hi_s = _bound_safe(lo), _bound_safe(hi)
        live = [
            f for f in m["files"]
            if f["min"].get(col) is None or f["max"].get(col) is None
            or not (f["max"][col] < lo_s or f["min"][col] > hi_s)
        ]
        from pyspark.sql import functions as F
        return self._read_files(m, live).filter(
            F.col(col).between(F.lit(lo), F.lit(hi))
        )

    def files_for_keys(self, col: str, keys, version: int | None = None,
                       _manifest: dict | None = None
                       ) -> tuple[list[dict], int]:
        """(files that may contain ANY of `keys` in `col`, total files).

        Bloom-probed via :meth:`_split_by_keys` (the single probe
        predicate): a file without a bloom for `col` (bloom_cols unset at
        write time, distinct cap exceeded, or column absent) always
        survives — the result is a superset of the files actually holding
        the keys, never a subset. NULL keys are dropped from the probe
        (equality never selects NULL rows) and an all-NULL file carries
        an empty bloom, so it never survives a key probe.
        """
        m = _manifest if _manifest is not None else self.manifest(version)
        if m["version"] == 0:
            raise ValueError("table has no snapshots yet")
        keys = [k for k in keys if k is not None]
        if not keys:
            return [], len(m["files"])
        _kept, might = self._split_by_keys(m, col, keys)
        return might, len(m["files"])

    def read_containing(self, col: str, keys,
                        version: int | None = None) -> DataFrame:
        """Key-addressed read: only the files whose bloom admits at least
        one of `keys`. SUPERSET semantics — bloom false positives (and
        bloom-less files) contribute extra rows, so the caller must still
        apply the exact key predicate (a semi join against the key set, or
        isin for small sets). The point is the I/O: a dirty-key refresh
        over a ts-clustered table opens the handful of files the keys
        live in instead of the whole table (min/max can't help there —
        every file spans the full key range).
        """
        m = self.manifest(version)
        live, _ = self.files_for_keys(col, keys, _manifest=m)
        return self._read_files(m, live)

    def read_changes(self, from_version: int,
                     to_version: int | None = None) -> DataFrame:
        """Incremental scan: the rows in files ADDED after `from_version`
        up to `to_version` (head by default).

        This is how a downstream consumer (feature refresh, incremental
        dedup, export) processes ONLY new data: appends and streaming-sink
        commits surface exactly their new rows; a replace/refresh commit
        surfaces the rewritten files' rows (the refreshed state of the
        dirty range — consumers treat them as upserts keyed by the range
        column); compaction rewrites carry no new data but do resurface
        the compacted rows, so schedule compaction-aware consumers off the
        manifest `operation` field. O(#files) manifest work, zero data I/O
        beyond the changed files themselves.
        """
        to_m = self.manifest(to_version)
        if to_m["version"] == 0:
            raise ValueError("table has no snapshots yet")
        if from_version > to_m["version"]:
            raise ValueError(
                f"from_version {from_version} is newer than to_version "
                f"{to_m['version']}"
            )
        base = (
            {f["path"] for f in self.manifest(from_version)["files"]}
            if from_version > 0 else set()
        )
        added = [f for f in to_m["files"] if f["path"] not in base]
        return self._read_files(to_m, added)

    def read_removed(self, from_version: int,
                     to_version: int | None = None) -> DataFrame:
        """Pre-image scan: the rows of files REMOVED after `from_version`
        up to `to_version` (head by default) — the mirror of
        `read_changes`. A replace/delete commit's removed files hold the
        rows that were rewritten or dropped; a consumer that must react to
        deletions (e.g. a continuous aggregate invalidating the buckets a
        retention commit emptied) unions this with `read_changes` to get
        every row whose state could have changed. Requires the
        from-version's data files to still exist (i.e. `from_version` not
        yet expired by `expire_snapshots`); raises FileNotFoundError-ish
        Spark errors if they were.
        """
        to_m = self.manifest(to_version)
        if from_version > to_m["version"]:
            raise ValueError(
                f"from_version {from_version} is newer than to_version "
                f"{to_m['version']}"
            )
        if from_version == 0:
            # nothing existed before v1, so nothing was removed
            return self._read_files(to_m, [])
        from_m = self.manifest(from_version)
        head = {f["path"] for f in to_m["files"]}
        removed = [f for f in from_m["files"] if f["path"] not in head]
        return self._read_files(from_m, removed)

    # ----- maintenance ----------------------------------------------------

    def delete_below(self, col: str, cutoff, sort_within: bool = True) -> int | None:
        """Delete the rows with ``col < cutoff`` (retention / TTL commit).

        Files whose footer max is below the cutoff drop from the manifest
        with ZERO data I/O — at a day-partitioned tier table, aging out a
        day is a metadata-only commit. Files straddling the cutoff are
        rewritten keeping only ``col >= cutoff``; data files stay on disk
        for time travel until `expire_snapshots`. Rows with a NULL `col`
        are retained (matching `DELETE WHERE col < cutoff` semantics,
        where NULL never satisfies the predicate). Returns the new
        version, or None when nothing is below the cutoff.
        """
        parent = self.manifest()
        cut_s = _bound_safe(cutoff)
        kept, gone, straddle = [], [], []
        for f in parent["files"]:
            fmin = f["min"].get(col)
            fmax = f["max"].get(col)
            if fmin is None or fmax is None:
                straddle.append(f)  # no stats -> must inspect rows
            elif fmax < cut_s and not _may_have_nulls(f, col):
                gone.append(f)
            elif fmin >= cut_s:
                kept.append(f)
            else:
                straddle.append(f)
        if not gone and not straddle:
            return None
        new_files: list[dict] = []
        commit_dir = None
        if straddle:
            from pyspark.sql import functions as F

            old = self._read_files(parent, straddle)
            # NULL never satisfies `col < cutoff`, so NULL rows survive
            commit_dir, new_files = self._stage_files(
                old.filter(
                    (F.col(col) >= F.lit(cutoff)) | F.col(col).isNull()
                ),
                sort_within,
            )
        try:
            return self._commit(
                kept + new_files, "delete", parent, parent["schema"],
                {"dropped_files": len(gone),
                 "rewritten_files": len(straddle), "kept_files": len(kept)},
            )
        except SnapshotConflict:
            if commit_dir:
                shutil.rmtree(commit_dir, ignore_errors=True)
            raise

    def compact(self, small_bytes: int = 32 * 1024 * 1024,
                min_group: int = 2, recluster: bool = False,
                target_files: int | None = None) -> int | None:
        """Bin-pack small files into fewer larger ones as a normal commit.

        Only files under `small_bytes` are rewritten; content is unchanged
        (same rows, new layout), so old snapshots still read their original
        files. Returns the new version, or None when there is nothing to do.

        By default the merged rows keep arrival order (cheap coalesce).
        That erodes pruning over time: merging many narrow-window commits
        yields files whose footer windows span their union, so
        read_where skips less after every maintenance pass.
        `recluster=True` re-sorts the merged rows through the table's
        range clustering at the same output file count —
        compaction then RESTORES pruning quality instead of spending it.
        """
        parent = self.manifest()
        small = [f for f in parent["files"] if f["bytes"] < small_bytes]
        if len(small) < min_group:
            return None
        keep = [f for f in parent["files"] if f["bytes"] >= small_bytes]
        n_out = target_files or max(
            1, int(sum(f["bytes"] for f in small) // small_bytes) + 1)
        df = self._read_files(parent, small)
        if recluster:
            commit_dir, new_files = self._stage_files(
                df, sort_within=True, target_files=n_out)
        else:
            commit_dir, new_files = self._stage_files(
                df.coalesce(n_out), sort_within=False)
        try:
            return self._commit(
                keep + new_files, "compact", parent, parent["schema"],
                {"compacted_files": len(small), "added_files": len(new_files),
                 "reclustered": bool(recluster)},
            )
        except SnapshotConflict:
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise

    def retrying(self, fn, *args, retries: int = 10, **kwargs):
        """Run a commit method with optimistic-concurrency retry.

        On SnapshotConflict the loser re-reads the new head and restages —
        correct for disjoint-predicate writers (e.g. concurrent day units),
        which is the only concurrency shape the job uses. Bounded retries
        keep a genuinely contended predicate from spinning forever.
        """
        last: SnapshotConflict | None = None
        for _ in range(retries):
            try:
                return fn(*args, **kwargs)
            except SnapshotConflict as e:
                last = e
        raise last  # type: ignore[misc]

    def expire_snapshots(self, keep_last: int = 1,
                         orphan_grace_s: float = 3600.0) -> dict:
        """Drop all but the newest `keep_last` manifests and delete data
        files no retained manifest references (orphans included).

        Unreferenced files younger than `orphan_grace_s` survive: a
        concurrent writer's staged-but-not-yet-committed files are
        unreferenced by construction, and deleting them would fail its
        commit — the same older-than guard Iceberg's orphan cleanup uses.

        Tagged snapshots are PROTECTED: a version some tag pins keeps its
        manifest and data files regardless of `keep_last` until the tag
        is dropped.
        """
        versions = sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
        )
        if not versions:
            return {"removed_manifests": 0, "removed_files": 0,
                    "removed_staged": 0}
        cut = set(versions[max(0, len(versions) - keep_last):])
        cut |= {v for v in self.tags().values() if v in set(versions)}
        referenced: set[str] = set()
        for v in cut:
            referenced |= {f["path"] for f in self.manifest(v)["files"]}
        removed_manifests = 0
        for v in versions:
            if v not in cut:
                os.remove(self._manifest_path(v))
                removed_manifests += 1
        # staged-but-never-published snapshots expire with the same grace
        # window as their data files: past it the sweep below reclaims
        # the parquet, so the staged manifest must go too — otherwise a
        # later publish() would commit dangling paths into the head
        # (publish also re-checks file existence as a belt-and-braces).
        removed_staged = 0
        now = time.time()
        for p in glob.glob(os.path.join(self.meta_dir, "staged-*.json")):
            if now - os.path.getmtime(p) >= orphan_grace_s:
                os.remove(p)
                removed_staged += 1
        # tag and manifest tmp files leak only if tag() or a commit
        # crashed mid-publish; sweep them with the same grace window (an
        # in-flight publish holds its tmp for microseconds). Real tags end
        # in ".json"; tmps carry a hex suffix AFTER it — the endswith
        # guard keeps a tag whose NAME legally contains ".json.tmp-" out
        # of the sweep.
        for p in (glob.glob(os.path.join(self.meta_dir, "tag-*.json.tmp-*"))
                  + glob.glob(os.path.join(self.meta_dir, "v*.json.tmp-*"))):
            if p.endswith(".json"):
                continue
            if now - os.path.getmtime(p) >= orphan_grace_s:
                os.remove(p)
        removed_files = 0
        for path in glob.glob(os.path.join(self.data_dir, "commit-*", "*.parquet")):
            if os.path.relpath(path, self.table_dir) in referenced:
                continue
            if now - os.path.getmtime(path) < orphan_grace_s:
                continue  # possibly staged by an in-flight commit
            os.remove(path)
            removed_files += 1
        for d in glob.glob(os.path.join(self.data_dir, "commit-*")):
            # Spark leaves _SUCCESS/.crc markers in every commit dir, so a
            # bare-emptiness check never fires; a dir is dead once no
            # parquet remains. The same grace window protects an in-flight
            # writer's staging dir whose parquet has not landed yet.
            if (not glob.glob(os.path.join(d, "*.parquet"))
                    and now - os.path.getmtime(d) >= orphan_grace_s):
                shutil.rmtree(d, ignore_errors=True)
        return {"removed_manifests": removed_manifests,
                "removed_files": removed_files,
                "removed_staged": removed_staged}


class SnapshotIO:
    """TableIO-compatible facade over SnapshotTable-managed tables.

    Drop-in for `jobs/rollup_job.py --table-format snapshot`: same
    `read` / `overwrite_partitions` surface as
    :class:`feasts_spark.sources.tableio.TableIO`, but every write is an
    atomic versioned commit — concurrent day units race on the manifest
    pointer and the loser restages (disjoint `dt` predicates, so a retry
    is always correct), readers get time travel, and retention becomes a
    metadata-only `delete_below` commit instead of directory removal.
    """

    use_iceberg = False
    is_snapshot = True

    def __init__(self, spark: SparkSession, root: str,
                 stats_cols: tuple[str, ...] = ("dt", "bucket_ts", "start_ts")):
        self.spark = spark
        self.root = root
        self.stats_cols = stats_cols
        self._tables: dict[str, SnapshotTable] = {}

    def table(self, name: str) -> SnapshotTable:
        if name not in self._tables:
            self._tables[name] = SnapshotTable(
                self.spark, self.root, name, stats_cols=self.stats_cols,
                # dt is constant within a commit (one day per write), so it
                # carries file stats but must not drive range clustering
                cluster_cols=tuple(
                    c for c in self.stats_cols if c != "dt"
                ),
            )
        return self._tables[name]

    def read(self, name: str) -> DataFrame:
        return self.table(name).read()

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: tuple[str, ...],
        values: tuple | None = None,
    ) -> None:
        """Idempotent per-partition overwrite as a COW replace commit.

        `values` names the partition being (re)written — the job always
        writes exactly one day per call, so the caller knows it statically
        and no extra distinct() pass over `df` is needed.
        """
        if partition_by != ("dt",) or values is None or len(values) != 1:
            raise ValueError(
                "SnapshotIO.overwrite_partitions writes one dt partition "
                f"per commit; got partition_by={partition_by} values={values}"
            )
        day = values[0]
        t = self.table(name)
        # materialize ONCE before staging: range clustering runs a
        # sampling job over its child, which would otherwise re-execute
        # the full upstream lineage (for chunk tables, the whole Gorilla
        # encode) a second time — measured 1.4x job cost without this,
        # ~1.1x with. The checkpoint also makes conflict-retry restaging
        # free of recompute.
        # (block cleanup: the checkpoint's storage is released by the
        # ContextCleaner once the frame is GC'd, same as the refresh
        # path's existing localCheckpoint usage)
        df = df.localCheckpoint(eager=True)
        t.retrying(t.replace_where, df, "dt", day, day)
