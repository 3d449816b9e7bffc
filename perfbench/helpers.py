"""Pure helpers of the benchmark: no Spark, no engine imports.

Percentile summaries, the span tracer and its self-time arithmetic, the
Spark event-log parser, oracle row comparison, and the process-tree RSS
and load probes. `perfbench/test_helpers.py` covers the pure parts.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import threading
import time

# Percentiles tried from the highest down; the reported tail is the
# highest one with at least TAIL_MIN_BEYOND samples above it.
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def nearest_rank(sorted_vals: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_vals:
        raise ValueError("no samples")
    return sorted_vals[_rank(pct, len(sorted_vals)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with >= TAIL_MIN_BEYOND of n samples
    beyond its nearest rank, or None when n is too small for any."""
    for pct in PERCENTILE_LADDER:
        if n - _rank(pct, n) >= TAIL_MIN_BEYOND:
            return pct
    return None


def summarize(samples: list[float]) -> dict:
    """Median, sample count, and the highest percentile the count
    supports (``tail_pct``/``tail`` are None below 20 samples)."""
    vals = sorted(samples)
    out = {"n": len(vals), "p50": statistics.median(vals) if vals else None,
           "tail_pct": None, "tail": None}
    pct = tail_percentile(len(vals))
    if pct is not None:
        out["tail_pct"], out["tail"] = pct, nearest_rank(vals, pct)
    return out


# ----- spans ---------------------------------------------------------------

class Tracer:
    """Records spans around calls into engine layers.

    A span has an id, a layer name, start/end (monotonic seconds) and the
    id of the span that was open when it started. `on_enter`/`on_exit`
    hooks let the caller tag Spark jobs with the innermost span id. A
    disabled tracer records nothing and calls no hook, so the untraced
    loop pays one attribute check per boundary.
    """

    def __init__(self, enabled: bool = False, on_enter=None, on_exit=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    def span(self, layer: str):
        return _Span(self, layer)

    def _push(self, layer: str) -> None:
        parent = self._stack[-1]["id"] if self._stack else None
        sp = {"id": f"s{len(self.spans)}", "layer": layer, "parent": parent,
              "start": time.monotonic(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp)
        if self._on_enter:
            self._on_enter(sp["id"])

    def _pop(self) -> None:
        sp = self._stack.pop()
        sp["end"] = time.monotonic()
        if self._on_exit:
            self._on_exit(self._stack[-1]["id"] if self._stack else None)


class _Span:
    def __init__(self, tracer: Tracer, layer: str):
        self.tracer, self.layer = tracer, layer

    def __enter__(self):
        if self.tracer.enabled:
            self.tracer._push(self.layer)
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.tracer._pop()
        return False


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> self time: its duration minus the part of its interval
    that its child spans cover."""
    children: dict = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"])
        - covered(children.get(sp["id"], []), sp["start"], sp["end"])
        for sp in spans
    }


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """layer -> summed self time over all its spans."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for sp in spans:
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + st[sp["id"]]
    return out


# ----- Spark event log -----------------------------------------------------

SPARK_FIELDS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "shuffle_fetch_wait_s",
                "spill_mb", "python_sent_mb")
_MB = 1024.0 * 1024.0


def _empty_spark() -> dict:
    return dict.fromkeys(SPARK_FIELDS, 0.0) | {"stages": {}}


def parse_event_log(lines) -> dict:
    """Spark event-log JSON lines -> per job group metrics.

    Jobs map to their group through the `spark.jobGroup.id` property of
    SparkListenerJobStart (None for ungrouped jobs); a stage belongs to
    the first job that listed it, and each successful or failed task end
    adds its metrics to that stage's group. Per group the result also
    keeps every stage's task run times (ms) under "stages", which the
    task-skew figure needs.
    """
    stage_group: dict[int, object] = {}
    groups: dict[object, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            g = groups.setdefault(gid, _empty_spark())
            g["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            gid = stage_group.get(sid)
            g = groups.setdefault(gid, _empty_spark())
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            g["tasks"] += 1
            g["executor_run_s"] += run_ms / 1000.0
            g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            g["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            g["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                     + rd.get("Local Bytes Read", 0)) / _MB
            g["shuffle_fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1000.0
            g["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0)) / _MB
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == "data sent to Python workers":
                    g["python_sent_mb"] += float(acc.get("Update", 0)) / _MB
            g["stages"].setdefault(sid, []).append(run_ms)
    return groups


def merge_spark(parts) -> dict:
    """Sum several per-group metric dicts (stages concatenate)."""
    out = _empty_spark()
    for p in parts:
        for k in SPARK_FIELDS:
            out[k] += p[k]
        for sid, runs in p["stages"].items():
            out["stages"].setdefault(sid, []).extend(runs)
    return out


def task_skew(stages: dict) -> float:
    """max / median task run time of the stage with the most total task
    time (1.0 when there is no such stage or its median is 0)."""
    if not stages:
        return 1.0
    runs = max(stages.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def read_event_logs(root: str) -> list[str]:
    """All event-log lines under `root` (plain or rolling layout)."""
    lines: list[str] = []
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            if fn.startswith(".") or fn.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, fn)) as f:
                lines.extend(f)
    return lines


# ----- oracle comparison ---------------------------------------------------

def _is_missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def values_equal(a, b) -> bool:
    """Exact equality where NaN and None (a NaN that crossed Arrow as a
    null) are all equal to each other."""
    if _is_missing(a) or _is_missing(b):
        return _is_missing(a) and _is_missing(b)
    return a == b


def compare_rows(got: list[dict], want: list[dict], key: str) -> list[str]:
    """Mismatches between two row sets keyed by `key` (empty = equal).
    Rows must agree on every column of `want`, NaN-equal."""
    g = {r[key]: r for r in got}
    w = {r[key]: r for r in want}
    problems = []
    for k in sorted(set(g) ^ set(w), key=str):
        side = "missing" if k in w else "unexpected"
        problems.append(f"{side} row {key}={k!r}")
    for k in sorted(set(g) & set(w), key=str):
        for col, wv in w[k].items():
            if not values_equal(g[k].get(col), wv):
                problems.append(
                    f"{key}={k!r} {col}: got {g[k].get(col)!r} want {wv!r}")
    return problems


# ----- inputs and host -----------------------------------------------------

def fingerprint(*parts) -> str:
    """Short stable hash of JSON-serializable parts (cache keys, input
    fingerprints)."""
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, default=str).encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def loadavg() -> dict:
    with open("/proc/loadavg") as f:
        one, five = f.read().split()[:2]
    return {"1m": float(one), "5m": float(five)}


def steal_ticks() -> int:
    """CPU time (clock ticks, all CPUs) the hypervisor gave to others."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root_pid: int) -> list[int]:
    kids = _children_map()
    todo, out = [root_pid], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Summed RSS (MB) of `root_pid` and all its descendants."""
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / _MB


# JVM JIT compiler threads, by the 15-character name the kernel keeps
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    return (text[text.index("(") + 1:text.rindex(")")],
            text[text.rindex(")") + 1:].split())


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by `root_pid` and all its
    descendants, including the exited children they reaped, minus the
    time of JVM JIT compiler threads: compilation is a warm-up cost that
    a long-lived JVM stops paying, and how much of it lands in a short
    run's loop varies from run to run."""
    ticks = 0
    for pid in _tree(root_pid):
        try:
            name, fields = _stat(f"/proc/{pid}/stat")
            # utime, stime, cutime, cstime: fields 14-17 of proc(5)
            ticks += sum(int(x) for x in fields[11:15])
            if name != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                tname, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
                if tname in JIT_THREADS:
                    ticks -= int(tf[11]) + int(tf[12])
        except (OSError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread that tracks the peak RSS of this process tree."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
