"""Benchmark entry point.

    python3 perfbench/run.py --workload tier_build --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. Builds a seeded synthetic transcript corpus
(cached under .bench_work/ by seed and synthesizer source), sets the
workload up several times, runs its closed loop for --seconds, checks the
outputs against oracles, and prints one JSON object as the last line of
stdout: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. The line before it carries the detail
(percentiles with sample counts, seed, input fingerprint, load). Exits 1
when any output is wrong, 2 when the engine is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# One BLAS thread per process, as the engine's session sets for its
# workers; set before numpy loads so driver-side oracles compute the same
# bits as the UDF workers.
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

from helpers import (  # noqa: E402
    RssSampler, Tracer, file_digest, fingerprint, layer_self_times, loadavg,
    merge_spark, parse_event_log, read_event_logs, steal_ticks, task_skew,
    tree_cpu_s,
)

# Setup (session start, input load, for cagg_serve the warehouse build) is
# repeated this many times per run and setup_s is the median of their CPU
# times, which leaves out the JVM launch of the first. The workload's warm-up
# operations run once, after the last repeat, off the clock: the first
# operation in a fresh JVM takes two to three times a warm one.
SETUP_REPEATS = 3
CORPUS_PARTITIONS = 8
CORPUS_CACHE_KEEP = 40
CHART_CONVS = 16


def _driver_mem() -> str:
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemAvailable:"))
    return f"{max(1024, min(2048, avail_kb // 1024 // 3))}m"


def synthesize_corpus(seed: int, corpus: dict, path: str) -> None:
    """Write the transcript corpus of `seed` to `path` as parquet, with its
    metadata in `_perfbench.json`.

    The rows are the ones `synthesize_transcripts` yields for the same
    arguments: it maps the same per-conversation generator over Spark
    partitions, which is called here in the driver instead, so making the
    inputs neither starts nor warms the JVM that is measured afterwards.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feasts_spark.sources.transcripts import _gen_conversation

    start_epoch = int(pd.Timestamp(corpus["start"]).timestamp())
    end = pd.Timestamp(corpus["start"]) + pd.Timedelta(
        days=corpus["span_days"]) - pd.Timedelta(seconds=1)
    # Conversation i of the seed, for i = 0, 1, ... until both classes are
    # full: every seed gets the same number of long (feature) and short
    # conversations, so the amount of work varies little between seeds. A
    # conversation that would run past the window is moved earlier to end
    # inside it, so every seed has exactly span_days day partitions.
    frames, want = [], {True: corpus["long_convs"],
                        False: corpus["short_convs"]}
    i = 0
    while want[True] or want[False]:
        forced = i < corpus["n_forced_long"]
        conv = _gen_conversation(
            i, seed, corpus["forced_long_turns" if forced else "max_turns"],
            start_epoch, corpus["span_days"], forced)
        i += 1
        long = len(conv) >= corpus["long_turns"]
        if forced or want[long]:
            overrun = conv["ts"].max() - end
            if overrun > pd.Timedelta(0):
                conv["ts"] = conv["ts"] - overrun
            frames.append(conv)
            want[long] -= not forced
    df = pd.concat(frames, ignore_index=True)
    ts_us = df["ts"].to_numpy("datetime64[us]").astype(np.int64)
    df["ts"] = df["ts"].dt.tz_localize("UTC")
    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()),
                        ("ts", pa.timestamp("us", tz="UTC"))])
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    os.makedirs(path)
    # whole conversations per file, as the generator's partitions hold them
    ends = np.cumsum([len(f) for f in frames])
    cuts = [0, *(int(ends[len(frames) * (k + 1) // CORPUS_PARTITIONS - 1])
                 for k in range(CORPUS_PARTITIONS))]
    for k in range(CORPUS_PARTITIONS):
        pq.write_table(table.slice(cuts[k], cuts[k + 1] - cuts[k]),
                       os.path.join(path, f"part-{k:05d}.parquet"))

    per_conv = (pd.DataFrame({"conv_id": df["conv_id"], "t": ts_us})
                .groupby("conv_id")["t"].agg(["size", "min", "max"])
                .sort_index())
    by_len = per_conv.sort_values("size", ascending=False, kind="stable")
    meta = {
        "turns": len(df),
        "fingerprint": hashlib.sha256(pd.util.hash_pandas_object(
            df, index=False).to_numpy().tobytes()).hexdigest()[:16],
        "convs": len(per_conv),
        "featured_convs": per_conv.index[
            per_conv["size"] >= corpus["long_turns"]].tolist(),
        "longest_conv": by_len.index[0],
        "ts_min_us": int(ts_us.min()),
        "ts_max_us": int(ts_us.max()),
        "chart_convs": [[cid, int(r["min"]), int(r["max"])]
                        for cid, r in by_len.head(CHART_CONVS).iterrows()],
    }
    with open(os.path.join(path, "_perfbench.json"), "w") as f:
        json.dump(meta, f)


class Context:
    """Run-wide state: paths, seed, the current Spark session, the
    corpus and its metadata."""

    def __init__(self, seed: int, trace: bool):
        self.seed, self.trace = seed, trace
        self.work = os.path.join(ROOT, ".bench_work")
        self.tmp = os.path.join(self.work, "tmp")
        self.eventlog = os.path.join(self.work, "eventlog", str(os.getpid()))
        for d in (self.tmp, self.eventlog):
            os.makedirs(d, exist_ok=True)
        self.nproc = len(os.sched_getaffinity(0))
        self.null_tracer = Tracer(False)
        self.spark = None
        self.corpus_path = None
        self.corpus = None
        self.synth_s = 0.0

    def start_session(self, app: str):
        from feasts_spark.session import get_spark

        self.stop()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # Compiler threads live as long as the JVM, so the time they
            # spend is still there to subtract when the CPU is sampled
            # (helpers.tree_cpu_s); the default retires idle ones.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.eventlog,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(self.nproc, app_name=f"perfbench-{app}",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then end the JVM PySpark launched and wait
        for it: the gateway exits on EOF of its stdin, and its Python
        worker daemon with it."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def ensure_corpus(self, corpus: dict) -> None:
        """Load the corpus for this seed, synthesizing it on a cache miss.
        The cache key covers the seed, the corpus parameters and the
        synthesizer's source, so an engine change to the generator never
        reuses stale inputs."""
        from feasts_spark.sources import transcripts

        self.corpus = corpus
        self.corpus_key = fingerprint(self.seed, corpus, CORPUS_PARTITIONS,
                                      file_digest(transcripts.__file__),
                                      file_digest(__file__))
        cache = os.path.join(self.work, "corpus")
        path = os.path.join(cache, self.corpus_key)
        meta_path = os.path.join(path, "_perfbench.json")
        if not os.path.exists(meta_path):
            t0 = time.monotonic()
            tmp = path + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            synthesize_corpus(self.seed, corpus, tmp)
            shutil.rmtree(path, ignore_errors=True)
            os.rename(tmp, path)
            self.synth_s = time.monotonic() - t0
            self._evict(cache)
        else:
            os.utime(path)
        with open(meta_path) as f:
            self.meta = json.load(f)
        self.corpus_path = path

    def _evict(self, cache: str) -> None:
        dirs = sorted((os.path.join(cache, d) for d in os.listdir(cache)),
                      key=os.path.getmtime, reverse=True)
        for d in dirs[CORPUS_CACHE_KEEP:]:
            shutil.rmtree(d, ignore_errors=True)
            shutil.rmtree(os.path.join(self.work, "landing",
                                       os.path.basename(d)),
                          ignore_errors=True)


def spark_attribution(ctx: Context, spans: list[dict]) -> dict:
    """Event-log task metrics attributed to spans, then summed by layer
    and over the whole traced phase."""
    groups = parse_event_log(read_event_logs(ctx.eventlog))
    by_span = {sp["id"]: groups[sp["id"]] for sp in spans
               if sp["id"] in groups}
    layers: dict = {}
    for sp in spans:
        if sp["id"] in by_span:
            layers.setdefault(sp["layer"], []).append(by_span[sp["id"]])
    return {
        "total": merge_spark(by_span.values()),
        "layers": {k: merge_spark(v) for k, v in layers.items()},
        "span_skew": {k: task_skew(g["stages"]) for k, g in by_span.items()},
    }


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metrics(names_units, values: dict) -> dict:
    out = {}
    for m in names_units:
        out[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                          "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "feasts_spark")):
        print(f"engine package feasts_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    spec = _load_spec()
    sys.path.insert(0, ROOT)
    # Python workers start from a fresh interpreter: they need the repo
    # on their path to unpickle UDFs that reference feasts_spark.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_mem())

    ctx = Context(args.seed, bool(args.trace))
    os.environ["TMPDIR"] = ctx.tmp
    steal0 = steal_ticks()
    host = {"nproc": ctx.nproc, "loadavg_start": loadavg(),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}
    wl = WORKLOADS[args.workload](ctx)
    # input generation, not the system's set-up: cached, and off the clock
    t0 = time.monotonic()
    ctx.ensure_corpus(wl.corpus)
    wl.prepare()
    inputs_s = time.monotonic() - t0
    try:
        setups, setup_cpu, parts = [], [], []
        for _ in range(SETUP_REPEATS):
            t0, c0 = time.monotonic(), tree_cpu_s(os.getpid())
            parts.append(wl.setup())
            setups.append(time.monotonic() - t0)
            setup_cpu.append(tree_cpu_s(os.getpid()) - c0)
        t0 = time.monotonic()
        for _ in range(wl.warm_up_ops):
            wl.warm_up()
        warm_up_s = time.monotonic() - t0
        with RssSampler() as rss:
            if args.trace:
                # traced and untraced operations alternate, so both see
                # the same warehouse state and JIT warmth on average
                tracer = Tracer(True, wl.tag_jobs, wl.tag_jobs)
                base, phase = wl.loop(args.seconds,
                                      (ctx.null_tracer, tracer))
            else:
                (phase,) = wl.loop(args.seconds, (ctx.null_tracer,))
        if args.trace:
            # the event log flushes at every job end, so the traced phase
            # is complete on disk while the session lives
            attr = spark_attribution(ctx, tracer.spans)
            layers = wl.layer_metrics(phase, tracer.spans, attr)
        e2e = wl.end_to_end(phase)
        t0 = time.monotonic()
        checks, problems = wl.verify()
        verify_s = time.monotonic() - t0
    finally:
        ctx.shutdown()
        shutil.rmtree(ctx.eventlog, ignore_errors=True)

    attempted = phase["ops"] + checks
    failed = len(problems)
    detail = {
        "workload": args.workload, "seed": args.seed,
        "input_fingerprint": ctx.meta["fingerprint"],
        "corpus": {"key": ctx.corpus_key, "turns": ctx.meta["turns"],
                   "convs": ctx.meta["convs"], **ctx.corpus},
        "synth_s": ctx.synth_s, "inputs_s": inputs_s,
        "host": {**host, "loadavg_end": loadavg(),
                 "steal_s": (steal_ticks() - steal0)
                 / os.sysconf("SC_CLK_TCK")},
        "setup_wall_s_each": setups, "setup_cpu_s_each": setup_cpu,
        "setup_parts": parts,
        "warm_up_s": warm_up_s,
        "verify_s": verify_s, "ops": phase["ops"],
        "samples": phase["samples"], "peak_rss_mb": rss.peak_mb,
        "loop_wall_s": phase["wall_s"],
        **{k: e2e[k] for k in ("cpu_s_per_op", "ops_per_s",
                               "result_p50_ms")},
        **e2e["detail"],
        "error_rate": failed / attempted, "problems": problems[:20],
    }
    if args.trace:
        tot = attr["total"]
        for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "shuffle_write_mb", "shuffle_read_mb",
                  "shuffle_fetch_wait_s", "spill_mb"):
            layers[f"spark.{k}"] = tot[k] / max(phase["ops"], 1)
        layers["spark.busy_frac"] = tot["executor_run_s"] / (
            ctx.nproc * phase["wall_s"])
        layers["session.start_s"] = statistics.median(
            p["session.start_s"] for p in parts)
        layers["sources.transcripts.synth_s"] = ctx.synth_s
        layers["process.peak_rss_mb"] = rss.peak_mb
        base_e2e = wl.end_to_end(base)
        for k in ("result_p50_ms", "cpu_s_per_op"):
            layers[f"trace.overhead.{k}"] = e2e[k] - base_e2e[k]
        detail["untraced"] = base_e2e["detail"]
        detail["layer_self_s"] = layer_self_times(tracer.spans)
        detail["spark_by_layer"] = {
            k: {f: round(v, 4) for f, v in g.items() if f != "stages"}
            for k, g in attr["layers"].items()}
        declared = {m["name"] for m in spec["per_layer"]}
        undeclared = sorted(set(layers) - declared)
        if undeclared:
            raise SystemExit(f"per-layer metrics missing from "
                             f"BENCHMARK.json: {undeclared}")
        metrics = _metrics(spec["per_layer"], layers)
    else:
        metrics = _metrics(spec["end_to_end"], {
            "setup_s": statistics.median(setup_cpu),
            "cpu_s_per_op": e2e["cpu_s_per_op"],
        })
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
