#!/usr/bin/env python3
"""Crawl-and-rank benchmark.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the repository root. Each invocation runs one workload (`all`:
each workload in turn, each in a fresh process) on local[<cores>],
driven by one client in a closed loop (the next operation starts when
the previous one returns). Only calls into
the engine's public API are timed; outputs are checked after the timed
region. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
(see perfbench/layers.json for what each measures and what it should
move). Exits 1 when an output check fails or an operation failed.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

ROOT = os.getcwd()

N_STORE = 1000          # committed pages; the web has 2N
N_PENDING = 150         # discovered, not yet promoted (~ one epoch's mints)
BATCH = 50              # pages per crawl epoch
PPR_TOP_K = 10
# set-ups per run (store opens, table reads); setup_s is Spark start-up
# plus their median
SETUPS = 3
# epochs an hour apart: each promotes the previous epoch's discoveries
# (the arbiter's promotion wait is one hour)
TICK = dt.timedelta(hours=1)

WORKLOADS = ("crawl", "corpus_suite")


def _rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_bytes(root: str, seen: set | None = None) -> int:
    """Bytes under `root`, each inode counted once (partial commits
    hardlink unchanged buckets). Adds the inodes to `seen`."""
    seen = set() if seen is None else seen
    total = 0
    for d, _, files in os.walk(root):
        for name in files:
            st = os.lstat(os.path.join(d, name))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


class Run:
    """State of one benchmark run: its ops, failures and timings."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.problems: list[str] = []
        self.spark = None
        self.tracer = None
        self.n_ops = 0
        self.timed_s = 0.0
        self.info: dict = {}
        self.marks: dict[str, float] = {}
        self._t_mark = time.perf_counter()

    def mark(self, stage: str) -> None:
        """Record the wall time since the previous mark (for the report)."""
        t = time.perf_counter()
        self.marks[stage] = round(t - self._t_mark, 2)
        self._t_mark = t

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def attempt(self, name: str, fn):
        """Run one counted operation: returns (seconds, result), or
        (None, None) when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(name):
                out = fn()
        except Exception as e:  # a failed op is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
            return None, None
        return time.perf_counter() - t0, out

    def set_phase(self, phase: str) -> None:
        """Tag later spans with `phase`; entering the timed region
        also drops the UDF profiles collected so far."""
        if self.tracer:
            self.tracer.set_phase(phase)
            if phase == "timed":
                self.spark.profile.clear(type="perf")

    def timed_loop(self, op) -> None:
        """Closed loop: ops until --seconds have passed, at least one.
        End-to-end timings are medians over these ops."""
        self.set_phase("timed")
        t0 = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - t0 < self.args.seconds:
            op(n)
            n += 1
        self.n_ops = n
        self.timed_s = time.perf_counter() - t0
        self.set_phase("check")


# ---- workloads ----

def crawl_setup(spark, run: Run):
    """Build the seeded store once (a fixture, timed apart as
    setup.store_build_s), then open it SETUPS times the way a crawler
    process starts on an existing store. Returns the open times and
    the last opened engine."""
    from perfbench import store

    root = os.path.join(run.work, "catalog")
    t0 = time.perf_counter()
    web = store.build_web(spark, N_STORE, run.args.seed)
    store.build_engine(spark, root, web, N_STORE, N_PENDING, run.args.seed, BATCH)
    run.info["store_build_s"] = time.perf_counter() - t0
    times = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        eng = store.open_engine(spark, root, run.args.seed, BATCH)
        times.append(time.perf_counter() - t0)
    return times, (eng, web)


def crawl(spark, run: Run, ready) -> dict:
    """Crawl-and-rank cycles: one run_epoch, then a global top-100 read
    and a single-source PPR read of the state it committed."""
    import numpy as np
    from crawler_spark import ppr, rank

    from perfbench import checks, store

    eng, web = ready
    pages = web.drop("_i")
    srcs = sorted(r["src"] for r in eng.edges.select("src").distinct().collect())
    pick = np.random.default_rng(run.args.seed).choice(srcs, 64)
    now = [store.NOW0]
    stats, epoch_s, cycle_s, read_s, ppr_s = [], [], [], [], []
    last = {}

    def ppr_read(src: int) -> list:
        return ppr.personalized_pagerank(
            spark, eng.edges, eng.walks, src, top_k=PPR_TOP_K, seed=run.args.seed
        ).collect()

    def cycle(i: int, timed: bool) -> None:
        now[0] += TICK
        t0 = time.perf_counter()
        with run.span("bench.cycle"):
            sec, s = run.attempt("bench.epoch", lambda: eng.run_epoch(pages, now[0]))
            if s is not None and timed:
                stats.append(s)
                epoch_s.append(sec)
            sec, top = run.attempt(
                "rank.top100_read", lambda: rank.top_k(eng.pagerank(), 100).collect()
            )
            if top is not None and timed:
                read_s.append(sec)
                last["top"] = top
            src = int(pick[i % len(pick)])
            sec, pr = run.attempt("ppr.query", lambda: ppr_read(src))
            if pr is not None and timed:
                ppr_s.append(sec)
                last["ppr"] = (src, pr)
        if timed:
            cycle_s.append(time.perf_counter() - t0)
            if run.tracer:
                run.info["bytes_written"] += _tree_bytes(eng.cat.root, run.info["inodes"])

    run.mark("setup")
    cycle(-1, timed=False)  # warm-up: one untimed cycle of each plan family
    run.mark("warm")
    if run.tracer:
        run.info["inodes"] = set()
        _tree_bytes(eng.cat.root, run.info["inodes"])
        run.info["bytes_written"] = 0
    run.timed_loop(lambda i: cycle(i, timed=True))

    run.mark("timed")
    p = run.problems
    p += checks.epoch_stats_consistent(stats, BATCH)
    p += checks.walk_hops_are_edges(eng)
    p += checks.visits_index_matches_recount(eng)
    p += checks.ranks_sum_to_one(eng.pagerank())
    if "top" in last:
        p += checks.index_read_matches_store_scan(eng, last["top"], 100)
    if "ppr" in last:
        src, pr = last["ppr"]
        p += checks.same_rows(pr, ppr_read(src), "PPR result")
    if not stats:
        p.append("no epoch completed")
    run.mark("checks")

    pages_done = sum(s.get("pages", 0) for s in stats)
    run.info.update(epoch_s=epoch_s, read_s=read_s, ppr_s=ppr_s, stats=stats)
    return {
        "op_s": statistics.median(cycle_s),
        "items_per_s": pages_done / sum(epoch_s) if epoch_s else 0.0,
        "store_bytes": _tree_bytes(eng.cat.root),  # per-layer, not end-to-end
    }


def corpus_setup(spark, run: Run):
    """Read the sf0.1 tables SETUPS times (each table's footer and row
    count). Returns the read times."""
    from perfbench import suite

    times = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        for t in suite.TABLES:
            spark.read.parquet(os.path.join(suite.DATA_DIR, f"{t}.parquet")).count()
        times.append(time.perf_counter() - t0)
    return times, None


def corpus_suite(spark, run: Run, _) -> dict:
    """Passes of the q1-q9 suite over the sf0.1 tables: a warm-up pass,
    then the timed ones."""
    from perfbench import suite

    qs = suite.queries(spark, suite.DATA_DIR, run.args.seed)
    passes: list[tuple[dict, dict]] = []  # (seconds, outputs)

    def one_pass() -> None:
        secs, outs = {}, {}
        with run.span("bench.pass"):
            for name, fn in qs.items():
                sec, out = run.attempt(f"contract.{name}", fn)
                if sec is not None:
                    secs[name], outs[name] = sec, out
        passes.append((secs, outs))

    run.mark("setup")
    one_pass()  # warm-up: every query's plan family once
    run.mark("warm")
    run.timed_loop(lambda i: one_pass())
    run.mark("timed")

    p = run.problems
    for i, (_, outs) in enumerate(passes):  # the warm-up's outputs too
        for name, want in suite.EXPECTED.items():
            if name in outs and outs[name] != want:
                p.append(f"pass {i} {name}: {outs[name]} rows, expected {want}")
        if "q1_walks_pagerank" in outs:
            n, mass, starts = outs["q1_walks_pagerank"]
            if abs(mass - 1.0) > 1e-9 or n < starts:
                p.append(f"pass {i} q1: {n} scored nodes, {starts} starts, mass {mass!r}")
    if any(outs != passes[0][1] for _, outs in passes[1:]):
        p.append("query outputs differ between passes")
    run.mark("checks")

    timed = passes[1:]
    totals = [sum(secs.values()) for secs, _ in timed if len(secs) == len(qs)]
    walks_s = [
        outs["q1_walks_pagerank"][2] * suite.WALKS_PER_START / secs["q1_walks_pagerank"]
        for secs, outs in timed
        if "q1_walks_pagerank" in secs
    ]
    run.info["walks_per_s"] = statistics.median(walks_s) if walks_s else 0.0
    run.info["query_s"] = {q: [secs[q] for secs, _ in timed if q in secs] for q in qs}
    run.info["admitted"] = timed[0][1].get("q3_admission")
    return {
        "op_s": statistics.median(totals) if totals else 0.0,
        "items_per_s": run.info["walks_per_s"],
    }


SETUP = {"crawl": crawl_setup, "corpus_suite": corpus_setup}
BODY = {"crawl": crawl, "corpus_suite": corpus_suite}


# ---- main ----

def _spark(work: str, trace: bool):
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp dir, temp files in `work`
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    from crawler_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 4), extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        # every workload, each in a fresh process
        import subprocess

        return max(
            subprocess.run(
                [sys.executable, sys.argv[0], "--workload", w, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
            ).returncode
            for w in WORKLOADS
        )

    if not os.path.isfile(os.path.join(ROOT, "crawler_spark", "engine.py")):
        print("run from the repository root: crawler_spark/ not found", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("local", "tmp", "events", "profile"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark's Python workers import the engine
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    from perfbench import layers, tracing

    run = Run(args, work)
    layer = None
    try:
        spark = _spark(work, bool(args.trace))
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            spark_start_s = time.perf_counter() - t_start
            run.spark = spark
            if args.trace:
                run.tracer = tracing.Tracer(spark.sparkContext)
            with run.span("bench.setup"):
                setup_times, ready = SETUP[args.workload](spark, run)
            run.info["setups_s"] = setup_times
            e2e = {"setup_s": spark_start_s + statistics.median(setup_times)}
            if run.tracer:
                run.tracer.install()
            run.set_phase("warm")
            e2e.update(BODY[args.workload](spark, run, ready))
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            # per-layer, not end-to-end: its run-to-run spread (~9%) is
            # too wide for a regression bound
            e2e["peak_rss_mb"] = _rss_mb(jvm_pid) + _rss_mb("self")
            if run.tracer:
                run.tracer.uninstall()
                udf = tracing.udf_seconds(spark, os.path.join(work, "profile"))
        finally:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        if run.tracer:
            events = tracing.read_event_log(os.path.join(work, "events"))
            layer = layers.per_layer(run, events, udf, e2e, spark_start_s)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(layers.span_dump(run.tracer), f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    correct = not run.problems and run.failed == 0
    report(args, run, e2e, layer)
    values = layer if layer is not None else e2e
    metrics = {
        k: {"value": values[k], "unit": u}
        for k, u in layers.metric_units("per_layer" if args.trace else "end_to_end").items()
    }
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def report(args, run: Run, e2e: dict, layer: dict | None) -> None:
    """Human-readable lines before the JSON result."""
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} ops={run.n_ops} "
          f"attempted={run.attempted} failed={run.failed} stages_s={run.marks}")
    from perfbench import layers

    units = {**layers.metric_units("end_to_end"), "peak_rss_mb": "MB", "store_bytes": "bytes"}
    for k, u in units.items():
        if k in e2e:
            print(f"  {k} = {e2e[k]:.6g} {u}")
    for k, v in run.info.items():
        if k.endswith("_s") and isinstance(v, (list, dict)):
            print(f"  {k}: {v}")
    for e in run.info.get("epoch_phases", []):
        print("  epoch phases", e)
    keys = ("pages", "new_nodes", "deltas", "walks_updated", "arbiter", "promoted")
    for s in run.info.get("stats", []):
        print("  epoch", {k: s[k] for k in keys if k in s})
    for line in run.errors + run.problems:
        print(f"  FAIL {line}")
    if layer is not None:
        for k in sorted(layer):
            print(f"  {k} = {layer[k]:.6g}")


if __name__ == "__main__":
    sys.exit(main())
