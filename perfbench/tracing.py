"""Traced-run plumbing: pass-through wrappers around the engine's public
functions, in-memory spans, and the two outside views of each layer --
Spark's event log rolled up by job group, and the Spark 4 UDF profiler.

Nothing here is installed in an untraced run. A wrapper passes its
arguments and return value through unchanged; around the call it
records a span and sets its own Spark job group in the calling thread
(the engine's commit pool threads included), restoring the previous
group on exit. Each span's group id is unique, so every Spark job maps
to exactly one innermost span.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import pstats
import sys
import threading
import time

_GROUP = "spark.jobGroup.id"

# (owner, attribute, layer) -- owner is a module path or "module:Class".
# A module function is rebound everywhere it was imported by name.
TARGETS = [
    ("crawler_spark.engine:CrawlEngine", "run_epoch", "engine.run_epoch"),
    ("crawler_spark.engine:CrawlEngine", "process_pages", "engine.process_pages"),
    ("crawler_spark.engine:CrawlEngine", "maybe_arbiter", "engine.maybe_arbiter"),
    ("crawler_spark.engine:CrawlEngine", "pagerank", "engine.pagerank"),
    ("crawler_spark.engine:CrawlEngine", "_load", "engine.reload"),
    ("crawler_spark.frontier", "schedule_batch", "frontier.schedule_batch"),
    ("crawler_spark.frontier", "apply_arbiter", "frontier.apply_arbiter"),
    ("crawler_spark.frontier", "enqueue", "frontier.enqueue"),
    ("crawler_spark.seen", "admit_new_urls", "seen.admit_new_urls"),
    ("crawler_spark.seen", "update_seen_filters", "seen.update_seen_filters"),
    ("crawler_spark.graph", "mint_node_ids", "graph.mint_node_ids"),
    ("crawler_spark.walks_update", "update_walks", "walks_update.update_walks"),
    ("crawler_spark.walks_gen", "generate_walks", "walks_gen.generate_walks"),
    ("crawler_spark.catalog:Catalog", "write", "catalog.write"),
    ("crawler_spark.catalog:Catalog", "write_partial", "catalog.write_partial"),
    ("crawler_spark.rank", "global_pagerank", "rank.global_pagerank"),
    ("crawler_spark.rank", "top_k", "rank.top_k"),
    ("crawler_spark.ppr", "personalized_pagerank", "ppr.personalized_pagerank"),
]

# profiled Python UDF -> layer, matched on (file, function) in its stats
UDFS = {
    ("extract.py", "extract_links"): "functions.extract.extract_links",
    ("seen.py", "probe"): "seen.probe_seen",
    ("walks_gen.py", "advance_walks"): "walks_gen.advance_walks",
    ("dedup.py", "_sh"): "ops.dedup.char_shingles",
}


class Span:
    __slots__ = ("id", "name", "parent", "root", "phase", "thread", "t0", "t1", "jobs")

    def __init__(self, sid, name, parent, root, phase, thread, t0):
        self.id, self.name, self.parent, self.root = sid, name, parent, root
        self.phase, self.thread, self.t0, self.t1 = phase, thread, t0, None
        self.jobs = 0  # filled from the event log

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Owns the spans of one run. `phase` tags new spans (setup, warm,
    timed); a span opened in a thread with no open span (the commit
    pool) is parented to the innermost open span of the main thread."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.phase = "setup"
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._undo: list = []
        self.phase_starts: dict[str, float] = {}  # phase -> epoch seconds

    def set_phase(self, phase: str) -> None:
        self.phase = phase
        self.phase_starts[phase] = time.time()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            s = Span(
                len(self.spans), name,
                parent.id if parent else None,
                parent.root if parent else len(self.spans),
                self.phase, threading.get_ident(), time.perf_counter(),
            )
            self.spans.append(s)
        stack.append(s)
        return s

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Install every wrapper in TARGETS; `uninstall` restores the
        originals."""
        for owner, attr, name in TARGETS:
            mod_name, _, cls_name = owner.partition(":")
            mod = importlib.import_module(mod_name)
            if cls_name:
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[attr]
                setattr(cls, attr, self.wrap(orig, name))
                self._undo.append((cls, attr, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self.wrap(orig, name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("crawler_spark") and (
                    m.__dict__.get(attr) is orig
                ):
                    setattr(m, attr, wrapped)
                    self._undo.append((m, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo = []


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        sc = self.tracer.sc
        self.prev_group = sc.getLocalProperty(_GROUP)
        self.s = self.tracer._open(self.name)
        sc.setLocalProperty(_GROUP, f"pb{self.s.id}")
        return self.s

    def __exit__(self, *exc) -> None:
        self.s.t1 = time.perf_counter()
        self.tracer._stack().pop()
        self.tracer.sc.setLocalProperty(_GROUP, self.prev_group)


# ---- event log ----

def read_event_log(log_dir: str) -> dict:
    """Roll the event log up by job group: group -> {jobs, tasks,
    executor_run_s, shuffle_write_bytes, shuffle_read_bytes,
    spill_bytes}. Jobs with no group land under None, and their
    submission times (epoch seconds) under "ungrouped_submitted"."""
    job_group: dict[int, str | None] = {}
    stage_jobs: dict[int, list[int]] = {}
    out: dict = {}

    def acc(group):
        return out.setdefault(
            group,
            {"jobs": 0, "tasks": 0, "executor_run_s": 0.0,
             "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
             "spill_bytes": 0},
        )

    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(_GROUP)
                    job_group[ev["Job ID"]] = g
                    for st in ev.get("Stage IDs", []):
                        stage_jobs.setdefault(st, []).append(ev["Job ID"])
                    acc(g)["jobs"] += 1
                    if g is None:
                        out.setdefault("ungrouped_submitted", []).append(
                            ev.get("Submission Time", 0) / 1000.0
                        )
                elif kind == "SparkListenerTaskEnd":
                    jobs = stage_jobs.get(ev.get("Stage ID"), [])
                    g = job_group.get(jobs[-1]) if jobs else None
                    m = ev.get("Task Metrics") or {}
                    a = acc(g)
                    a["tasks"] += 1
                    a["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    r = m.get("Shuffle Read Metrics", {})
                    a["shuffle_read_bytes"] += (
                        r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    )
                    a["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    return out


# ---- UDF profiler ----

def udf_seconds(spark, dump_dir: str) -> dict:
    """Seconds spent inside each profiled Python UDF, keyed by the
    layer in UDFS; UDFs not listed there are summed under 'other'."""
    spark.profile.dump(dump_dir, type="perf")
    out: dict[str, float] = {}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        layer = "other"
        for (fname, _, func) in st.stats:
            hit = UDFS.get((os.path.basename(fname), func))
            if hit:
                layer = hit
                break
        out[layer] = out.get(layer, 0.0) + st.total_tt
    return out


def union_seconds(intervals) -> float:
    """Length of the union of (t0, t1) intervals."""
    total, end = 0.0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total
