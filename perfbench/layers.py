"""Per-layer metrics of a traced run, from its spans, Spark's event log
and the UDF profiler. Every value is per timed op (one crawl cycle, or
one corpus-suite pass) unless its name says otherwise; a layer the
workload does not reach reports 0. layers.json says what each one
should move, on which workload."""

from __future__ import annotations

import json
import os
from collections import defaultdict

from perfbench.suite import QUERIES
from perfbench.tracing import union_seconds

SCHED_GROUPS = (
    "engine", "frontier", "seen", "graph", "walks_update", "walks_gen",
    "catalog", "rank", "ppr", "contract",
)
SCHED_MEASURES = (
    "jobs", "tasks", "executor_run_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes",
)
UDF_LAYERS = (
    "functions.extract.extract_links", "seen.probe_seen",
    "walks_gen.advance_walks", "ops.dedup.char_shingles",
)


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's `kind` metrics ("end_to_end" or
    "per_layer"), from the repository root."""
    with open(os.path.join(os.path.dirname(__file__), os.pardir, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class _Spans:
    def __init__(self, spans):
        self.all = spans
        self.children = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        self.by_id = {s.id: s for s in spans}
        self.timed = [s for s in spans if s.phase == "timed" and s.t1 is not None]

    def outer(self, name: str):
        """Timed spans named `name` with no same-named ancestor."""
        out = []
        for s in self.timed:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and self.by_id[p].name != name:
                p = self.by_id[p].parent
            if p is None:
                out.append(s)
        return out

    def descendants(self, s):
        stack, out = list(self.children[s.id]), []
        while stack:
            c = stack.pop()
            out.append(c)
            stack.extend(self.children[c.id])
        return out

    def inclusive_jobs(self, s) -> int:
        return s.jobs + sum(c.jobs for c in self.descendants(s))


def per_layer(run, events: dict, udf: dict, e2e: dict, spark_start_s: float) -> dict:
    sp = _Spans(run.tracer.spans)
    for s in sp.all:
        s.jobs = events.get(f"pb{s.id}", {}).get("jobs", 0)
    n = max(getattr(run, "n_ops", 0), 1)
    m = {k: 0.0 for k in metric_units("per_layer")}

    def wall(name):
        return sum(s.wall for s in sp.outer(name)) / n

    def jobs(name):
        return sum(sp.inclusive_jobs(s) for s in sp.outer(name)) / n

    m["setup.spark_start_s"] = spark_start_s
    m["setup.store_build_s"] = run.info.get("store_build_s", 0.0)
    m["proc.peak_rss_mb"] = e2e["peak_rss_mb"]
    for k in ("op_s", "items_per_s", "setup_s"):
        m[f"trace.{k}"] = e2e[k]

    for name in (
        "engine.run_epoch", "engine.process_pages", "engine.maybe_arbiter",
        "frontier.schedule_batch", "frontier.apply_arbiter", "frontier.enqueue",
        "seen.admit_new_urls", "seen.update_seen_filters", "graph.mint_node_ids",
        "walks_update.update_walks", "walks_gen.generate_walks",
        "rank.top100_read", "rank.global_pagerank", "ppr.personalized_pagerank",
    ):
        m[f"{name}.wall_s"] = wall(name)
        if f"{name}.jobs" in m:
            m[f"{name}.jobs"] = jobs(name)
    m["engine.reload.wall_s_sum"] = wall("engine.reload")
    for name in ("catalog.write", "catalog.write_partial"):
        m[f"{name}.calls"] = len(sp.outer(name)) / n
        m[f"{name}.wall_s_sum"] = wall(name)
    for q in QUERIES:
        m[f"contract.{q}.wall_s"] = wall(f"contract.{q}")
    for u in UDF_LAYERS:
        m[f"{u}.udf_s"] = udf.get(u, 0.0) / n

    # epoch phase accounting: schedule + process + arbiter + commit
    # (union of the concurrent table writes) + self = epoch wall
    epochs = sp.outer("engine.run_epoch")
    commit, self_s, ep_jobs = [], [], []
    for e in epochs:
        desc = sp.descendants(e)
        writes = [
            (c.t0, c.t1) for c in desc
            if c.name in ("catalog.write", "catalog.write_partial")
        ]
        phases = sum(
            c.wall for c in sp.children[e.id]
            if c.name in ("frontier.schedule_batch", "engine.process_pages",
                          "engine.maybe_arbiter")
        )
        cw = union_seconds(writes)
        commit.append(cw)
        self_s.append(e.wall - phases - cw)
        ep_jobs.append(sp.inclusive_jobs(e))
    if epochs:
        m["catalog.commit_wall_s"] = sum(commit) / n
        m["engine.run_epoch.self_s"] = sum(self_s) / n
        m["spark.jobs_per_epoch"] = sum(ep_jobs) / len(epochs)
    run.info["epoch_phases"] = [
        {
            "wall_s": round(e.wall, 4),
            **{
                c.name: round(c.wall, 4) for c in sp.children[e.id]
                if c.name in ("frontier.schedule_batch", "engine.process_pages",
                              "engine.maybe_arbiter")
            },
            "commit_s": round(cw, 4),
            "self_s": round(ss, 4),
        }
        for e, cw, ss in zip(epochs, commit, self_s)
    ]

    stats = run.info.get("stats") or []
    if stats:
        pages = sum(s.get("pages", 0) for s in stats)
        deltas = sum(s.get("deltas", 0) for s in stats)
        repaired = sum(s.get("walks_updated", 0) for s in stats)
        m["engine.maybe_arbiter.fired"] = sum(s.get("arbiter", 0) for s in stats) / len(stats)
        m["seen.minted_per_page"] = sum(s.get("new_nodes", 0) for s in stats) / max(pages, 1)
        m["walks_update.walks_repaired"] = repaired / len(stats)
        m["walks_update.repaired_per_delta"] = repaired / max(deltas, 1)
    if run.info.get("admitted") and m["contract.q3_admission.wall_s"]:
        m["seen.admission_urls_per_s"] = run.info["admitted"] / m["contract.q3_admission.wall_s"]
    m["walks_gen.walks_per_s"] = run.info.get("walks_per_s", 0.0)
    m["catalog.bytes_written"] = run.info.get("bytes_written", 0) / n
    m["catalog.store_bytes"] = e2e.get("store_bytes", 0)

    # Spark scheduler view: each job's group is its innermost span
    timed_ids = {f"pb{s.id}": s for s in sp.timed}
    starts = run.tracer.phase_starts
    t0, t1 = starts.get("timed", 0.0), starts.get("check", float("inf"))
    m["spark.unattributed.jobs"] = sum(
        t0 <= t < t1 for t in events.get("ungrouped_submitted", [])
    ) / n
    for group, acc in events.items():
        if group is None or group == "ungrouped_submitted":
            continue
        s = timed_ids.get(group)
        if s is None:
            continue
        layer = s.name.split(".")[0]
        if layer not in SCHED_GROUPS:
            continue
        for k in SCHED_MEASURES:
            m[f"spark.{layer}.{k}"] += acc[k] / n
    return m


def span_dump(tracer) -> list[dict]:
    t0 = min((s.t0 for s in tracer.spans), default=0.0)
    return [
        {
            "id": s.id, "name": s.name, "parent": s.parent, "root": s.root,
            "phase": s.phase, "thread": s.thread, "start_s": round(s.t0 - t0, 6),
            "end_s": round(s.t1 - t0, 6) if s.t1 is not None else None,
            "jobs": s.jobs,
        }
        for s in tracer.spans
    ]
