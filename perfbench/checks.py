"""Output checks, run after the timed region and never timed. Each
returns a list of failure messages; an empty list means it passed."""

from __future__ import annotations

from pyspark.sql import functions as F


def walk_hops_are_edges(eng) -> list[str]:
    hops = eng.walks.select(
        F.explode(
            F.arrays_zip(
                F.slice("path", 1, F.greatest(F.size("path") - 1, F.lit(1))).alias("src"),
                F.slice("path", 2, F.greatest(F.size("path") - 1, F.lit(1))).alias("dst"),
            )
        ).alias("h"),
        F.size("path").alias("n"),
    ).filter(F.col("n") > 1).select("h.src", "h.dst")
    bad = hops.join(eng.edges, ["src", "dst"], "left_anti").count()
    return [f"{bad} walk hops are not edges of the committed graph"] if bad else []


def visits_index_matches_recount(eng) -> list[str]:
    from crawler_spark import walks_gen

    recount = walks_gen.visits_of(eng.walks).select("node_id", "walk_id")
    index = eng.visits.select("node_id", "walk_id")
    extra = index.exceptAll(recount).count()
    missing = recount.exceptAll(index).count()
    out = []
    if extra or missing:
        out.append(f"visits index differs from a recount: +{extra} -{missing}")
    n = index.count()
    if eng.total_visits != n:
        out.append(f"total_visits {eng.total_visits} != sum of visits {n}")
    return out


def epoch_stats_consistent(stats: list[dict], batch_size: int) -> list[str]:
    out = []
    for i, s in enumerate(stats):
        if s.get("scheduled") != batch_size or s.get("pages") != s.get("scheduled"):
            out.append(
                f"epoch {i}: scheduled={s.get('scheduled')} pages={s.get('pages')} "
                f"batch={batch_size}"
            )
    return out


def ranks_sum_to_one(scores, tol: float = 1e-9) -> list[str]:
    total = scores.agg(F.sum("rank")).first()[0] or 0.0
    return [] if abs(total - 1.0) <= tol else [f"global ranks sum to {total!r}"]


def index_read_matches_store_scan(eng, top: list, k: int) -> list[str]:
    """The top-k served from the maintained visits index equals the
    top-k derived from a scan of the walk store."""
    from crawler_spark import rank

    scan = rank.top_k(rank.global_pagerank(eng.walks, nodes=eng.nodes), k).collect()
    a = [(r["node_id"], round(r["rank"], 12)) for r in top]
    b = [(r["node_id"], round(r["rank"], 12)) for r in scan]
    return [] if a == b else ["top-k read from the index differs from a store scan"]


def same_rows(a: list, b: list, what: str) -> list[str]:
    key = lambda rows: sorted((r["node_id"], r["rank"]) for r in rows)  # noqa: E731
    return [] if key(a) == key(b) else [f"{what} differs on a repeat with the same seed"]
