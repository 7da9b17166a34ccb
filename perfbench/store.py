"""Seeded, web-shaped committed store shared by the engine workloads.

`datagen.synth_pages(2N, seed)` is the web. Pages 0..N-1 are the
committed, crawled store: active nodes, walks, the visits index, seen
filters, frontier and (empty) dedup-state tables. Pages N..N+P-1 are
earlier discoveries: inactive nodes, an hour old, so the first epoch's
arbiter promotes them. Edges are the store pages' links into both sets.
Links to pages >= N+P are new discoveries, so every epoch that
re-crawls store pages mints nodes.

This replaces `benchmarks/epoch_scale.py`'s ring+chord graph: on the
ring, single-source PPR's neighbourhood BFS walks the ring's ~N/7
diameter one semi-join hop at a time (at 5k ring nodes one query did not
return in ten minutes); on synth_pages' random host-skewed links the
neighbourhood closes in a few hops.

The store is built the way `epoch_scale.py` builds one: by setting the
engine's tables and counters and committing them with `_commit`. That
build is a fixture; the set-up a crawler process pays on an existing
store is `open_engine`: a fresh engine on the store's root and
`resume()`.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

NOW0 = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
WALKS_PER_NODE = 4
N_BUCKETS = 8


def page_index(col: str = "url"):
    """synth_pages url https://host{h}.test/p{i} -> i."""
    return F.regexp_extract(F.col(col), r"/p(\d+)$", 1).cast("long")


def build_web(spark, n_store: int, seed: int):
    """The 2N-page web, materialised once (its html is generated by a
    Python UDF and every epoch's fetch semi-joins it)."""
    from crawler_spark import datagen

    return (
        datagen.synth_pages(spark, 2 * n_store, seed=seed)
        .withColumn("_i", page_index())
        .localCheckpoint(eager=True)
    )


def _engine(spark, root: str, seed: int, batch_size: int):
    from crawler_spark.engine import CrawlEngine

    eng = CrawlEngine(
        spark, root, walks_per_node=WALKS_PER_NODE, n_buckets=N_BUCKETS,
        seed=seed, batch_size=batch_size,
    )
    eng.n_table_buckets = N_BUCKETS
    return eng


def open_engine(spark, root: str, seed: int, batch_size: int):
    """The engine on the committed store at `root`, ready for
    `run_epoch`."""
    eng = _engine(spark, root, seed, batch_size)
    eng.resume()
    return eng


def build_engine(
    spark, root: str, web, n_store: int, n_pending: int, seed: int, batch_size: int
) -> None:
    """Commit pages 0..N-1 of `web` (and N..N+P-1 as pending nodes) as
    the engine's store at `root`."""
    from crawler_spark import frontier, seen, walks_gen
    from crawler_spark.engine import (
        _DOC_BANDS_SCHEMA,
        _DOC_FPS_SCHEMA,
        _DOC_LINES_SCHEMA,
    )
    from crawler_spark.functions.extract import extract_links
    from crawler_spark.schemas import STATUS_ACTIVE, STATUS_INACTIVE

    eng = _engine(spark, root, seed, batch_size)
    known = n_store + n_pending
    store = web.filter(F.col("_i") < n_store)
    eng.nodes = web.filter(F.col("_i") < known).select(
        F.col("_i").alias("node_id"),
        "url",
        F.when(F.col("_i") < n_store, F.lit(STATUS_ACTIVE))
        .otherwise(F.lit(STATUS_INACTIVE))
        .alias("status"),
        F.lit(NOW0).cast("timestamp").alias("added_ts"),
        F.lit(None).cast("timestamp").alias("promoted_ts"),
        F.lit(None).cast("timestamp").alias("demoted_ts"),
    )
    eng.edges = (
        store.select(
            F.col("_i").alias("src"),
            F.explode(extract_links("html", "url")).alias("link"),
        )
        .select("src", page_index("link").alias("dst"))
        .filter((F.col("dst") < known) & (F.col("dst") != F.col("src")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    eng.n_edges = eng.edges.count()
    active = eng.nodes.filter(F.col("status") == STATUS_ACTIVE)
    eng.walks = walks_gen.generate_walks(
        spark, eng.edges, active.select("node_id"),
        walks_per_node=WALKS_PER_NODE, seed=seed, strategy=eng.walk_strategy,
    )
    eng.visits = walks_gen.visits_of(eng.walks)
    eng.frontier = frontier.enqueue(None, active.select("url", "node_id"), NOW0)
    eng.filters = seen.build_seen_filters(
        eng.nodes.select("url"), n_buckets=N_BUCKETS
    )
    eng.doc_fps = spark.createDataFrame([], _DOC_FPS_SCHEMA)
    eng.doc_bands = spark.createDataFrame([], _DOC_BANDS_SCHEMA)
    eng.doc_lines = spark.createDataFrame([], _DOC_LINES_SCHEMA)
    eng.next_walk_id = walks_gen.next_walk_id(eng.walks)
    eng.total_visits = walks_gen.total_visits(eng.walks)
    eng.next_node_id = known
    eng._commit(NOW0, {"event": "bench-store"})
