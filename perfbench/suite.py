"""The q1-q9 corpus suite `bench.py` times, as direct calls into
`contract`, `walks_gen`, `rank` and `ops`, over the sf0.1 tables it
reads (copied under perfbench/data/sf0.1), with the row count each
query's DuckDB oracle gives on them.

    python3 -m perfbench.suite    # re-derive EXPECTED from the oracles
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = ("events", "orders", "lineitem", "documents", "embeddings")
WALKS_PER_START = 100
# oracle_counts(DATA_DIR)
EXPECTED = {
    "q2_schedule": 50,
    "q3_admission": 13499,
    "q4_latest_dedup": 7500,
    "q5_delta_partition": 590973,
    "q6_dedup_exact": 5000,
    "q7_minhash_lsh": 1112809,
    "q8_ann_topk": 100,
    "q9_text_stats": 5000,
}
QUERIES = (
    "q1_walks_pagerank", "q2_schedule", "q3_admission", "q4_latest_dedup",
    "q5_delta_partition", "q6_dedup_exact", "q7_minhash_lsh", "q8_ann_topk",
    "q9_text_stats",
)
ORACLE_OF = {
    "q2_schedule": "w3_politeness_schedule",
    "q3_admission": "s2_admission_seen_filter",
    "q4_latest_dedup": "s4_latest_event_dedup",
    "q5_delta_partition": "t3_delta_partition",
    "q6_dedup_exact": "dedup_exact",
    "q7_minhash_lsh": "dedup_minhash_lsh",
    "q8_ann_topk": "ann_cosine_topk",
    "q9_text_stats": "text_stats",
}


def queries(spark, data_dir: str, seed: int) -> dict:
    """name -> zero-argument callable that runs the query to completion
    and returns what the output check needs: a row count, or for q1
    (scored nodes, rank sum, walk starts). `seed` seeds q1's walks."""
    from crawler_spark import contract, rank, walks_gen
    from crawler_spark.ops import dedup

    def q1():
        edges = contract._events_edges(spark, data_dir).persist()
        try:
            starts = edges.select(F.col("src").alias("node_id")).distinct()
            walks = walks_gen.generate_walks(
                spark, edges, starts, walks_per_node=WALKS_PER_START, seed=seed,
                strategy="broadcast",
            )
            r = rank.global_pagerank(walks).agg(
                F.count("*").alias("n"), F.sum("rank").alias("mass")
            ).first()
            return int(r["n"]), float(r["mass"]), starts.count()
        finally:
            edges.unpersist()

    def q6():
        release: list = []
        docs = spark.read.parquet(f"{data_dir}/documents.parquet")
        try:
            return dedup.exact_dedup(docs, release=release).count()
        finally:
            for f in release:
                f.unpersist()

    def counted(fn):
        return lambda: fn(spark, data_dir).count()

    return {
        "q1_walks_pagerank": q1,
        "q2_schedule": counted(contract.q_w3_politeness_schedule),
        "q3_admission": counted(contract.q_s2_admission_seen_filter),
        "q4_latest_dedup": counted(contract.q_s4_latest_event_dedup),
        "q5_delta_partition": counted(contract.q_t3_delta_partition),
        "q6_dedup_exact": q6,
        "q7_minhash_lsh": counted(contract.q_dedup_minhash_lsh),
        "q8_ann_topk": counted(contract.q_ann_cosine_topk),
        "q9_text_stats": counted(contract.q_text_stats),
    }


def oracle_counts(data_dir: str) -> dict:
    """Row count of each query's DuckDB oracle over the same parquet."""
    import duckdb

    from crawler_spark import contract

    sql = dict(contract.ORACLES)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"create view {t} as select * from '{data_dir}/{t}.parquet'"
            )
        return {
            q: con.sql(f"select count(*) from ({sql[o]})").fetchone()[0]
            for q, o in ORACLE_OF.items()
        }
    finally:
        con.close()


if __name__ == "__main__":
    print(oracle_counts(DATA_DIR))
