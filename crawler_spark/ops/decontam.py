"""Eval-set decontamination: drop training documents that share any
word n-gram with a benchmark/eval corpus (the GPT-3 appendix-C /
Dolma decontamination pass; Brown et al. 2020 used 13-grams).

The reference engine has no counterpart — this belongs to the
training-data pipeline layer beside ops/dedup's incremental family,
and it follows the same consult-never-rebuild shape: the eval side is
reduced ONCE to a distinct n-gram key table, and every training batch
is checked against that stored table.

100 TB shape:
  - the eval-gram table is tiny relative to the corpus (benchmark
    suites are at most ~10^7-10^8 grams) -> broadcast hash join; the
    training side is NEVER shuffled.  If an eval set ever outgrew the
    broadcast threshold, both sides bucket by gram key — the join
    stays key-local either way.
  - gram construction is one higher-order array expression per doc
    (tokenize once, hash each window once, array_distinct) — zero
    shuffle, whole-stage codegen; the only explode is narrow and is
    immediately reduced by the broadcast semi-join, so the post-join
    row count is delta-sized (contaminated grams only).
  - per-doc hit counts are a map-side-combined groupBy over that
    delta-sized stream.
Gram keys are md5 hex of the space-joined window (mirrored exactly by
the DuckDB oracle); a production deployment would swap xxhash64 for
md5 to shrink the key bytes — the join shape is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import _tokens_arr


def _ngram_keys_from_tokens(toks: Column, n: int) -> Column:
    """Distinct md5 keys of all word n-grams from a token-array
    column.  `toks` MUST be a projected attribute: the window slice
    inside the lambda references the outer array, and a non-attribute
    outer reference re-evaluates its whole expression per element
    (higher-order functions are interpreted — no subexpression
    reuse), turning tokenization O(tokens) into O(tokens²) per doc.
    Docs with fewer than n tokens yield an empty array."""
    cnt = F.size(toks) - (n - 1)
    # sequence(1, 0) would generate a DESCENDING [1, 0] in Spark —
    # guard short docs explicitly.
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))))
    )


def eval_ngrams(
    eval_docs: DataFrame, n: int = 13, text_col: str = "text"
) -> DataFrame:
    """The stored consult table: distinct n-gram keys of the eval
    corpus, one column `g`.  Built once per benchmark release, reused
    for every training batch."""
    return (
        eval_docs.select(_tokens_arr(F.col(text_col)).alias("_ts"))
        .select(F.explode(_ngram_keys_from_tokens(F.col("_ts"), n)).alias("g"))
        .distinct()
    )


def contamination(
    docs: DataFrame,
    eval_grams: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-document contamination verdict against the eval-gram
    table: (id_col, n_hits, contaminated), one row per input doc,
    n_hits = number of DISTINCT shared n-grams (long, 0 for clean).

    The training side explodes its per-doc distinct gram keys
    (narrow), inner-joins the broadcast eval table — everything not
    contaminated dies map-side — and the surviving delta-sized stream
    aggregates per doc with map-side combine."""
    ev = eval_grams.select("g")
    if broadcast_eval:
        ev = F.broadcast(ev)
    grams = docs.select(
        F.col(id_col), _tokens_arr(F.col(text_col)).alias("_ts")
    ).select(
        F.col(id_col),
        F.explode(_ngram_keys_from_tokens(F.col("_ts"), n)).alias("g"),
    )
    hits = grams.join(ev, "g").groupBy(id_col).agg(
        F.count("*").alias("n_hits")
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            F.coalesce(F.col("n_hits") > 0, F.lit(False)).alias(
                "contaminated"
            ),
        )
    )


def gram_bucket(col: Column, n_buckets: int) -> Column:
    """Bucket a gram KEY by its own hash (grams have no host — the
    seen layer's host bucketing would put every md5 key in one
    bucket).  Must be passed as bucket_expr on BOTH the build and
    probe sides."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("long")


def eval_gram_filters(
    eval_grams: DataFrame, n_buckets: int = 64, bits_per_key: int = 12
) -> DataFrame:
    """Partitioned bloom filters over the eval gram keys — the
    consult table's deployment form when the benchmark suite outgrows
    broadcast: ~bits_per_key bits per gram vs ~32 bytes of exact md5
    row (a 10^8-gram suite is ~150 MB of bloom vs ~3 GB of exact
    keys).  Reuses the frontier seen-layer machinery (same blob
    schema, broadcast or executor-side bucket delivery)."""
    from .. import seen

    return seen.build_seen_filters(
        eval_grams.select(F.col("g").alias("url")),
        n_buckets=n_buckets,
        bits_per_key=bits_per_key,
        kind="bloom",
        bucket_expr=gram_bucket,
    )


def contamination_prefilter(
    docs: DataFrame,
    gram_filters: DataFrame,
    n: int = 13,
    n_buckets: int = 64,
    filters_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, maybe_contaminated): bloom-probe every training doc's
    gram keys — NO false negatives (a truly contaminated doc is
    always flagged; bloom FPs only ever flag extra docs).  One Arrow
    map over the exploded gram stream, zero shuffles before the
    per-doc any() agg; with `filters_path` each executor pulls only
    the filter buckets its rows hash to."""
    from .. import seen

    grams = docs.select(
        F.col(id_col), _tokens_arr(F.col(text_col)).alias("_ts")
    ).select(
        F.col(id_col),
        F.explode(_ngram_keys_from_tokens(F.col("_ts"), n)).alias("url"),
    )
    probed = seen.probe_seen(
        grams,
        gram_filters,
        n_buckets=n_buckets,
        kind="bloom",
        filters_path=filters_path,
        bucket_expr=gram_bucket,
    )
    hits = probed.groupBy(id_col).agg(
        F.max("maybe_seen").alias("maybe_contaminated")
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("maybe_contaminated"), F.lit(False)).alias(
                "maybe_contaminated"
            ),
        )
    )


def contamination_two_stage(
    docs: DataFrame,
    eval_grams: DataFrame,
    gram_filters: DataFrame,
    n: int = 13,
    n_buckets: int = 64,
    filters_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT contamination verdicts at bloom cost: the prefilter
    clears the overwhelmingly-clean corpus map-side (no false
    negatives), and only the maybe-contaminated sliver re-grams into
    the exact broadcast join.  Output equals contamination() row for
    row — gated by test_decontam_two_stage_equals_exact.  At 100 TB
    this is the shape to run: the exact gram table only ever joins
    against bloom survivors (FP-rate-bounded, ~0.1% at 12 bits/key),
    so the explode the exact path pays is survivor-sized."""
    pre = contamination_prefilter(
        docs, gram_filters, n, n_buckets, filters_path, id_col, text_col
    )
    maybe_ids = pre.filter(F.col("maybe_contaminated")).select(id_col)
    checked = contamination(
        docs.join(maybe_ids, id_col, "left_semi"),
        eval_grams,
        n,
        id_col,
        text_col,
    )
    return (
        pre.select(id_col)
        .join(checked, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            F.coalesce(F.col("contaminated"), F.lit(False)).alias(
                "contaminated"
            ),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_grams: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Training docs with every contaminated document removed —
    all input columns pass through unchanged.  The removal is a
    left_anti against the delta-sized contaminated-id set (never a
    full-width shuffle of the corpus: AQE broadcasts the id set)."""
    verdict = contamination(
        docs, eval_grams, n, id_col, text_col, broadcast_eval
    )
    bad = verdict.filter(F.col("contaminated")).select(id_col)
    return docs.join(bad, id_col, "left_anti")
