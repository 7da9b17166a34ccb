"""DSIR-style data selection: hashed n-gram importance resampling
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling").  Given a small TARGET corpus (the domain you want more
of) and the RAW crawl, score every raw document by how much more
likely its hashed unigram+bigram bag is under the target's bucket
distribution than under the raw distribution, then resample top-k
with Gumbel noise (a without-replacement sample proportional to the
importance weights).

The reference engine has no counterpart — this is training-data
pipeline layer beside ops/sampling's mixture step: mixture sampling
balances SOURCES you already trust; DSIR pulls target-domain-looking
documents out of an untrusted crawl.

100 TB shape:
  - feature extraction is one higher-order array expression per doc
    (tokenize once, hash each unigram/bigram once) — narrow, zero
    shuffle, whole-stage codegen; the only wide op per corpus is ONE
    map-side-combined groupBy on (doc, bucket) [exact long counts].
  - both distributions and the log-ratio table are B rows (B =
    n_buckets, e.g. 1e4) -> the per-doc weight join broadcasts the
    ratio table; the corpus is NEVER shuffled for scoring beyond its
    own (doc, bucket) count agg, which re-uses the same keys.
  - the target corpus is small by definition (a benchmark/domain
    sample); its distribution pass is negligible.
  - resampling is TakeOrdered(k) over (logw/T + gumbel) — per-
    partition top-k then a k-row driver merge, never a global sort.
The hash primitive is md5 (exact DuckDB oracle mirror, like every
dedup operator here); production would swap xxhash64 — same plan.
The Gumbel draw is the deterministic md5 uniform of ops/sampling
(reproducible, resumable, oracle-mirrored bytewise).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import _tokens_arr

_U32 = float(1 << 32)


def _bucket(feature: Column, n_buckets: int) -> Column:
    """32-bit md5 word of the feature string, mod n_buckets — the
    hashed-vocabulary trick (identical in the DuckDB oracle:
    ('0x' || substring(md5(f), 1, 8))::bigint % B)."""
    return (
        F.conv(F.substring(F.md5(feature), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def _features_from_tokens(ts: Column, n_buckets: int) -> Column:
    """Hashed unigram+bigram bucket ids (with multiplicity — DSIR
    counts occurrences, not presence) from a token-array column.

    `ts` MUST be a projected attribute (a real column), not an inline
    expression: a lambda that references an outer NON-attribute array
    re-evaluates that whole expression per element (higher-order
    functions are interpreted, no common-subexpression reuse), turning
    tokenization O(tokens) into O(tokens²) per doc — measured 9× on
    the bucket-count pass.  Bigrams therefore come from zip_with of
    the array against its own shift (both evaluated ONCE as HOF
    arguments; the lambda touches only its element variables)."""
    n = F.size(ts)
    shifted = F.when(n >= 2, F.slice(ts, 2, n - 1)).otherwise(
        F.array().cast("array<string>")
    )
    bigrams = F.array_compact(
        F.zip_with(
            ts,
            shifted,
            lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)),
        )
    )
    return F.transform(
        F.concat(ts, bigrams), lambda f: _bucket(f, n_buckets)
    )


def doc_bucket_counts(
    docs: DataFrame,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, bucket, c) — exact long occurrence counts of each
    hashed feature bucket per document.  Tokenize once into a
    projected column (CollapseProject keeps a multiply-referenced
    non-cheap alias projected), then one narrow explode + one
    map-side-combined groupBy."""
    toks = docs.select(
        F.col(id_col), _tokens_arr(F.col(text_col)).alias("_ts")
    )
    return (
        toks.select(
            F.col(id_col),
            F.explode(
                _features_from_tokens(F.col("_ts"), n_buckets)
            ).alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("c"))
    )


def bucket_log_ratio(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int,
    smoothing: float = 1.0,
    release: list | None = None,
) -> DataFrame:
    """(bucket, r) for EVERY bucket in [0, n_buckets): r = ln p̂ −
    ln q̂ with Laplace smoothing, p̂ from the target corpus counts, q̂
    from the raw corpus counts.  Inputs are (…, bucket, c) frames
    (doc granularity fine — they are re-summed here).  Everything is
    dimension-sized: two B-row aggregates, two 1-row totals riding
    broadcast cross joins.

    Materialization contract (each B-row per-bucket aggregate feeds
    BOTH its own total and the range join — without help the whole
    upstream corpus scan+explode+agg runs once per branch, the same
    measured non-reuse as ops/dedup.exact_dedup): `release=<list>`
    persists the two B-row frames and appends them for the caller to
    unpersist after its ONE downstream action; `release=None` stays
    fully lazy (driver-owned contract queries)."""
    spark = target_counts.sparkSession
    a = float(smoothing)
    per_t = target_counts.groupBy("bucket").agg(F.sum("c").alias("nt"))
    per_r = raw_counts.groupBy("bucket").agg(F.sum("c").alias("nr"))
    if release is not None:
        per_t, per_r = per_t.persist(), per_r.persist()
        release.extend([per_t, per_r])
    tot_t = per_t.agg(F.sum("nt").alias("tt"))
    tot_r = per_r.agg(F.sum("nr").alias("tr"))

    def _logp(n: Column, total: Column) -> Column:
        return F.log(
            (F.coalesce(n, F.lit(0)) + F.lit(a))
            / (total + F.lit(a * n_buckets))
        )

    # one B-row spine with both count columns — a dist-per-side form
    # would pay an extra B-row join and exchange for nothing
    return (
        spark.range(n_buckets)
        .select(F.col("id").alias("bucket"))
        .join(per_t, "bucket", "left")
        .join(per_r, "bucket", "left")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            "bucket",
            (
                _logp(F.col("nt"), F.col("tt"))
                - _logp(F.col("nr"), F.col("tr"))
            ).alias("r"),
        )
    )


def importance_weights(
    raw_doc_counts: DataFrame,
    log_ratio: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, logw) — per-document log importance weight
    Σ_b c_b · r_b.  The B-row ratio table broadcasts; the doc side
    aggregates map-side.  Docs with no features (empty text) get
    logw 0.0 via the count frame itself (they simply have no rows —
    callers joining back to the corpus should coalesce to 0.0)."""
    return (
        raw_doc_counts.join(F.broadcast(log_ratio), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("r")).alias("logw"))
    )


def gumbel_key(id_col: Column, logw: Column, seed: int = 0,
               temperature: float = 1.0) -> Column:
    """logw/T − ln(−ln u) with the deterministic md5 uniform of
    ops/sampling: u = (md5_32(id ':' seed) + 0.5) / 2^32 (never 0 or
    1, so the double log is finite).  Sorting desc by this key and
    taking k rows IS a without-replacement sample ∝ w^(1/T) (the
    Gumbel-top-k trick)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", id_col.cast("string"), F.lit(str(seed)))),
            1, 8,
        ),
        16, 10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(_U32)
    return logw / F.lit(float(temperature)) - F.log(-F.log(u))


def resample_topk(
    weights: DataFrame,
    k: int,
    seed: int = 0,
    temperature: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k Gumbel resample of (id_col, logw): adds the key, takes
    the k largest — Spark plans TakeOrderedAndProject (per-partition
    heads + k-row driver merge), never a global sort."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    key = gumbel_key(F.col(id_col), F.col("logw"), seed, temperature)
    return (
        weights.withColumn("key", key)
        .orderBy(F.desc("key"), F.asc(id_col))
        .limit(k)
    )


def dsir_select(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    n_buckets: int = 10_000,
    smoothing: float = 1.0,
    seed: int = 0,
    temperature: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    release: list | None = None,
) -> DataFrame:
    """End-to-end DSIR: (id_col, logw, key) of the k raw documents
    selected for target-domain training.  math.isfinite guards the
    knobs once so a NaN temperature can't silently scramble ranks.

    `release=<list>` persists the raw (doc, bucket) counts — they
    feed BOTH the q̂ distribution and the scoring join, so without it
    the raw corpus is scanned+exploded once per branch — plus the two
    B-row per-bucket frames; the caller unpersists after its ONE
    downstream action (the one-scan-per-corpus 100 TB shape).
    `release=None` stays fully lazy."""
    if not (math.isfinite(temperature) and temperature > 0):
        raise ValueError(f"temperature must be finite positive: {temperature}")
    raw_counts = doc_bucket_counts(raw_docs, n_buckets, id_col, text_col)
    if release is not None:
        raw_counts = raw_counts.persist()
        release.append(raw_counts)
    tgt_counts = doc_bucket_counts(target_docs, n_buckets, id_col, text_col)
    ratio = bucket_log_ratio(
        tgt_counts, raw_counts, n_buckets, smoothing, release=release
    )
    w = importance_weights(raw_counts, ratio, id_col)
    return resample_topk(w, k, seed, temperature, id_col)
