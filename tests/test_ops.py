"""Pipeline-ops gates: dedup family, similarity search, text stats,
multimodal plumbing — semantics checked against planted fixtures and
numpy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_spark.ops import dedup, multimodal, packing, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog!"),   # exact dup of 0 (normalized)
        (2, "The quick brown fox jumps over the lazy cat"),    # near dup
        (3, "Completely different text about spark engines"),
        (4, "Der schnelle braune Fuchs und die Katze ist hier"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    got = {r.doc_id: (r.keeper_id, r.is_dup) for r in dedup.exact_dedup(docs).collect()}
    assert got[0] == (0, False)
    assert got[1] == (0, True)   # normalization collapses case+punct
    assert got[2] == (2, False)


def test_ngram_jaccard_exact(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    d = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert (0, 1) in d and d[(0, 1)] > 0.9
    assert (0, 2) in d and 0.5 <= d[(0, 2)] < 1.0
    # oracle for one pair via python sets
    def sh(t):
        t = t.lower()
        return {t[i:i + 3] for i in range(max(len(t) - 2, 1))}
    a, b = sh("The quick brown fox jumps over the lazy dog"), sh(
        "The quick brown fox jumps over the lazy cat")
    want = round(len(a & b) / len(a | b), 6)
    assert abs(d[(0, 2)] - want) < 1e-9


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r.doc_a, r.doc_b) for r in
             dedup.lsh_candidate_pairs(docs, n_hashes=16, bands=8).collect()}
    assert (0, 1) in pairs
    assert (0, 2) in pairs
    assert (0, 3) not in pairs


def test_simhash_hamming(docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash32(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[3])
    assert ham(sh[0], sh[1]) <= 4


def test_simhash_near_dup_pairs(docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in
             dedup.simhash_near_dup_pairs(docs, max_hamming=7).collect()}
    assert (0, 1) in pairs  # near-identical docs within a few bits
    # oracle: banding must find every pair the brute hamming finds
    # (64-bit signatures; hamming on the two's-complement bit pattern)
    sh = {r.doc_id: r.simhash & ((1 << 64) - 1)
          for r in dedup.simhash(docs, n_bits=64).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    brute = {
        (a, b): ham(sh[a], sh[b])
        for a in sh for b in sh
        if a < b and ham(sh[a], sh[b]) <= 7
    }
    got7 = {k: v for k, v in pairs.items() if v <= 7}
    assert got7 == brute  # <=7 bits guarantees a shared byte band (8 bands)


def test_ngram_jaccard_candidate_restriction(spark, docs):
    """The LSH-piped verification must agree with the raw self-join
    on every pair LSH proposes (the scale path never sees the rest)."""
    cands = dedup.lsh_candidate_pairs(docs, n_hashes=16, bands=8)
    full = {(r.doc_a, r.doc_b): r.jaccard for r in
            dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    piped = {(r.doc_a, r.doc_b): r.jaccard for r in
             dedup.ngram_jaccard_pairs(
                 docs, threshold=0.5, candidates=cands).collect()}
    cset = {(r.doc_a, r.doc_b) for r in cands.collect()}
    assert piped == {k: v for k, v in full.items() if k in cset}
    assert (0, 1) in piped  # the planted near-dup survives the pipe


def test_textstats_basic(docs):
    r = docs.filter("doc_id = 0").select(
        textstats.token_count(F.col("text")).alias("tc"),
        textstats.lang_id(F.col("text")).alias("lang"),
        textstats.quality_score(F.col("text")).alias("q"),
        textstats.fingerprint(F.col("text")).alias("fp"),
    ).first()
    assert r.tc == 9
    assert r.lang == "en"
    assert 0.0 <= r.q <= 1.0
    de = docs.filter("doc_id = 4").select(
        textstats.lang_id(F.col("text")).alias("lang")).first()
    assert de.lang == "de"
    empty = docs.filter("doc_id = 5").select(
        textstats.token_count(F.col("text")).alias("tc")).first()
    assert empty.tc == 0


@pytest.fixture(scope="module")
def emb(spark):
    rs = np.random.RandomState(7)
    # clustered embeddings (the realistic shape): 8 centers, 5 points
    # each with small noise -> within-cluster cos ~0.9
    centers = rs.randn(8, 16)
    base = np.repeat(centers, 5, axis=0) + 0.25 * rs.randn(40, 16)
    base = base.astype(np.float32)
    base[1] = base[0] + 0.01 * rs.randn(16).astype(np.float32)  # near-dup of 0
    pdf = pd.DataFrame(
        {"vec_id": range(40), "embedding": [v.tolist() for v in base]}
    )
    return spark.createDataFrame(pdf), base


def test_cosine_topk_matches_numpy(emb):
    df, base = emb
    got = similarity.cosine_topk(df, df.filter("vec_id < 3"), k=5).collect()
    x = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = x @ x.T
    for q in range(3):
        order = [
            i for i in np.lexsort((np.arange(40), -np.round(sims[q], 6)))
            if i != q
        ][:5]
        mine = [r.vec_id for r in sorted(
            (r for r in got if r.query_id == q), key=lambda r: r.rn)]
        assert mine == order, q


def test_cosine_lsh_recall_and_near_dup(emb):
    df, base = emb
    exact = similarity.cosine_topk(df, df, k=3)
    approx = similarity.cosine_topk_lsh(df, df, dim=16, k=3, n_bits=6)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall
    dups = dedup.embedding_near_dup_pairs(df, threshold=0.99).collect()
    assert any((r.id_a, r.id_b) == (0, 1) for r in dups)


def test_cosine_lsh_recall_at_real_dim(spark):
    """dim=768: the matmul bucket code must keep recall AND stay one
    projection (the inlined column-expr form exploded to 768 x n_bits
    codegen terms). Clustered vectors, recall vs exact >= 0.5."""
    rs = np.random.RandomState(11)
    centers = rs.randn(10, 768)
    base = (np.repeat(centers, 8, axis=0) + 0.3 * rs.randn(80, 768)).astype(
        np.float32
    )
    pdf = pd.DataFrame(
        {"vec_id": range(80), "embedding": [v.tolist() for v in base]}
    )
    df = spark.createDataFrame(pdf)
    q = df.filter("vec_id < 8")
    exact = {(r.query_id, r.vec_id) for r in
             similarity.cosine_topk(df, q, k=3).collect()}
    approx_df = similarity.cosine_topk_lsh(df, q, dim=768, k=3, n_bits=8)
    approx = {(r.query_id, r.vec_id) for r in approx_df.collect()}
    assert len(exact & approx) / len(exact) >= 0.5
    # plan sanity: bucket code is a single Arrow-eval projection, not
    # thousands of element_at terms
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "element_at" not in plan


def test_ivf_topk_runs_and_overlaps(emb):
    df, _ = emb
    exact = {(r.query_id, r.vec_id) for r in
             similarity.cosine_topk(df, df.filter("vec_id < 5"), k=3).collect()}
    ivf = {(r.query_id, r.vec_id) for r in
           similarity.ivf_topk(df, df.filter("vec_id < 5"),
                               n_cells=8, nprobe=4, k=3).collect()}
    assert len(exact & ivf) / len(exact) >= 0.5


def test_semantic_dedup_pairs_equal_brute_within_cells(emb):
    """SemDeDup pair semantics: the within-cell pair set equals the
    brute-force cosine-threshold relation RESTRICTED to co-located
    cells (the published semantics — no pair crosses a cell), and the
    planted near-identical pair (0,1) survives. Plan gate: the pair
    join is cell-keyed, never a cartesian/nested-loop product."""
    df, _ = emb
    cent = similarity.kmeans_centroids(df, 8, seed=5)
    rel = []
    pairs_df = dedup.semantic_dedup_pairs(
        df, threshold=0.8, centroids=cent, release=rel
    )
    got = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    cells = {r.vec_id: r.cell for r in
             similarity.assign_cells(df, cent).collect()}
    brute = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(df, threshold=0.8).collect()
        if cells[r.id_a] == cells[r.id_b]
    }
    assert got == brute
    assert (0, 1) in got
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    for h in rel:
        h.unpersist()


def test_semantic_dedup_keeper_rule(emb):
    """Full SemDeDup pipeline: every vector gets a row, duplicate
    groups are transitively closed within a cell, exactly one member
    per group is kept, and the keeper is the member with the LOWEST
    cosine to its cell centroid (ties smallest id) — checked against
    a numpy recomputation of every multi-member group."""
    df, base = emb
    cent = similarity.kmeans_centroids(df, 8, seed=5)
    out = dedup.semantic_dedup(df, threshold=0.8, centroids=cent)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == 40
    assert rows[0].component_id == rows[1].component_id
    assert rows[0].keeper_id == rows[1].keeper_id
    # the planted pair's group keeps exactly one member — 0/1 are
    # near-identical, so AT MOST one of them can be it
    assert rows[0].is_dup or rows[1].is_dup
    comps = {}
    for r in rows.values():
        comps.setdefault(r.component_id, []).append(r)
    cells = {r.vec_id: r.cell for r in
             similarity.assign_cells(df, cent).collect()}
    cmat = {r.cell: np.asarray(r.centroid) for r in cent.collect()}
    x = base.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    for comp, members in comps.items():
        keepers = {m.keeper_id for m in members}
        assert len(keepers) == 1
        assert sum(not m.is_dup for m in members) == 1
        member_cells = {cells[m.vec_id] for m in members}
        assert len(member_cells) == 1  # components never span cells
        c = cmat[member_cells.pop()]
        c = c / np.linalg.norm(c)
        cos_c = {
            m.vec_id: round(float(x[m.vec_id] @ c), 6) for m in members
        }
        want = min(sorted(cos_c), key=lambda i: (cos_c[i], i))
        assert keepers.pop() == want, (comp, cos_c)


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, 60, seed=3)
    assert media.count() == 60
    feats = multimodal.extract_features(media, feat_dim=8)
    rows = feats.collect()
    assert len(rows) == 60
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic across partitionings
    media1 = multimodal.synth_media(spark, 60, seed=3, partitions=1)
    f1 = {r.media_id: tuple(r.feature) for r in
          multimodal.extract_features(media1).collect()}
    f4 = {r.media_id: tuple(r.feature) for r in rows}
    assert f1 == f4
    # frame sampling plan bounded
    frames = multimodal.frame_sample(media, every_ms=10000, max_frames=4)
    per = frames.groupBy("media_id").count().agg(F.max("count")).first()[0]
    assert per <= 4
    # resize plan only for images, scale math sane
    rp = multimodal.resize_plan(media, target=64).collect()
    assert all(abs(r.scale_x - 64 / r.width) < 1e-6 for r in rp)


def test_bmp_wav_codecs_round_trip():
    """The image (24-bit BMP) and audio (PCM-16 WAV) decode paths are
    REAL: encode -> decode round-trips bit-exactly, including BMP row
    padding (non-multiple-of-4 widths) and multi-channel WAV."""
    import numpy as np

    px = (np.arange(7 * 5 * 3, dtype=np.uint8) * 13 % 256).reshape(7, 5, 3)
    back = multimodal.decode_bmp(multimodal.encode_bmp(px))
    assert back.shape == (7, 5, 3)
    assert np.array_equal(back, px.astype(np.float64))

    s = (np.arange(300, dtype=np.int64) * 977 % 65536 - 32768).astype(
        np.int16
    )
    mono = multimodal.decode_wav(multimodal.encode_wav(s, 8000))
    assert np.array_equal(mono, s.astype(np.float64) / 32768.0)
    stereo_in = s.reshape(-1, 2)
    stereo = multimodal.decode_wav(multimodal.encode_wav(stereo_in, 8000))
    assert stereo.shape == stereo_in.shape
    assert np.array_equal(stereo, stereo_in.astype(np.float64) / 32768.0)


def test_avi_codec_round_trip():
    """The video decode path is REAL: raw-DIB RIFF/AVI encode ->
    decode round-trips bit-exactly (incl. row padding on
    non-multiple-of-4 widths), the stream-clock frame lookup clamps,
    and compressed chunks hit the explicit guard instead of garbage."""
    import numpy as np

    fr = (np.arange(3 * 6 * 5 * 3, dtype=np.int64) * 29 % 256).astype(
        np.uint8
    ).reshape(3, 6, 5, 3)
    payload = multimodal.encode_avi(fr, fps=10)
    back = multimodal.decode_avi(payload)
    assert back.shape == (3, 6, 5, 3)
    assert np.array_equal(back, fr.astype(np.float64))

    # stream clock: 10 fps => frame i covers [i*100, (i+1)*100) ms
    for ts, want in [(0, 0), (99, 0), (100, 1), (250, 2), (9999, 2)]:
        idx, frame = multimodal.avi_frame_at(payload, ts)
        assert idx == want
        assert np.array_equal(frame, fr[want].astype(np.float64))

    # a compressed ('00dc') frame chunk raises the guard; so does a
    # non-BI_RGB strf
    movi = payload.index(b"movi")
    compressed = payload[:movi] + payload[movi:].replace(
        b"00db", b"00dc", 1
    )
    with pytest.raises(NotImplementedError, match="00dc"):
        multimodal.decode_avi(compressed)
    with pytest.raises(ValueError):
        multimodal.decode_avi(b"RIFF\x00\x00\x00\x00WAVE")


def test_extract_features_real_decode(spark):
    """extract_features over synth media is gated against an
    INDEPENDENT driver-side decode oracle: BMP payloads parsed with
    raw struct/numpy (not the library decoder), WAV data chunks
    likewise — the distributed Arrow UDF must produce the features of
    the true pixel/sample content, not of the container bytes."""
    import struct

    import numpy as np

    media = multimodal.synth_media(spark, 36, seed=5)
    rows = {r.media_id: r for r in media.collect()}
    feats = {
        r.media_id: np.array(r.feature)
        for r in multimodal.extract_features(media, feat_dim=8).collect()
    }
    checked = {"image": 0, "audio": 0, "video": 0}
    for mid, r in rows.items():
        payload = bytes(r.payload)
        if r.kind == "image":
            off = struct.unpack_from("<I", payload, 10)[0]
            w, h = struct.unpack_from("<ii", payload, 18)
            row_len = (w * 3 + 3) & ~3
            body = np.frombuffer(
                payload, np.uint8, count=h * row_len, offset=off
            ).reshape(h, row_len)
            arr = (
                body[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]
            ).astype(np.float64)
            assert (w, h) == (r.width, r.height)
        elif r.kind == "audio":
            i = payload.index(b"data")
            n = struct.unpack_from("<I", payload, i + 4)[0]
            arr = (
                np.frombuffer(payload, "<i2", count=n // 2, offset=i + 8)
                .astype(np.float64)
                / 32768.0
            )
        else:
            # independent AVI parse: dims from the avih fields, frames
            # from a flat scan for '00db' chunks after 'movi' (not the
            # library's recursive chunk walk)
            a = payload.index(b"avih") + 8
            vals = struct.unpack_from("<14I", payload, a)
            w, h = vals[8], vals[9]
            row_len = (w * 3 + 3) & ~3
            pos, planes = payload.index(b"movi") + 4, []
            while pos + 8 <= len(payload):
                cid, size = struct.unpack_from("<4sI", payload, pos)
                if cid == b"idx1":
                    break
                if cid == b"00db":
                    body = np.frombuffer(
                        payload, np.uint8, count=h * row_len, offset=pos + 8
                    ).reshape(h, row_len)
                    planes.append(
                        body[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]
                    )
                pos += 8 + size + (size & 1)
            arr = np.stack(planes).astype(np.float64)
            assert (w, h) == (r.width, r.height)
        qs = np.quantile(arr, [0.1, 0.25, 0.5, 0.75, 0.9])
        want = np.concatenate([[arr.mean(), arr.std(), float(arr.size)], qs])
        want = np.pad(want, (0, max(0, 8 - len(want))))[:8]
        assert np.allclose(feats[mid], want, atol=1e-9), (mid, r.kind)
        checked[r.kind] += 1
    assert checked["image"] > 0 and checked["audio"] > 0 and checked["video"] > 0


def test_decode_sampled_frames_matches_plan_and_pixels(spark):
    """decode_sampled_frames serves EXACTLY the frame_sample schedule
    (set equality on (media_id, frame_idx, ts_ms)) and its pixel
    summaries match a driver-side decode of the same timestamps via
    avi_frame_at — the sampling plan and the decode half agree on the
    stream clock."""
    import numpy as np

    media = multimodal.synth_media(spark, 48, seed=11)
    got = multimodal.decode_sampled_frames(
        media, every_ms=100, max_frames=4
    ).collect()
    plan = {
        (r.media_id, r.frame_idx, r.ts_ms)
        for r in multimodal.frame_sample(
            media, every_ms=100, max_frames=4
        ).collect()
    }
    assert {(r.media_id, r.frame_idx, int(r.ts_ms)) for r in got} == plan
    assert len(got) == len(plan) > 48 / 3  # multi-frame samples exist

    payloads = {
        r.media_id: bytes(r.payload)
        for r in media.filter("kind = 'video'").collect()
    }
    multi_src = 0
    for r in got:
        idx, frame = multimodal.avi_frame_at(payloads[r.media_id], r.ts_ms)
        assert r.src_frame == idx
        assert (r.height, r.width) == frame.shape[:2]
        assert np.isclose(r.f_mean, frame.mean(), atol=1e-9)
        assert np.isclose(r.f_std, frame.std(), atol=1e-9)
        multi_src += idx > 0
    assert multi_src > 0  # the clock actually advances past frame 0


def test_decoder_registry_fallback_raises(spark):
    """Codecs the container truly lacks stay behind the explicit
    registry fallback: registering _decode_unavailable surfaces a
    clear error instead of fake features."""
    media = multimodal.synth_media(spark, 4, seed=3)
    old = dict(multimodal.DECODERS)
    try:
        for k in ("image", "audio", "video"):
            multimodal.DECODERS[k] = multimodal._decode_unavailable
        with pytest.raises(Exception, match="NotImplementedError|codecs"):
            multimodal.extract_features(media).collect()
    finally:
        multimodal.DECODERS.update(old)


def test_fan_out_spreads_small_scans_only(spark, tmp_path):
    """ops.fan_out: a small single-file parquet scan gains partitions
    (it would otherwise pin the downstream UDF to one task); a scan
    already estimated at >= parallelism splits and an in-memory frame
    both pass through UNTOUCHED — the scale path never gains a
    shuffle."""
    from crawler_spark import ops

    p = str(tmp_path / "small.parquet")
    spark.range(0, 1000).toDF("doc_id").coalesce(1).write.parquet(p)
    small = spark.read.parquet(p)
    fanned = ops.fan_out(small, min_partitions=8)
    assert fanned is not small
    assert fanned.rdd.getNumPartitions() == 8
    assert fanned.count() == 1000
    # already-parallel scan: 10 files >= target 4 -> untouched
    p2 = str(tmp_path / "wide.parquet")
    spark.range(0, 1000).toDF("doc_id").repartition(10).write.parquet(p2)
    wide = spark.read.parquet(p2)
    assert ops.fan_out(wide, min_partitions=4) is wide
    # in-memory frame: no input files -> untouched
    mem = spark.createDataFrame([(1,)], "doc_id long")
    assert ops.fan_out(mem, min_partitions=8) is mem


def test_connected_components_fixtures(spark):
    # chain + isolated pair + 3-cycle; min id labels every component
    pairs = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.node, r.component_id)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_random_vs_union_find(spark):
    # random sparse graph, pure-python union-find as the oracle
    rng = np.random.default_rng(7)
    n = 400
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(300, 2))
        if a != b
    ]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    touched = {a for e in edges for a in e}
    want = {(x, min(y for y in touched if find(y) == find(x)))
            for x in touched}
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r.node, r.component_id)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == want


def test_dedup_clusters_transitive_and_keeper(spark):
    # shingle-Jaccard at threshold 0.9: J(1,2)=0.95, J(2,3)=0.934,
    # but J(1,3)=0.891 < 0.9 — docs 1 and 3 are NOT a surviving pair,
    # so only the transitive closure puts all three in one component;
    # keeper = longest text, ties to the smallest id (1 and 3 tie)
    y = "the quick brown fox jumps over the lazy dog again and again today "
    docs = spark.createDataFrame(
        [
            (1, "zzzz " + y),
            (2, y),
            (3, y + "qqqq "),
            (50, "completely different text about spark engines"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.component_id, r.keeper_id, r.is_dup)
        for r in dedup.dedup_clusters(docs, threshold=0.9).collect()
    }
    assert set(out) == {1, 2, 3, 50}
    assert out[1] == (1, 1, False)
    assert out[2] == (1, 1, True)
    assert out[3] == (1, 1, True)
    assert out[50] == (50, 50, False)  # singleton keeps itself


def test_top_tokens_counts_and_plan(spark):
    docs = spark.createDataFrame(
        [
            (1, "Spark spark SPARK engine"),
            (2, "spark engine, engine!"),
            (3, "walks"),
        ],
        "doc_id long, text string",
    )
    out = textstats.top_tokens(docs, k=2)
    rows = [(r.token, r.freq, r.n_docs) for r in out.collect()]
    assert rows == [("spark", 4, 2), ("engine", 3, 2)]
    # global top-k must be TakeOrdered, never a full sort
    assert "TakeOrderedAndProject" in out._jdf.queryExecution().executedPlan().toString()


def test_ivf_centroid_reuse_identical_and_persistable(emb, tmp_path):
    """ivf_topk(centroids=): a trained centroid table round-tripped
    through a catalog commit serves queries with results identical to
    in-line training (same seed) — the train-once/serve-many path."""
    from crawler_spark import catalog

    df, _ = emb
    spark = df.sparkSession
    q = df.filter("vec_id < 5")
    inline = similarity.ivf_topk(df, q, n_cells=8, nprobe=4, k=3, seed=42)
    cent = similarity.kmeans_centroids(df, 8, n_iters=2, seed=42)
    cat = catalog.Catalog(str(tmp_path / "tables"))
    cat.write("ivf_centroids", cent, epoch=1)
    reloaded = cat.read(spark, "ivf_centroids")
    reused = similarity.ivf_topk(
        df, q, n_cells=8, nprobe=4, k=3, centroids=reloaded
    )
    a = sorted((r.query_id, r.vec_id, r.rn) for r in inline.collect())
    b = sorted((r.query_id, r.vec_id, r.rn) for r in reused.collect())
    assert a == b


def test_corpus_filter_reasons(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog here"),  # keep
            (2, "too short"),                                          # short
            (3, ",,,, !!!! ;;;; :::: ???? .... (((( )))) ---- ...."),  # low quality
            (4, "der schnelle braune fuchs und die katze sind nicht hier oder da"),  # lang
            # planted boilerplate: the same line six times -> Gopher
            # dup_line_frac 5/6 >> 0.3 (Rae et al. 2021 A1.1)
            (5, "\n".join(["click here for the best deals today"] * 6)),
            # one token dominating: top_token_frac 6/11 >> 0.2
            (6, "buy buy buy buy buy buy the and is of now"),
            # English by marker ('is') but fails Gopher's stop-word
            # existence check: 0 of the 8 stop words, min is 2
            (7, "here is one example where is appears twice but "
                "nothing else matters today"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.keep, r.reason)
        for r in textstats.corpus_filter(docs, langs=("en",)).collect()
    }
    assert got[1] == (True, None)
    assert got[2] == (False, "short")
    assert got[3] == (False, "low_quality")
    assert got[4] == (False, "lang")
    assert got[5] == (False, "repetition")
    assert got[6] == (False, "repetition")
    assert got[7] == (False, "no_stopwords")


def test_connected_components_truncation_raises(spark):
    """Exiting via max_iters without the digest fixpoint must raise —
    a truncated run would silently return under-merged components.
    stats reports rounds + convergence for callers that monitor."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="under-merge|max_iters"):
        dedup.connected_components(chain, max_iters=1)
    stats: dict = {}
    cc = dedup.connected_components(chain, stats=stats)
    assert stats["converged"] and stats["rounds"] >= 2
    assert {int(r.component_id) for r in cc.collect()} == {0}


def test_incremental_dedup_matches_full_run(spark, docs):
    """Batch-vs-corpus dedup equals the corresponding slice of a
    whole-corpus run: exact keepers point at the corpus keeper when
    the fingerprint is already stored, and incremental LSH candidates
    are EXACTLY the (batch x corpus) cross-side pairs of the
    full-corpus banding (same signatures, no re-shingling of the
    corpus)."""
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")

    inc = {
        r.doc_id: (r.keeper_id, r.is_dup)
        for r in dedup.incremental_exact_dedup(
            batch, dedup.corpus_fingerprints(corpus)
        ).collect()
    }
    # doc 1 is an exact dup of corpus doc 0; 3 and 5 are unique in
    # their batch -> their own keepers
    assert inc[1] == (0, True)
    assert inc[3] == (3, False)
    assert inc[5] == (5, False)

    full = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(docs, n_hashes=16, bands=8).collect()
    }
    want_cross = {
        (a, b) if a % 2 == 1 else (b, a)
        for a, b in full
        if (a % 2) != (b % 2)
    }
    got = {
        (r.new_id, r.corpus_id)
        for r in dedup.incremental_lsh_pairs(
            batch,
            dedup.minhash_signatures(corpus, n_hashes=16),
            n_hashes=16,
            bands=8,
        ).collect()
    }
    assert got == want_cross and len(got) > 0


def test_repetition_stats_planted(spark):
    """Gopher repetition filters against hand-computed values: a
    boilerplate doc (same line 3x + 1 unique), a clean doc, and an
    empty doc."""
    rows = [
        (0, "spam line\nspam line\nspam line\nunique"),
        (1, "alpha beta\ngamma delta"),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.repetition_stats(df).collect()}
    r0 = got[0]
    assert r0.n_lines == 4
    assert abs(r0.dup_line_frac - (1 - 2 / 4)) < 1e-9
    # repeated occurrences: 2 extra copies of 'spam line' (9 chars)
    # over total line chars 3*9 + 6
    assert abs(r0.dup_line_char_frac - round(18 / 33, 6)) < 1e-9
    # tokens: spam x3, line x3, unique x1 -> top 3/7
    assert abs(r0.top_token_frac - round(3 / 7, 6)) < 1e-9
    r1 = got[1]
    assert (r1.n_lines, r1.dup_line_frac, r1.top_token_frac) == (2, 0.0, 0.25)
    r2 = got[2]
    assert (r2.n_lines, r2.dup_line_frac, r2.dup_line_char_frac,
            r2.top_token_frac) == (0, 0.0, 0.0, 0.0)


def test_pii_scrub_planted(spark):
    """PII scrubbing against hand-built fixtures: each pattern
    detected and redacted, sequential semantics (a phone-shaped
    string inside an email local part is ONE email, not an email
    plus a phone; an @IPv4 address is an IP hit, never an email —
    the email host needs an alphabetic TLD), multiple hits per doc,
    a no-PII doc untouched, and a shuffle-free plan."""
    rows = [
        (0, "reach me at jane.doe+spam@mail-host.example.org thanks"),
        (1, "call 555-123-4567 or 555.987.6543 now"),
        (2, "server at 10.0.42.7 and backup 192.168.1.254"),
        (3, "admin@10.1.2.3 logged in"),  # no alpha TLD: 1 ip, 0 emails
        (4, "no secrets here, just prose about 12 cats"),
        (5, "e a@b.io p 555-000-1111 ip 8.8.8.8"),
        (6, "mail x555-123-4567@corp.example today"),  # one EMAIL only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.pii_scrub(df)
    got = {r.doc_id: r for r in out.collect()}
    assert (got[0].n_emails, got[0].n_phones, got[0].n_ipv4) == (1, 0, 0)
    assert "<EMAIL>" in got[0].clean_text and "@" not in got[0].clean_text
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ipv4) == (0, 2, 0)
    assert got[1].clean_text == "call <PHONE> or <PHONE> now"
    assert (got[2].n_emails, got[2].n_phones, got[2].n_ipv4) == (0, 0, 2)
    assert got[2].clean_text == "server at <IP> and backup <IP>"
    assert (got[3].n_emails, got[3].n_phones, got[3].n_ipv4) == (0, 0, 1)
    assert got[3].clean_text == "admin@<IP> logged in"
    assert (got[4].n_emails, got[4].n_phones, got[4].n_ipv4) == (0, 0, 0)
    assert got[4].clean_text == rows[4][1]
    assert (got[5].n_emails, got[5].n_phones, got[5].n_ipv4) == (1, 1, 1)
    assert got[5].clean_text == "e <EMAIL> p <PHONE> ip <IP>"
    assert (got[6].n_emails, got[6].n_phones, got[6].n_ipv4) == (1, 0, 0)
    assert got[6].clean_text == "mail <EMAIL> today"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map over the scan


def test_line_dedup_planted(spark):
    """Cross-document boilerplate-line removal: a line shared by two
    docs drops from BOTH (whitespace-trimmed match), a line repeated
    only WITHIN one doc stays (that's repetition, not boilerplate),
    blank lines are structure and survive, an all-boilerplate doc
    stays present with empty clean_text, and line order is
    preserved."""
    rows = [
        (0, "intro zero\nCOOKIE BANNER\nbody zero"),
        (1, "intro one\n  COOKIE BANNER  \nbody one"),
        (2, "solo line\nsolo line\nsolo line"),
        (3, "alpha\n\nbeta"),
        (4, "COOKIE BANNER"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.line_dedup(df, min_docs=2).collect()}
    assert len(got) == 5
    assert got[0].clean_text == "intro zero\nbody zero"
    assert got[0].n_lines_removed == 1
    # trimmed match: the padded variant drops too, as its padded self
    assert got[1].clean_text == "intro one\nbody one"
    assert got[1].n_lines_removed == 1
    # within-doc repetition is NOT boilerplate (distinct-doc count)
    assert got[2].clean_text == rows[2][1]
    assert got[2].n_lines_removed == 0
    # blank line kept as structure
    assert got[3].clean_text == "alpha\n\nbeta"
    assert got[3].n_lines_removed == 0
    # all lines dropped: doc still present, empty text
    assert got[4].clean_text == ""
    assert got[4].n_lines_removed == 1


def test_incremental_line_dedup_matches_full_run(spark):
    """The per-crawl-batch shape: batch deduped against ONLY the
    stored (fp, n_docs) corpus table must equal the batch-id slice of
    a full line_dedup over corpus ∪ batch — cross-side boilerplate
    (one corpus doc + one batch doc) drops, batch-internal
    boilerplate drops, corpus-only boilerplate is invisible to the
    batch, unique lines survive."""
    corpus_rows = [
        (0, "corpus intro\nSHARED FOOTER\ncorpus body"),
        (1, "another doc\nCORPUS ONLY LINE\nmore text"),
        (2, "third doc\nCORPUS ONLY LINE\nends here"),
    ]
    batch_rows = [
        (10, "fresh page\nSHARED FOOTER\nnew content"),
        (11, "batch a\nBATCH BANNER\ntail a"),
        (12, "batch b\nBATCH BANNER\ntail b"),
        (13, "all unique\nlines here\nsurvive"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    state = dedup.line_corpus_counts(corpus)
    got = {
        r.doc_id: (r.clean_text, r.n_lines_removed)
        for r in dedup.incremental_line_dedup(batch, state).collect()
    }
    full = {
        r.doc_id: (r.clean_text, r.n_lines_removed)
        for r in dedup.line_dedup(corpus.unionByName(batch)).collect()
        if r.doc_id >= 10
    }
    assert got == full
    assert got[10] == ("fresh page\nnew content", 1)  # cross-side
    assert got[11] == ("batch a\ntail a", 1)          # batch-internal
    assert got[13] == (batch_rows[3][1], 0)           # untouched
    # state update: counts add across disjoint epochs
    merged = (
        state.unionByName(dedup.line_corpus_counts(batch))
        .groupBy("fp")
        .agg(F.sum("n_docs").alias("n_docs"))
    )
    want = {
        r.fp: r.n_docs
        for r in dedup.line_corpus_counts(
            corpus.unionByName(batch)
        ).collect()
    }
    assert {r.fp: r.n_docs for r in merged.collect()} == want


def test_pack_sequences_hand_computed(spark):
    """Concat-and-chunk packing against a hand-computed manifest:
    token counts 4,10,13,0,3 at budget 10 — docs span cuts, the
    empty doc vanishes, the tail sequence is short."""
    rows = [
        (0, "a b c d"),
        (1, " ".join(["t"] * 10)),
        (2, " ".join(["u"] * 13)),
        (3, "   "),
        (4, "x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.seq_id, r.doc_id): (r.doc_from, r.doc_to, r.seq_pos)
        for r in packing.pack_sequences(df, budget=10, n_buckets=4).collect()
    }
    want = {
        (0, 0): (0, 4, 0),    # stream [0,4)
        (0, 1): (0, 6, 4),    # doc1 [4,14) -> 6 tokens into seq 0
        (1, 1): (6, 10, 0),   # remaining 4 open seq 1
        (1, 2): (0, 6, 4),    # doc2 [14,27)
        (2, 2): (6, 13, 0),   # ...continues into seq 2
        (2, 4): (0, 3, 7),    # doc4 [27,30) tail
    }
    assert got == want  # doc 3 (blank) emits nothing


def test_pack_sequences_invariants_and_bucket_invariance(spark):
    """The two-phase prefix sum is bucket-count-invariant (the whole
    point: the parallel scan equals the sequential one), every
    sequence except the last holds exactly `budget` tokens, and the
    slices of each doc tile [0, n) without gap or overlap."""
    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(["w"] * rng.randint(1, 40))) for i in range(0, 60, 2)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        (r.seq_id, r.doc_id): (r.doc_from, r.doc_to, r.seq_pos)
        for r in packing.pack_sequences(df, budget=16, n_buckets=1).collect()
    }
    b = {
        (r.seq_id, r.doc_id): (r.doc_from, r.doc_to, r.seq_pos)
        for r in packing.pack_sequences(df, budget=16, n_buckets=7).collect()
    }
    assert a == b and a
    per_seq = {}
    per_doc = {}
    for (s, d), (f, t, p) in a.items():
        per_seq[s] = per_seq.get(s, 0) + (t - f)
        per_doc.setdefault(d, []).append((f, t))
    last = max(per_seq)
    for s, tok in per_seq.items():
        assert tok == 16 or s == last
    for d, (_, text) in zip((r[0] for r in rows), rows):
        n = len(text.split())
        ivs = sorted(per_doc[d])
        assert ivs[0][0] == 0 and ivs[-1][1] == n
        for (f1, t1), (f2, t2) in zip(ivs, ivs[1:]):
            assert t1 == f2


def test_line_dedup_release_shares_one_explode_pass(spark):
    """release=<list> persists the exploded lines frame so the
    boilerplate agg and the reassembly join share one explode pass:
    cache read in the plan, results identical to the lazy form."""
    rows = [
        (0, "intro zero\nCOOKIE BANNER\nbody zero"),
        (1, "intro one\nCOOKIE BANNER\nbody one"),
        (2, "clean doc\nnothing shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lazy = {
        r.doc_id: (r.clean_text, r.n_lines_removed)
        for r in dedup.line_dedup(df, min_docs=2).collect()
    }
    rel = []
    out = dedup.line_dedup(df, min_docs=2, release=rel)
    got = {
        r.doc_id: (r.clean_text, r.n_lines_removed) for r in out.collect()
    }
    assert got == lazy and len(rel) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    for h in rel:
        h.unpersist()


def test_pack_sequences_release_shares_one_text_pass(spark):
    """release=<list> persists the (id, n) counts frame so the bounds
    agg, bucket totals, and manifest share ONE pass over the text:
    the manifest plan must read the cache (InMemoryTableScan), and
    the results must equal the lazy form's."""
    rows = [(i, " ".join(["w"] * (1 + i % 9))) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lazy = {
        (r.seq_id, r.doc_id): (r.doc_from, r.doc_to, r.seq_pos)
        for r in packing.pack_sequences(df, budget=12, n_buckets=4).collect()
    }
    rel = []
    out = packing.pack_sequences(df, budget=12, n_buckets=4, release=rel)
    got = {
        (r.seq_id, r.doc_id): (r.doc_from, r.doc_to, r.seq_pos)
        for r in out.collect()
    }
    assert got == lazy and got
    assert len(rel) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    for h in rel:
        h.unpersist()


def test_pack_sequences_full_range_ids(spark):
    """Hash-minted doc ids are arbitrary int64 (negatives and the
    extremes included) — the range bucketing must neither overflow
    (the original id * n_buckets form threw ARITHMETIC_OVERFLOW under
    ANSI mode) nor reorder: the manifest must equal the single-bucket
    (sequential) scan and tile every doc."""
    ids = [-(2**62), -13, 0, 7, 2**61, 2**62 + 5]
    rows = [(i, " ".join(["w"] * (3 + k))) for k, i in enumerate(ids)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        (r.seq_id, r.doc_id): (r.doc_from, r.doc_to, r.seq_pos)
        for r in packing.pack_sequences(df, budget=5, n_buckets=1).collect()
    }
    b = {
        (r.seq_id, r.doc_id): (r.doc_from, r.doc_to, r.seq_pos)
        for r in packing.pack_sequences(df, budget=5, n_buckets=4).collect()
    }
    assert a == b and a
    per_doc = {}
    for (s, d), (f, t, p) in b.items():
        per_doc.setdefault(d, []).append((f, t))
    assert set(per_doc) == set(ids)
    for (i, text) in rows:
        ivs = sorted(per_doc[i])
        assert ivs[0][0] == 0 and ivs[-1][1] == len(text.split())


def test_winnow_fingerprint_guarantee(spark):
    """Schleimer et al.'s winnowing guarantee: two documents sharing
    a substring of >= w + k - 1 normalized chars share at least one
    fingerprint; docs shorter than k produce none; disjoint-alphabet
    docs share none."""
    shared = "the common plagiarized passage appears verbatim here"
    rows = [
        (0, "intro alpha. " + shared + " outro beta."),
        (1, "different opening text! " + shared + " and a new ending."),
        (2, "zzzz qqqq xxxx jjjj vvvv wwww kkkk yyyy zzzz qqqq xxxx"),
        (3, "tiny"),  # normalized length 4 < k -> no fingerprints
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnow_fingerprints(docs, k=16, w=16)
    by = {}
    for r in fps.collect():
        by.setdefault(r["doc_id"], set()).add(r["fp"])
    # normalized shared run is len >= 31 = w + k - 1 -> guarantee
    assert by[0] & by[1], "winnowing guarantee violated"
    assert 3 not in by, "doc shorter than k must emit no fingerprints"
    assert not (by[0] & by[2]) and not (by[1] & by[2])
    # density: winnowing SELECTS ~2/(w+1) of the n-k+1 gram hashes;
    # a regression that emits (nearly) every gram hash must fail
    # here, so bound at 3x the expected density, not at the gram
    # count itself
    import math, re

    k, w = 16, 16
    for d, s in by.items():
        n_grams = len(re.sub(r"[^a-z0-9]", "", rows[d][1].lower())) - k + 1
        assert 0 < len(s) <= max(1, math.ceil(n_grams * 3 * 2 / (w + 1))), (
            d, len(s), n_grams
        )


def test_winnow_candidate_pairs_and_stop_fps(spark):
    """Pair generation finds the planted passage-overlap pair, and
    the max_df stop-fingerprint cut drops boilerplate-driven pairs."""
    boiler = "subscribe to our newsletter for updates every week now"
    passage = "the disputed paragraph that was copied across documents"
    # identical boilerplate-only docs: every selected fingerprint has
    # df=6 > max_df -> ALL are stop-cut (fps selected near differing
    # gram boundaries would legitimately survive, which is why the
    # fixture avoids per-doc filler around the boilerplate)
    rows = [(i, boiler) for i in range(6)]
    rows += [
        (10, "start a. " + passage + " tail one."),
        (11, "start b! " + passage + " tail two."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.winnow_candidate_pairs(
            docs, k=16, w=4, min_shared=1, max_df=3
        ).collect()
    }
    assert (10, 11) in pairs, "planted passage overlap not found"
    # the boilerplate fps occur in 6 > max_df=3 docs -> stop-cut:
    # no pair among docs 0..5 survives
    assert not [p for p in pairs if p[0] < 6 and p[1] < 6]


def test_incremental_lsh_no_self_pairs(spark):
    """A re-crawled doc (same doc_id already in the corpus signature
    table) matches its own stored signature in every band — it must
    not come back as a near-dup candidate of itself."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(docs, n_hashes=8)
    out = dedup.incremental_lsh_pairs(docs, sigs, n_hashes=8, bands=2)
    assert out.filter(F.col("new_id") == F.col("corpus_id")).count() == 0


def test_connected_components_keeps_self_pair_nodes(spark):
    """'(node, component_id) for every node appearing in pairs': a
    node present ONLY via a self-pair is its own singleton component,
    not silently absent."""
    pairs = spark.createDataFrame(
        [(1, 2), (7, 7)], "doc_a long, doc_b long"
    )
    got = {
        (r.node, r.component_id)
        for r in dedup.connected_components(pairs, "doc_a", "doc_b").collect()
    }
    assert got == {(1, 1), (2, 1), (7, 7)}


def test_dedup_clusters_release_mode_matches(spark):
    """The persist-and-release form (one banding pass + one shingle
    pass) must produce the identical clustering, and the caller-side
    unpersist must leave no cached blocks behind."""
    docs = spark.createDataFrame(
        [(i, f"doc {i % 4} body text shared {i % 4}") for i in range(20)],
        "doc_id long, text string",
    )
    plain = sorted(
        map(tuple, dedup.dedup_clusters(docs, threshold=0.5).collect())
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    rel = []
    out = sorted(
        map(
            tuple,
            dedup.dedup_clusters(docs, threshold=0.5, release=rel).collect(),
        )
    )
    assert rel and out == plain
    for df in rel:
        df.unpersist(blocking=True)
    # deterministic now: the release run nets ZERO blocks (CC frees
    # its intermediate rounds explicitly and hands the final
    # checkpoint back through `rel`); concurrent ContextCleaner
    # activity can only SHRINK the count
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before


def test_connected_components_bounds_checkpoint_storage(spark):
    """A multi-round CC run must not hold every round's edge set in
    the BlockManager: intermediate checkpoints are freed as soon as
    the next round materializes (DataFrame.unpersist is a no-op for
    checkpoints, and GC-based cleanup is unbounded in-flight). Net
    leftover: at most the final star forest (exactly zero when the
    caller releases it)."""
    sc = spark.sparkContext
    # a path graph forces several large/small-star rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    before = sc._jsc.getPersistentRDDs().size()
    stats: dict = {}
    out = dedup.connected_components(chain, stats=stats).collect()
    assert stats["rounds"] >= 3  # multi-round — the leak would be >= rounds
    assert len(out) == 65 and {r.component_id for r in out} == {0}
    assert sc._jsc.getPersistentRDDs().size() <= before + 1
    # release mode: the final checkpoint comes back as a handle; after
    # unpersist the run nets zero blocks
    rel: list = []
    out2 = dedup.connected_components(chain, release=rel).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))
    for h in rel:
        h.unpersist(blocking=True)
    assert sc._jsc.getPersistentRDDs().size() <= before + 1


def test_stopword_ratio(spark):
    """Stopword mass: running prose scores high, keyword soup scores
    0, token-less text scores 0.0 (not NULL/NaN)."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "zzz qqq xxx"),
            (3, "   "),
            (4, "the and of"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", textstats.stopword_ratio(F.col("text")).alias("s")
        ).collect()
    }
    assert got[1] == 0.5  # the, on, the out of 6 tokens
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] == 1.0


def test_corpus_filter_null_text_is_short(spark):
    """NULL text (the schema allows it) must classify as 'short'
    deterministically — under ANSI null-propagation every other gate
    is skipped and empty docs were misattributed to 'lang'."""
    docs = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox and the lazy dog is here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.reason for r in textstats.corpus_filter(docs).collect()}
    assert got[1] == "short" and got[2] is None


def test_resize_plan_zero_dims_yield_null_scale(spark):
    """A malformed width/height of 0 must yield a NULL scale for that
    row, not a DIVIDE_BY_ZERO that kills the whole job under ANSI."""
    media = spark.createDataFrame(
        [(1, "image", 0, 32), (2, "image", 64, 64)],
        "media_id long, kind string, width int, height int",
    )
    got = {r.media_id: (r.scale_x, r.scale_y)
           for r in multimodal.resize_plan(media).collect()}
    assert got[1][0] is None and got[1][1] == 2.0
    assert got[2] == (1.0, 1.0)


# ---------------- decontamination ----------------


def test_decontamination_planted(spark):
    """Eval-set decontamination against hand-computed gram overlap
    (n=3): exact-count hits, distinct-gram semantics (a repeated
    contaminated window counts once), tokenizer case/punct folding,
    and short docs (< n tokens) always clean."""
    from crawler_spark.ops import decontam

    ev = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (10, "x alpha beta gamma y"),        # shares 1 gram
            (11, "alpha beta gamma delta"),      # shares both grams
            (12, "nothing shared here at all"),  # clean
            (13, "ab"),                          # < n tokens: clean
            (14, "alpha beta gamma alpha beta gamma"),  # dup window: 1
            (15, "ALPHA, beta; GAMMA!"),         # folding: 1
        ],
        "doc_id long, text string",
    )
    grams = decontam.eval_ngrams(ev, n=3)
    got = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in decontam.contamination(train, grams, n=3).collect()
    }
    assert got == {
        10: (1, True),
        11: (2, True),
        12: (0, False),
        13: (0, False),
        14: (1, True),
        15: (1, True),
    }
    kept = decontam.decontaminate(train, grams, n=3)
    assert kept.columns == train.columns
    assert sorted(r.doc_id for r in kept.collect()) == [12, 13]


def test_decontamination_broadcasts_eval_side(spark):
    """The 100 TB shape: the eval-gram consult table rides a
    broadcast hash join — the training side is never shuffled for
    the probe."""
    from crawler_spark.ops import decontam

    ev = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    tr = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        decontam.contamination(tr, decontam.eval_ngrams(ev, n=3), n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


# ---------------- domain mixture sampling ----------------


def test_mixture_rates_hand_computed(spark):
    """rate_d = min(1, weight-share * budget / tokens_d), against a
    two-domain hand case under both budget forms; exactly one budget
    arg is enforced."""
    from crawler_spark.ops import sampling

    docs = spark.createDataFrame(
        [(0, "a", "one two  three"), (1, "a", ""), (2, "b", " ".join(["t"] * 6))],
        "doc_id long, source string, text string",
    )
    stats = sampling.domain_stats(docs)
    got = {r.domain: (r.n_docs, r.n_tokens) for r in stats.collect()}
    assert got == {"a": (2, 3), "b": (1, 6)}

    weights = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0)], "domain string, weight double"
    )
    rates = {
        r.domain: r.rate
        for r in sampling.mixture_rates(stats, weights, token_budget=6).collect()
    }
    # a: min(1, .5*6/3) = 1.0 (clamped); b: .5*6/6 = 0.5
    assert rates["a"] == 1.0 and abs(rates["b"] - 0.5) < 1e-12
    frac = {
        r.domain: r.rate
        for r in sampling.mixture_rates(
            stats, weights, budget_frac=6 / 9
        ).collect()
    }
    assert frac["a"] == 1.0 and abs(frac["b"] - 0.5) < 1e-12
    with pytest.raises(ValueError):
        sampling.mixture_rates(stats, weights)
    with pytest.raises(ValueError):
        sampling.mixture_rates(stats, weights, token_budget=6, budget_frac=0.5)


def test_sample_mixture_deterministic_and_bounded(spark):
    """The md5 draw is reproducible (same seed -> byte-identical kept
    set, the resume guarantee), rate-1 domains keep everything,
    domains absent from the rates table are dropped, and the realized
    keep fraction tracks the rate."""
    from crawler_spark.ops import sampling

    docs = spark.createDataFrame(
        [(i, "big" if i < 400 else ("all" if i < 420 else "gone"), "w x y")
         for i in range(440)],
        "doc_id long, source string, text string",
    )
    rates = spark.createDataFrame(
        [("big", 1.0 / 3.0), ("all", 1.0)], "domain string, rate double"
    )
    kept1 = sorted(r.doc_id for r in sampling.sample_mixture(docs, rates, seed=7).collect())
    kept2 = sorted(r.doc_id for r in sampling.sample_mixture(docs, rates, seed=7).collect())
    assert kept1 == kept2
    assert [d for d in kept1 if d >= 420] == []          # absent domain dropped
    assert [d for d in kept1 if 400 <= d < 420] == list(range(400, 420))
    n_big = sum(1 for d in kept1 if d < 400)
    assert 80 <= n_big <= 185                            # ~133 expected at 1/3
    kept3 = sorted(r.doc_id for r in sampling.sample_mixture(docs, rates, seed=8).collect())
    assert kept1 != kept3


# ---------------- DSIR importance resampling ----------------


def _dsir_py_logw(raw, target, B, a=1.0):
    """Pure-python DSIR oracle: hashed unigram+bigram buckets with
    multiplicity, Laplace log-ratio, per-doc weight sum."""
    import hashlib
    import re
    from collections import Counter
    from math import log

    def buckets(text):
        ts = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        feats = ts + [f"{x} {y}" for x, y in zip(ts, ts[1:])]
        return Counter(
            int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % B
            for f in feats
        )

    def dist(docs):
        tot = Counter()
        for _, t in docs:
            tot += buckets(t)
        N = sum(tot.values())
        return {b: log((tot.get(b, 0) + a) / (N + a * B)) for b in range(B)}

    lp, lq = dist(target), dist(raw)
    return {
        d: sum(c * (lp[b] - lq[b]) for b, c in buckets(t).items())
        for d, t in raw
    }


def test_dsir_weights_match_python_oracle(spark):
    """importance_weights against an independent pure-python
    recomputation (same md5 bucketing), and the semantic sanity:
    target-like raw docs outweigh off-target ones."""
    from crawler_spark.ops import dsir

    target = [(100, "apple banana apple cherry"), (101, "banana apple")]
    raw = [
        (0, "apple banana apple"),          # target-like
        (1, "zebra quux nebula xylophone"),  # off-target
        (2, "banana cherry apple banana"),   # target-like
        (3, ""),                             # featureless: no weight row
    ]
    B = 64
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    rc = dsir.doc_bucket_counts(rdf, B)
    ratio = dsir.bucket_log_ratio(dsir.doc_bucket_counts(tdf, B), rc, B)
    got = {r.doc_id: r.logw for r in dsir.importance_weights(rc, ratio).collect()}
    want = _dsir_py_logw(raw, target, B)
    assert set(got) == {0, 1, 2}  # empty doc 3 has no bucket rows
    for d in got:
        assert abs(got[d] - want[d]) < 1e-9, (d, got[d], want[d])
    assert got[0] > got[1] and got[2] > got[1]


def test_dsir_resample_deterministic_topk(spark):
    """Gumbel top-k: byte-identical across re-runs (resume
    guarantee), k >= n returns everything, k <= 0 raises, and the
    physical plan is TakeOrdered — never a global sort."""
    from crawler_spark.ops import dsir

    w = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)], "doc_id long, logw double"
    )
    sel = dsir.resample_topk(w, k=10, seed=3)
    a = sorted(r.doc_id for r in sel.collect())
    b = sorted(r.doc_id for r in dsir.resample_topk(w, k=10, seed=3).collect())
    assert a == b and len(a) == 10
    assert "TakeOrdered" in sel._jdf.queryExecution().executedPlan().toString()
    assert len(dsir.resample_topk(w, k=99, seed=3).collect()) == 50
    c = sorted(r.doc_id for r in dsir.resample_topk(w, k=10, seed=4).collect())
    assert a != c
    with pytest.raises(ValueError):
        dsir.resample_topk(w, k=0)


def test_dsir_end_to_end_broadcasts_ratio(spark):
    """dsir_select: the B-row log-ratio table rides a broadcast hash
    join against the corpus side; bad temperature rejected."""
    from crawler_spark.ops import dsir

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common text w{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    sel = dsir.dsir_select(docs, docs.filter(F.col("doc_id") % 4 == 0),
                           k=5, n_buckets=32)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert sel.count() == 5
    with pytest.raises(ValueError):
        dsir.dsir_select(docs, docs, k=5, n_buckets=32, temperature=0.0)


# ---------------- Gopher n-gram repetition ----------------


def test_ngram_repetition_hand_computed(spark):
    """top/dup n-gram char fractions against hand-worked values:
    counting, the lexicographic tie-break, the 1.0 cap on
    overlapping duplicates, excess-occurrence accounting, and the
    short/empty-doc zeros."""
    rows = [
        (0, "a b a b c"),      # top2 'a b' x2: 2*3/9; dup2 excess 3/9
        (1, "x x x x"),        # top2 'x x' x3: 9/7 -> capped 1.0
        (2, "b c a b c a"),    # tie 'b c'/'c a' both x2 -> 'b c' wins
        (3, "hello"),          # 1 token: no 2-grams, frac 0
        (4, ""),               # no tokens: total 0, frac 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in textstats.ngram_repetition_stats(
            df, top_ns=(2,), dup_ns=(2,)
        ).collect()
    }
    assert got[0].top_2gram_frac == round(6 / 9, 6)
    assert got[0].dup_2gram_frac == round(3 / 9, 6)
    assert got[1].top_2gram_frac == 1.0            # 9/7 capped
    assert got[1].dup_2gram_frac == round(6 / 7, 6)
    assert got[2].top_2gram_frac == round(6 / 11, 6)
    assert got[3].top_2gram_frac == 0.0 and got[3].dup_2gram_frac == 0.0
    assert got[4].top_2gram_frac == 0.0 and got[4].dup_2gram_frac == 0.0


def test_ngram_repetition_zero_shuffle_plan(spark):
    """The whole signal family is per-doc folds — one codegen'd map
    over the scan, no Exchange anywhere."""
    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j k l")], "doc_id long, text string"
    )
    out = textstats.ngram_repetition_stats(df)
    assert set(out.columns) == {
        "doc_id", "top_2gram_frac", "top_3gram_frac", "top_4gram_frac",
        "dup_5gram_frac", "dup_10gram_frac",
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_new_pipeline_ops_survive_null_text(spark):
    """The documents schema allows NULL text: decontamination,
    mixture sampling, DSIR, and the n-gram repetition signals must
    treat a NULL-text doc as featureless/tokenless — never crash,
    never attribute content to it."""
    from crawler_spark.ops import decontam, dsir, sampling

    docs = spark.createDataFrame(
        [(0, "s0", None), (1, "s0", "alpha beta gamma delta epsilon")],
        "doc_id long, source string, text string",
    )
    # decontam: NULL-text doc yields no grams -> clean verdict
    got = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in decontam.contamination(
            docs, decontam.eval_ngrams(docs.filter("doc_id = 1"), n=3), n=3
        ).collect()
    }
    assert got[0] == (0, False) and got[1][1] is True
    # sampling: NULL text counts 0 tokens; the domain still rates
    stats = {r.domain: r.n_tokens for r in sampling.domain_stats(docs).collect()}
    assert stats["s0"] == 5
    rates = spark.createDataFrame([("s0", 1.0)], "domain string, rate double")
    assert sampling.sample_mixture(docs, rates).count() == 2
    # dsir: NULL-text doc has no bucket rows -> absent from weights
    rc = dsir.doc_bucket_counts(docs, 32)
    ratio = dsir.bucket_log_ratio(
        dsir.doc_bucket_counts(docs.filter("doc_id = 1"), 32), rc, 32
    )
    w = dsir.importance_weights(rc, ratio).collect()
    assert [r.doc_id for r in w] == [1]
    # ngram repetition: NULL text -> all-zero signals
    r0 = {
        r.doc_id: r
        for r in textstats.ngram_repetition_stats(
            docs, top_ns=(2,), dup_ns=(2,)
        ).collect()
    }[0]
    assert r0.top_2gram_frac == 0.0 and r0.dup_2gram_frac == 0.0


def test_decontam_randomized_python_oracle(spark):
    """Randomized gate (seeded): 200 docs over a 6-word alphabet (so
    3-gram collisions are common), eval slice = every 7th doc —
    per-doc distinct-shared-gram counts must equal a pure-python
    recomputation for every doc."""
    import random

    from crawler_spark.ops import decontam

    rng = random.Random(42)
    words = ["ant", "bee", "cat", "dog", "elk", "fox"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 12))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = docs.filter("doc_id % 7 = 0")
    tr = docs.filter("doc_id % 7 != 0")
    got = {
        r.doc_id: r.n_hits
        for r in decontam.contamination(tr, decontam.eval_ngrams(ev, n=3), n=3)
        .collect()
    }

    def grams(t):
        ts = t.split()
        return {" ".join(ts[i:i + 3]) for i in range(len(ts) - 2)}

    ev_g = set().union(*(grams(t) for i, t in rows if i % 7 == 0))
    for i, t in rows:
        if i % 7 != 0:
            assert got[i] == len(grams(t) & ev_g), (i, t)


def test_sample_mixture_randomized_python_oracle(spark):
    """Randomized gate (seeded): the kept set must equal a pure-
    python md5 recomputation of the draw for every doc across three
    domains with distinct rates."""
    import hashlib

    from crawler_spark.ops import sampling

    rows = [(i, f"d{i % 3}", "x y z") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    rates = {"d0": 0.25, "d1": 0.75, "d2": 1.0}
    rdf = spark.createDataFrame(list(rates.items()), "domain string, rate double")
    kept = sorted(
        r.doc_id for r in sampling.sample_mixture(docs, rdf, seed=5).collect()
    )

    def keep(i):
        r = rates[f"d{i % 3}"]
        if r >= 1.0:
            return True
        draw = hashlib.md5(f"{i}:5".encode()).hexdigest()[:8]
        thr = format(int(r * (1 << 32)), "08x")
        return draw < thr

    assert kept == [i for i in range(300) if keep(i)]


def test_tokenize_once_projection_survives_optimizer(spark):
    """The O(tokens²) guard: every n-gram op tokenizes ONCE into a
    projected `_ts` attribute that the window/zip lambdas reference —
    if CollapseProject ever inlined the alias back into the lambdas
    (re-tokenizing per element, measured 9-14x on the DSIR feature
    pass), the alias would vanish from the optimized plan."""
    from crawler_spark.ops import decontam, dsir

    docs = spark.createDataFrame([(0, "a b c d e f")], "doc_id long, text string")
    for df in (
        dsir.doc_bucket_counts(docs, 16),
        decontam.contamination(docs, decontam.eval_ngrams(docs, n=3), n=3),
        textstats.ngram_repetition_stats(docs),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "_ts" in plan


def test_corpus_filter_ngram_thresholds(spark):
    """The optional A1.1 n-gram half of the admission gate: a doc
    whose repeated BIGRAM trips the top-2-gram threshold while every
    individual token stays under the top-token threshold is dropped
    as 'repetition' only when the n-gram knobs are on; the default
    gate's verdicts are byte-identical with the knobs absent."""
    # 'red fox' x2 of 16 tokens: top token 2/16 = 0.125 <= 0.2, but
    # top-2-gram chars 2*7/63 = 0.222 > 0.20
    planted = (
        "red fox uno dos tre qua cin six red fox sev oct nue die alf bet"
    )
    docs = spark.createDataFrame(
        [(0, planted), (1, "the cat and the dog are in the big house now")],
        "doc_id long, text string",
    )
    on = {
        r.doc_id: (r.keep, r.reason)
        for r in textstats.corpus_filter(
            docs,
            max_top_ngram_frac={2: 0.20, 3: 0.18, 4: 0.16},
            max_dup_ngram_frac={5: 0.15, 10: 0.10},
        ).collect()
    }
    assert on[0] == (False, "repetition")
    off = {
        r.doc_id: (r.keep, r.reason)
        for r in textstats.corpus_filter(docs).collect()
    }
    assert off[0][1] != "repetition"
    assert on[1] == off[1]  # clean prose unaffected by the knobs
    assert set(
        textstats.corpus_filter(docs, max_top_ngram_frac={2: 0.2}).columns
    ) == {"doc_id", "keep", "reason"}


def test_decontam_two_stage_equals_exact(spark):
    """The bloom prefilter has no false negatives, so the two-stage
    (bloom -> exact-on-survivors) verdicts must equal the pure exact
    path row for row — on a randomized corpus with planted
    contamination, and the prefilter must flag every truly
    contaminated doc."""
    import random

    from crawler_spark.ops import decontam

    rng = random.Random(7)
    words = ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hog"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 15))))
        for i in range(250)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = docs.filter("doc_id % 9 = 0")
    tr = docs.filter("doc_id % 9 != 0")
    grams = decontam.eval_ngrams(ev, n=3)
    filters = decontam.eval_gram_filters(grams, n_buckets=8)

    exact = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in decontam.contamination(tr, grams, n=3).collect()
    }
    two = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in decontam.contamination_two_stage(
            tr, grams, filters, n=3, n_buckets=8
        ).collect()
    }
    assert two == exact
    pre = {
        r.doc_id: r.maybe_contaminated
        for r in decontam.contamination_prefilter(
            tr, filters, n=3, n_buckets=8
        ).collect()
    }
    assert set(pre) == set(exact)
    for d, (_, contaminated) in exact.items():
        if contaminated:
            assert pre[d], f"bloom false negative on doc {d}"


# ---------------- corpus profile ----------------


def test_corpus_profile_hand_computed(spark):
    """Exact per-lang profile against hand-worked values: counts,
    char totals/means, quantile interpolation, the blank/NULL text
    conventions (length 0, 0 tokens)."""
    rows = [
        (0, "en", "aaaa"),        # len 4, 1 tok
        (1, "en", "bb bb"),       # len 5, 2 tok
        (2, "en", "cccccc cc"),   # len 9, 2 tok
        (3, "de", None),          # len 0, 0 tok
        (4, "de", "x y z"),       # len 5, 3 tok
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    from crawler_spark.ops import textstats as ts

    got = {
        r.lang: r
        for r in ts.corpus_profile(docs, probs=(0.5, 1.0), exact=True)
        .collect()
    }
    en, de = got["en"], got["de"]
    assert en.n_docs == 3 and en.total_chars == 18
    assert abs(en.mean_chars - 6.0) < 1e-12
    assert en.len_q == [5.0, 9.0]          # median of 4,5,9 / max
    assert en.tok_q == [2.0, 2.0]
    assert de.n_docs == 2 and de.total_chars == 5
    assert de.len_q == [2.5, 5.0]          # interpolated median of 0,5
    assert de.tok_q == [1.5, 3.0]
    # the default sketch form lands within the value range and agrees
    # on the non-quantile columns (it is the 100 TB path)
    ap = {
        r.lang: r
        for r in ts.corpus_profile(docs, probs=(0.5, 1.0)).collect()
    }
    for lang in got:
        assert ap[lang].n_docs == got[lang].n_docs
        assert ap[lang].total_chars == got[lang].total_chars
        for v in ap[lang].len_q:
            assert 0 <= v <= 9


def test_c4_filters_rules(spark):
    """C4 cleanup (Raffel et al. 2020 §2.2): terminal-punctuation +
    min-words + javascript line rules; lorem-ipsum / brace /
    blocklist / too-few-lines doc rules with first-failing
    attribution; NULL text classifies as too_few_lines."""
    from crawler_spark.ops import textstats

    good = "this is a fine sentence here.\nanother good long line stays!"
    rows = [
        (0, good + "\nthird keeper line is great?"),          # kept
        (1, "no terminal punctuation here\nshort one.\n" + good),  # 2 keeps < 3
        (2, "Lorem Ipsum dolor sit amet.\n" + good),          # lorem_ipsum
        (3, "function f() { return 1; }\n" + good),           # brace
        (4, "the spamword appears right here today.\n" + good),  # blocklist
        (5, "enable javascript to view this page now.\n" + good),  # js line dropped
        (6, None),
        (7, ""),
        (8, "a closing brace } alone is code.\n" + good),   # brace
    ]
    out = {
        r["doc_id"]: r
        for r in textstats.c4_filters(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_line_words=5,
            min_lines=3,
            blocklist=("spamword",),
        ).collect()
    }
    assert out[0]["keep"] and out[0]["reason"] is None
    assert out[0]["n_lines_kept"] == 3 and out[0]["n_lines_dropped"] == 0
    assert not out[1]["keep"] and out[1]["reason"] == "too_few_lines"
    assert out[1]["n_lines_kept"] == 2
    assert out[2]["reason"] == "lorem_ipsum"
    assert out[3]["reason"] == "brace"
    assert not out[8]["keep"] and out[8]["reason"] == "brace"
    assert out[4]["reason"] == "blocklist"
    # the javascript line drops but the doc survives on the others
    assert not out[5]["keep"] and out[5]["reason"] == "too_few_lines"
    assert "javascript" not in out[5]["clean_text"]
    for i in (6, 7):
        assert out[i]["reason"] == "too_few_lines"
        assert out[i]["clean_text"] == "" and out[i]["n_lines_kept"] == 0
    # kept lines rejoin in order
    assert out[0]["clean_text"].split("\n")[0] == good.split("\n")[0]
