"""Edge cases for the text/embedding operators the fixtures can't
express: zero vectors under quantization, TF-IDF ranking invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_loan_etl_pipeline_spark.operators.similarity import quantize_int8
from airflow_loan_etl_pipeline_spark.operators.text import tfidf_top_terms, top_terms


def test_quantize_int8_zero_vector_and_range(spark):
    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0]),
            (2, [1.0, -2.0, 0.5]),
            (3, [-0.001, 0.001, 0.0005]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in quantize_int8(df).collect()}
    assert out[1].scale == 0.0 and out[1].q == [0, 0, 0]
    assert out[2].scale == 2.0
    assert out[2].q == [64, -127, 32]  # floor(x*127/2 + 0.5)
    assert all(-127 <= x <= 127 for r in out.values() for x in r.q)


def test_tfidf_scores_and_ranking(spark):
    docs = spark.createDataFrame(
        [
            (1, "common common common rare"),
            (2, "common filler words here"),
            (3, "common more filler text"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(docs, per_doc_k=2).collect()
    doc1 = sorted([r for r in rows if r.doc_id == 1], key=lambda r: r.rn)
    scores = {r.term: r.tfidf for r in rows if r.doc_id == 1}
    # rational idf (n+1)/(df+1) with n=3 docs:
    assert scores["common"] == 3.0  # tf=3 * 4/(3+1)
    assert scores["rare"] == 2.0  # tf=1 * 4/(1+1) — idf boost, tf still wins
    assert [r.term for r in doc1] == ["common", "rare"]


def test_top_terms_counts_and_order(spark):
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], "doc_id long, text string"
    )
    rows = top_terms(docs, k=2).collect()
    assert rows[0].term == "a" and rows[0].total_count == 3 and rows[0].doc_freq == 2
    assert rows[1].term == "b"  # tie b/c broken by term asc


def test_quantize_int8_error_bound(spark):
    """Property: dequantized error is bounded by half a quantization
    step (scale/254 per component) for every vector in a seeded random
    batch — the guarantee that makes int8 storage usable for ANN."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = [(i, rng.normal(size=16).tolist()) for i in range(64)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in quantize_int8(df).collect()}
    for i, v in vecs:
        scale, q = out[i].scale, out[i].q
        step = scale / 127.0
        for x, qi in zip(v, q):
            assert abs(x - qi * step) <= step / 2 + 1e-9


def test_corpus_mix_sample_is_deterministic_and_subset(spark):
    from airflow_loan_etl_pipeline_spark.operators.text import (
        corpus_mix_sample,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en" if i % 2 else "fr") for i in range(200)],
        "doc_id long, text string, lang string",
    )
    a = {r.doc_id for r in corpus_mix_sample(docs, {"en": 50}).collect()}
    # repartitioning must not change membership (content-addressed)
    b = {
        r.doc_id
        for r in corpus_mix_sample(docs.repartition(13), {"en": 50}).collect()
    }
    assert a == b
    assert all(i % 2 == 1 for i in a)  # fr got default_rate=0
    # rate ~50% of the 100 en docs, binomial-loose bounds
    assert 25 <= len(a) <= 75
    # rate 100 keeps everything in the stratum
    full = corpus_mix_sample(docs, {"en": 100, "fr": 100}).count()
    assert full == 200


def test_batch_cosine_topk_exact_vs_naive(spark):
    import math
    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        batch_cosine_topk,
    )

    # 2 query vectors + 6 corpus vectors in 2-D; cosines hand-checkable
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 1.0], 0),
        (10, [2.0, 0.0], 0),    # cos to q0 = 1.0
        (11, [1.0, 1.0], 0),    # cos to both = 0.7071
        (12, [0.0, 3.0], 0),    # cos to q1 = 1.0
        (13, [-1.0, 0.0], 0),   # cos to q0 = -1.0
        (14, [3.0, 4.0], 0),    # cos to q0 = 0.6
        (15, [1.0, 0.0], 0),    # cos to q0 = 1.0, tie with 10 -> id asc
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = batch_cosine_topk(df, query_ids=[0, 1], k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cosine))
    assert sorted(by_q[0]) == [(1, 10, 1.0), (2, 15, 1.0)]
    q1 = sorted(by_q[1])
    assert q1[0] == (1, 12, 1.0)
    # runner-up for q1 is 14=[3,4]: cos = 4/5 = 0.8 (beats 11's 0.7071)
    assert q1[1] == (2, 14, 0.8)
    assert math.isfinite(q1[1][2])


def test_dimension_stats_hand_computed(spark):
    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        dimension_stats,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 10.0], 0), (2, [3.0, 10.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r.dim: r for r in dimension_stats(df).collect()}
    assert out[1].n == 2 and out[1].mean_val == 2.0
    assert out[1].min_val == 1.0 and out[1].max_val == 3.0
    assert out[2].std_val == 0.0  # dead dimension detected


def test_vocab_coverage_hand_computed(spark):
    from airflow_loan_etl_pipeline_spark.operators.text import vocab_coverage

    # freqs: a=4, b=2, c=1, d=1 (ties broken token-asc)
    docs = spark.createDataFrame(
        [(1, "a a b c", "en", "s", 0), (2, "a a b d", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r.vocab_size: r
        for r in vocab_coverage(docs, checkpoints=(1, 2, 3, 4)).collect()
    }
    assert out[1].tokens_covered == 4
    assert out[2].tokens_covered == 6
    assert out[3].tokens_covered == 7  # c before d at equal freq
    assert out[4].tokens_covered == 8 and out[4].coverage == 1.0


def test_hard_negatives_excludes_same_label(spark):
    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    # all in one bucket direction-wise: positive-orthant vectors
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.1] + [0.0] * 62, 0),
            (2, [1.0, 0.2] + [0.0] * 62, 0),   # same label as 1
            (3, [0.9, 0.3] + [0.0] * 62, 1),   # closest other-label to 1
            (4, [0.1, 1.0] + [0.0] * 62, 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r.vec_id: r for r in hard_negatives(df).collect()}
    # anchor 1's hard negative must be label-1 (never vec 2)
    assert out[1].hard_neg_label == 1
    assert out[1].hard_neg_id == 3
    # anchors of label 1 point back into label 0
    assert out[3].hard_neg_label == 0


def test_rrf_fuse_hand_computed(spark):
    from airflow_loan_etl_pipeline_spark.operators.text import rrf_fuse

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, s1 double"
    )
    # doc 4 only appears in list b; doc 3 only in list a
    b = spark.createDataFrame(
        [(2, 9.0), (1, 5.0), (4, 1.0)], "doc_id long, s2 double"
    )
    out = {r.doc_id: r.rrf_score for r in rrf_fuse([(a, "s1"), (b, "s2")], k=60).collect()}
    assert out[1] == round(1 / 61 + 1 / 62, 6)
    assert out[2] == round(1 / 62 + 1 / 61, 6)
    assert out[3] == round(1 / 63, 6)  # missing list contributes 0
    assert out[4] == round(1 / 63, 6)


def test_dimension_correlations_detects_copy(spark):
    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        dimension_correlations,
    )

    import random

    rng = random.Random(3)
    rows = []
    for i in range(50):
        a = rng.uniform(-1, 1)
        b = rng.uniform(-1, 1)
        # dim2 == dim1 (perfect correlation); dim3 independent
        rows.append((i, [a, a, b], 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        (r.dim_a, r.dim_b): r.corr
        for r in dimension_correlations(df, n_dims=3).collect()
    }
    assert out[(1, 2)] == 1.0       # duplicated dimension flagged
    assert abs(out[(1, 3)]) < 0.5   # independent dims stay low


def test_rank_rbo_extremes(spark):
    from airflow_loan_etl_pipeline_spark.operators.text import rank_rbo

    a = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(10)], "doc_id long, s double"
    )
    # identical ranking -> RBO@k == (1-p) * sum_{d<=k} p^(d-1) (d/d=1)
    out = rank_rbo(a, a, "s", "s", k=10).collect()[0]
    expected = 0.09999999999999998 * sum(0.9 ** (d - 1) for d in range(1, 11))
    assert out.rbo == round(expected, 6)
    assert out.n_shared == 10
    # disjoint rankings -> no shared docs -> empty-sum RBO
    b = spark.createDataFrame(
        [(i + 100, float(100 - i)) for i in range(10)], "doc_id long, s double"
    )
    out2 = rank_rbo(a, b, "s", "s", k=10).collect()[0]
    assert out2.n_shared == 0


def test_normalized_dedup_catches_case_punct_variants(spark):
    from airflow_loan_etl_pipeline_spark.operators.text import (
        normalized_exact_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!", "en", "s", 0),
            (2, "hello world", "en", "s", 0),
            (3, "HELLO   WORLD.", "en", "s", 0),
            (4, "different text", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.keep_id: r.n_copies for r in normalized_exact_dedup(docs).collect()}
    assert out == {1: 3, 4: 1}


def test_standardized_norms_flags_outlier_vector(spark):
    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        standardized_norms,
    )

    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(5.0, 1.0), rng.gauss(-2.0, 0.5), 7.0], 0)
        for i in range(60)
    ]
    # outlier: extreme in dims 1-2; dim 3 is DEAD (constant) everywhere
    rows.append((999, [50.0, 30.0, 7.0], 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.vec_id: r for r in standardized_norms(df).collect()}
    normal_max = max(r.z_norm for i, r in out.items() if i != 999)
    assert out[999].z_norm > 3 * normal_max
    # dead dimension contributes exactly 0, never NaN
    import math
    assert all(math.isfinite(r.z_norm) for r in out.values())


def test_readability_hand_computed(spark):
    from airflow_loan_etl_pipeline_spark.operators.text import readability

    docs = spark.createDataFrame(
        [
            # "the cat sat. it ran!" -> 5 words, 2 sentences,
            # syllables: the(1) cat(1) sat(1) it(1) ran(1) = 5 runs
            (1, "the cat sat. it ran!", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = readability(docs).collect()[0]
    assert r.n_words == 5
    assert r.n_sentences == 2
    assert r.n_syllables == 5
    expected = 206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5)
    assert r.flesch_score == round(expected, 4)


def test_compressibility_separates_boilerplate_from_noise(spark):
    import random
    import string

    from airflow_loan_etl_pipeline_spark.operators.text import (
        compressibility,
    )

    rng = random.Random(5)
    noise = "".join(rng.choice(string.ascii_lowercase) for _ in range(2000))
    docs = spark.createDataFrame(
        [
            (1, "spam " * 400, "en", "s", 0),        # highly repetitive
            (2, noise, "en", "s", 0),                # incompressible-ish
            (3, "", "en", "s", 0),                   # empty: no crash
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r for r in compressibility(docs).collect()}
    assert out[1].compress_ratio < 0.1       # boilerplate crushes
    assert out[2].compress_ratio > 0.5       # random text doesn't
    assert out[3].n_bytes == 0               # empty doc handled
    assert out[1].n_bytes == 2000


def test_bigram_logprob_punishes_impossible_transitions(spark):
    from airflow_loan_etl_pipeline_spark.operators.text import bigram_logprob

    # corpus dominated by "the cat sat" patterns; doc 9 uses the same
    # unigrams in an order never seen elsewhere
    docs = [(i, "the cat sat on the mat", "en", "s", 0) for i in range(8)]
    docs.append((9, "mat the sat cat the on", "en", "s", 0))
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert out[9].avg_bigram_logprob < out[0].avg_bigram_logprob - 1.0
    assert out[0].n_bigrams == 5
    # single-token docs are absent by contract
    df2 = spark.createDataFrame(
        [(1, "solo", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert bigram_logprob(df2).count() == 0


def test_pq_encode_codebook_members_have_zero_error(spark):
    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        pq_encode,
    )

    import random

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], 0) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.vec_id: r for r in pq_encode(df).collect()}
    assert all(len(r.codes) == PQ_M for r in out.values())
    # codebook members reconstruct themselves exactly: code j == own id
    for cid in range(PQ_K):
        assert out[cid].recon_err == 0.0
        assert list(out[cid].codes) == [cid] * PQ_M
    # non-members have positive error but every code is a valid entry
    assert out[30].recon_err > 0
    assert all(0 <= c < PQ_K for c in out[30].codes)


def test_kmeans_train_stable_under_repartitioning(spark, sf_dir):
    """Training results must not depend on the physical partitioning of
    the corpus: the per-round 6-dp mean rounding bounds partition-order
    summation drift, so centroids from a 7-way repartitioned input match
    the defaults to 1e-6 and memberships match exactly."""
    from airflow_loan_etl_pipeline_spark.catalog import load_table
    from airflow_loan_etl_pipeline_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    a = {
        r["cid"]: (r["n_members"], r["centroid"])
        for r in S.kmeans_train(emb, n_centroids=16, n_iters=2).collect()
    }
    b = {
        r["cid"]: (r["n_members"], r["centroid"])
        for r in S.kmeans_train(
            emb.repartition(7), n_centroids=16, n_iters=2
        ).collect()
    }
    assert set(a) == set(b)
    for cid in a:
        assert a[cid][0] == b[cid][0], cid
        for x, y in zip(a[cid][1], b[cid][1]):
            assert abs(x - y) <= 1e-6, (cid, x, y)


def test_seed_centroids_on_id_offset_corpus(spark, sf_dir):
    """The codebook/centroid seeds must come from the TRUE lowest ids
    with dense 0-based cids: a corpus whose ids start at 1000 (shard
    offset) previously produced a silently EMPTY codebook from the
    `id < k` filter. Train/encode results must be identical to the
    0-based corpus modulo the id shift."""
    from airflow_loan_etl_pipeline_spark.catalog import load_table
    from airflow_loan_etl_pipeline_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    shifted = emb.withColumn("vec_id", (F.col("vec_id") + 1000).cast("long"))

    base = {
        r["cid"]: (r["n_members"], tuple(r["centroid"]))
        for r in S.kmeans_train(emb, n_centroids=8, n_iters=1).collect()
    }
    moved = {
        r["cid"]: (r["n_members"], tuple(r["centroid"]))
        for r in S.kmeans_train(shifted, n_centroids=8, n_iters=1).collect()
    }
    assert base == moved and len(base) > 0

    pq0 = {
        r["vec_id"] - 0: (tuple(r["codes"]), r["recon_err"])
        for r in S.pq_encode(emb).collect()
    }
    pq1 = {
        r["vec_id"] - 1000: (tuple(r["codes"]), r["recon_err"])
        for r in S.pq_encode(shifted).collect()
    }
    assert pq0 == pq1 and len(pq0) > 0
    # codes live in the dense 0..PQ_K-1 domain even on offset ids
    assert all(
        0 <= c < S.PQ_K for codes, _ in pq1.values() for c in codes
    )


def test_chunk_documents_covers_tail_when_window_equals_stride(spark):
    """Non-overlapping chunking (window == stride) must still emit the
    final partial chunk: an 8/8 chunking of a 9-token doc previously
    lost token 9 entirely (review r6)."""
    from airflow_loan_etl_pipeline_spark.operators.text import (
        chunk_documents,
    )

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(1, 10)))], "doc_id long, text string"
    )
    rows = sorted(
        (r["chunk_start"], r["n_chunk_tokens"])
        for r in chunk_documents(df, window=8, stride=8).collect()
    )
    assert rows == [(1, 8), (9, 1)]  # tail token covered
    # default overlapping path unchanged: 16/8 over 9 tokens -> one
    # start only (cap n-1 skips the fully-covered suffix start)
    rows16 = [r["chunk_start"]
              for r in chunk_documents(df, window=16, stride=8).collect()]
    assert rows16 == [1]


def test_bm25_scores_honors_id_col(spark):
    """bm25_scores output id column must carry the CALLER'S id_col
    name (was hardcoded doc_id)."""
    from airflow_loan_etl_pipeline_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [(7, "alpha beta beta"), (8, "alpha gamma")],
        "page_id long, text string",
    )
    out = bm25_scores(df, ("beta",), id_col="page_id")
    assert "page_id" in out.columns
    assert {r["page_id"] for r in out.collect()} <= {7, 8}


def test_vocab_coverage_consistent_across_actions(spark):
    """vocab_coverage's ranked frame is checkpoint-materialized: two
    actions over a derived frame must agree exactly (the unmaterialized
    range+partition-id fan-out could desync rank and offset branches)."""
    from airflow_loan_etl_pipeline_spark.operators.text import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [(i, "w%d common common" % (i % 13)) for i in range(200)],
        "doc_id long, text string",
    )
    out = vocab_coverage(docs, checkpoints=(1, 5, 10)).select(
        "vocab_size", "tokens_covered", "coverage"
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, out.collect()))
    assert a == b and len(a) == 3


def test_cosine_dup_pairs_capped_hot_bucket(spark):
    """VERDICT r6 item 1: the pair generator is a capped bucket
    self-join. A hot bucket (5 identical vectors) is dropped when it
    exceeds max_bucket, while a small bucket's pair survives; uncapped
    the hot bucket contributes all C(5,2) pairs."""
    import numpy as np

    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        cosine_dup_pairs,
    )

    rng = np.random.default_rng(7)
    hot = [float(x) for x in rng.normal(size=64)]
    cold = [float(x) for x in rng.normal(size=64)]
    rows = [(i, hot) for i in range(5)] + [(10, cold), (11, cold)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    capped = cosine_dup_pairs(df, threshold=0.9, max_bucket=4).collect()
    assert {(r.vec_a, r.vec_b) for r in capped} == {(10, 11)}
    uncapped = cosine_dup_pairs(df, threshold=0.9, max_bucket=None).collect()
    assert {(r.vec_a, r.vec_b) for r in uncapped} == {
        (a, b) for a in range(5) for b in range(a + 1, 5)
    } | {(10, 11)}


def test_cosine_dup_pairs_matches_numpy_bruteforce(spark):
    """The self-join pair generator must reproduce the brute-force
    same-bucket cosine pairs exactly (seeded random corpus)."""
    import itertools

    import numpy as np

    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        PLANES,
        cosine_dup_pairs,
    )

    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(40, 64))
    # plant near-duplicates so the threshold filter keeps something
    vecs[7] = vecs[3] + rng.normal(scale=0.01, size=64)
    vecs[21] = vecs[15] + rng.normal(scale=0.01, size=64)
    planes = np.array(PLANES)
    buckets = ((planes @ vecs.T > 0) * (1 << np.arange(8))[:, None]).sum(0)
    expected = set()
    for a, b in itertools.combinations(range(40), 2):
        if buckets[a] != buckets[b]:
            continue
        cos = round(
            float(
                vecs[a] @ vecs[b]
                / np.sqrt((vecs[a] @ vecs[a]) * (vecs[b] @ vecs[b]))
            ),
            6,
        )
        if cos >= 0.35:
            expected.add((a, b, cos))
    df = spark.createDataFrame(
        [(i, list(map(float, vecs[i]))) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in cosine_dup_pairs(df, threshold=0.35).collect()
    }
    assert expected and got == expected


def test_kmeans_train_keeps_empty_clusters(spark):
    """Empty-cluster contract (VERDICT r6 item 2): k never shrinks. Two
    identical seed vectors tie-break every assignment to the lower cid,
    so cid 1 is empty from iteration 1 — it must persist with
    n_members=0 and its carried-over (seed) centroid."""
    import numpy as np

    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        kmeans_train,
    )

    rng = np.random.default_rng(3)
    seed_vec = [float(x) for x in rng.normal(size=64)]
    others = [[float(x) for x in rng.normal(size=64)] for _ in range(8)]
    rows = [(0, seed_vec), (1, seed_vec)] + [
        (i + 2, v) for i, v in enumerate(others)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out1 = {
        r.cid: r
        for r in kmeans_train(df, n_centroids=2, n_iters=1).collect()
    }
    assert set(out1) == {0, 1}, "k must stay constant"
    assert out1[1].n_members == 0
    # the carried-over centroid is the raw seed vector, untouched
    assert out1[1].centroid == seed_vec
    assert out1[0].n_members == 10
    # iteration 2: cid 0 moved to the global mean, so the SURVIVING
    # cid 1 centroid (still exactly the seed) re-captures the two seed
    # copies — the recovery a silently-dropped cluster can never make
    out2 = {
        r.cid: r
        for r in kmeans_train(df, n_centroids=2, n_iters=2).collect()
    }
    assert set(out2) == {0, 1}
    assert out2[1].n_members == 2
    assert out2[1].centroid == [round(x, 6) for x in seed_vec]
    assert out2[0].n_members == 8


def test_zero_norm_cosine_null_contract(spark):
    """Zero-norm vectors have no direction: cosine is NULL on the
    engine (try_divide) AND the oracle fragment (NULLIF) — VERDICT r6
    item 3. The pair generator silently excludes them (NULL fails the
    threshold), top-k sorts them last, and nothing crashes under ANSI
    mode."""
    import duckdb

    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        brute_force_cosine_topk,
        cosine_dup_pairs,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0] * 64),
            (1, [0.0] * 64),  # zero-norm
            (2, [1.0] * 64),
        ],
        "vec_id long, embedding array<double>",
    )
    topk = brute_force_cosine_topk(df, query_id=0, k=5).collect()
    by_id = {r.vec_id: r.cosine for r in topk}
    assert by_id[2] == 1.0
    assert by_id[1] is None  # NULL, sorted last under DESC
    assert [r.vec_id for r in topk] == [2, 1]
    pairs = cosine_dup_pairs(df, threshold=0.1).collect()
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(0, 2)}
    # oracle-side mirror: the NULLIF fragment yields NULL on the same
    # degenerate input
    from airflow_loan_etl_pipeline_spark.registry_text import _COS_LR

    frag = _COS_LR.format(l="[1.0, 1.0]::DOUBLE[]", r="[0.0, 0.0]::DOUBLE[]")
    assert duckdb.sql(f"SELECT {frag} AS c").fetchone()[0] is None


def test_hard_negatives_bucket_cap(spark):
    """hard_negatives' max_bucket drops hot buckets before the pair
    self-join (same valve as cosine_dup_pairs, ON by default at
    COSINE_MAX_BUCKET); max_bucket=None gives the uncapped search."""
    import numpy as np

    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    rng = np.random.default_rng(11)
    hot = [float(x) for x in rng.normal(size=64)]
    cold = [float(x) for x in rng.normal(size=64)]
    rows = [(i, i % 2, hot) for i in range(5)] + [
        (10, 0, cold),
        (11, 1, cold),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    capped = hard_negatives(df, max_bucket=4).collect()
    assert {r.vec_id for r in capped} == {10, 11}
    full = hard_negatives(df, max_bucket=None).collect()
    assert {r.vec_id for r in full} == {0, 1, 2, 3, 4, 10, 11}
    # the default cap (256) never binds on these 5-vector buckets
    assert {r.vec_id for r in hard_negatives(df).collect()} == {
        0, 1, 2, 3, 4, 10, 11,
    }


def _semdedup_bruteforce(assigned, threshold):
    """Pure-python replay of the semdedup prune rule over a collected
    (vec_id, v, cid, ccos) assignment: within-cluster pairs at
    round(cos, 6) >= threshold prune their higher-ccos member (ties
    prune the higher id)."""
    import math
    from collections import defaultdict

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na * nb else None

    by_cid = defaultdict(list)
    for r in assigned:
        by_cid[r["cid"]].append(r)
    pruned = set()
    for members in by_cid.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                ia, ib = a["vec_id"], b["vec_id"]
                if ia > ib:
                    a, b, ia, ib = b, a, ib, ia
                s = cos(a["v"], b["v"])
                if s is None or round(s, 6) < threshold:
                    continue
                if a["ccos"] > b["ccos"] or (
                    a["ccos"] == b["ccos"] and ia > ib
                ):
                    pruned.add(ia)
                else:
                    pruned.add(ib)
    return {
        cid: (
            len(ms),
            sum(1 for m in ms if m["vec_id"] in pruned),
        )
        for cid, ms in by_cid.items()
    }


def test_semdedup_matches_bruteforce(spark, sf_dir):
    """The distributed prune (cid-keyed self-join + loser rule +
    distinct + summary agg) must equal an O(n²) python replay of the
    SemDeDup rule over the same assignment."""
    from airflow_loan_etl_pipeline_spark.catalog import load_table
    from airflow_loan_etl_pipeline_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    out = {
        r["cid"]: (r["n_vectors"], r["n_pruned"], r["n_kept"])
        for r in S.semdedup(emb, n_iters=2, threshold=0.3).collect()
    }
    # rebuild the assignment with the same (already-tested) helpers
    cdict = {
        int(r["cid"]): list(r["centroid"])
        for r in S.kmeans_train(
            emb, n_centroids=16, n_iters=2, include_sizes=False
        ).collect()
    }
    base = emb.select("vec_id", F.expr(S._as_double("embedding")).alias("v"))
    assigned = [
        {
            "vec_id": r["vec_id"],
            "v": list(r["v"]),
            "cid": r["best"]["cid"],
            "ccos": r["best"]["ccos"],
        }
        for r in S._with_best_centroid_literal(base, cdict).collect()
    ]
    expect = _semdedup_bruteforce(assigned, 0.3)
    assert set(out) == set(expect)
    total = 0
    for cid, (n_vec, n_pruned) in expect.items():
        assert out[cid] == (n_vec, n_pruned, n_vec - n_pruned), cid
        total += n_vec
    assert total == emb.count()
    # the fixture actually exercises pruning
    assert sum(p for _v, p, _k in out.values()) > 0


def test_semdedup_invariants(spark, sf_dir):
    """Threshold monotonicity, the max_cluster valve, partitioning
    independence, and the empty-input contract."""
    from airflow_loan_etl_pipeline_spark.catalog import load_table
    from airflow_loan_etl_pipeline_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    lo = {r["cid"]: r["n_pruned"]
          for r in S.semdedup(emb, threshold=0.3).collect()}
    hi = {r["cid"]: r["n_pruned"]
          for r in S.semdedup(emb, threshold=0.6).collect()}
    assert set(lo) == set(hi)
    assert all(hi[c] <= lo[c] for c in lo)

    # max_cluster=0 drops every cluster from pairing: nothing prunes,
    # but the summary still counts the whole corpus
    v0 = {
        r["cid"]: (r["n_vectors"], r["n_pruned"])
        for r in S.semdedup(emb, threshold=0.3, max_cluster=0).collect()
    }
    assert sum(v for v, _p in v0.values()) == emb.count()
    assert all(p == 0 for _v, p in v0.values())

    seven = {
        r["cid"]: (r["n_vectors"], r["n_pruned"], r["n_kept"])
        for r in S.semdedup(emb.repartition(7), threshold=0.3).collect()
    }
    base = {
        r["cid"]: (r["n_vectors"], r["n_pruned"], r["n_kept"])
        for r in S.semdedup(emb, threshold=0.3).collect()
    }
    assert seven == base

    empty = emb.filter(F.lit(False))
    assert S.semdedup(empty).collect() == []
