"""Property-based tests (hypothesis) for the engine's algebraic
invariants — the claims that must hold for EVERY input, not just the
fixtures: incremental-merge == from-scratch, distributed rank ==
sorted order, transitive closure == reference union-find, interval
concurrency == brute-force day counting.

Examples are kept small (each drives real Spark jobs); the invariants,
not the data volume, are what's under test here — the differential
oracle covers fixture scale.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# Example budget: 8 keeps the CI suite fast; deep-fuzz runs raise it
# via the env knob (a 60-example sweep caught the point-mass
# percentile ulp divergence the 8-example budget had missed for five
# rounds).
import os

SETTINGS = dict(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYPOTHESIS_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),          # key
            st.integers(min_value=-1000, max_value=1000),  # measure
        ),
        min_size=1,
        max_size=30,
    ),
    split=st.integers(min_value=0, max_value=29),
)
def test_merge_aggregates_equals_full_for_any_split(spark, rows, split):
    from airflow_loan_etl_pipeline_spark.operators.aggregates import (
        merge_aggregates,
    )

    split = min(split, len(rows))
    df = spark.createDataFrame(rows, "k string, v long")

    def agg(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )

    full = {r.k: (r.n, r.s, r.lo, r.hi) for r in agg(df).collect()}
    old_rows, new_rows = rows[:split], rows[split:]
    parts = []
    for chunk in (old_rows, new_rows):
        if chunk:
            parts.append(agg(spark.createDataFrame(chunk, "k string, v long")))
    if len(parts) == 1:
        merged_df = parts[0]
    else:
        merged_df = merge_aggregates(
            parts[0], parts[1], ["k"],
            sum_cols=("n", "s"), min_cols=("lo",), max_cols=("hi",),
        )
    merged = {r.k: (r.n, r.s, r.lo, r.hi) for r in merged_df.collect()}
    assert merged == full


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=40
    )
)
def test_global_rank_matches_sorted_enumeration(spark, vals):
    from airflow_loan_etl_pipeline_spark.operators.topk import global_rank

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(5)
    got = {
        r.id: r.rank for r in global_rank(df, ["v", "id"]).collect()
    }
    expect = {
        rid: i + 1
        for i, (v, rid) in enumerate(sorted((v, i) for i, v in enumerate(vals)))
    }
    assert got == expect


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        max_size=12,
    )
)
def test_dup_clusters_equals_union_find(spark, edges):
    from airflow_loan_etl_pipeline_spark.operators.dedup import dup_clusters

    edges = [(a, b) for a, b in edges if a != b]
    nodes = list(range(10))
    docs = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    if edges:
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    else:
        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dup_clusters(docs, pairs).collect()}

    # reference union-find
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in nodes}
    assert got == expect


@settings(**SETTINGS)
@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # start day offset
            st.integers(min_value=0, max_value=10),  # duration days
        ),
        min_size=1,
        max_size=15,
    )
)
def test_interval_concurrency_equals_brute_force(spark, iv):
    import datetime

    from airflow_loan_etl_pipeline_spark.operators.timeseries import (
        interval_concurrency,
    )

    base = datetime.date(2024, 1, 1)
    starts = [(base + datetime.timedelta(days=s),) for s, d in iv]
    ends = [(base + datetime.timedelta(days=s + d),) for s, d in iv]
    sdf = spark.createDataFrame(starts, "day date")
    edf = spark.createDataFrame(ends, "day date")
    got = {r.day: r.n_open for r in interval_concurrency(sdf, edf).collect()}
    for day, n in got.items():
        off = (day - base).days
        expect = sum(1 for s, d in iv if s <= off <= s + d)
        assert n == expect, (day, n, expect)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=8
        ),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_jaccard_matches_brute_force(spark, docs):
    from airflow_loan_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, n=2, threshold=0.0).collect()
    }

    def shingles(toks):
        if len(toks) >= 2:
            return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}
        return {" ".join(toks)}  # matches the < n fallback: whole text

    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            si, sj = shingles(docs[i]), shingles(docs[j])
            inter = len(si & sj)
            if inter:
                expect[(i, j)] = round(inter / len(si | sj), 4)
    assert got == expect


@settings(**SETTINGS)
@given(
    gaps=st.lists(
        st.integers(min_value=0, max_value=180), min_size=1, max_size=20
    )
)
def test_debounce_matches_sequential_scan(spark, gaps):
    import datetime

    from airflow_loan_etl_pipeline_spark.operators.timeseries import debounce

    base = datetime.datetime(2024, 1, 1)
    ts, rows = base, []
    times = []
    for i, g in enumerate(gaps):
        ts = ts + datetime.timedelta(seconds=g)
        times.append(ts)
        rows.append((i, ts, 7, "t", 1.0, ""))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = debounce(df).collect()[0]
    kept = sum(
        1
        for i, t in enumerate(times)
        if i == 0 or (t - times[i - 1]).total_seconds() >= 60
    )
    assert out.n_kept == kept
    assert out.n_dropped == len(times) - kept


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        max_size=8,
    )
)
def test_leakage_safe_split_never_straddles_clusters(spark, edges):
    from airflow_loan_etl_pipeline_spark.operators.dedup import dup_clusters
    from airflow_loan_etl_pipeline_spark.operators.text import (
        leakage_safe_split,
    )

    edges = [(a, b) for a, b in edges if a != b]
    docs = spark.createDataFrame([(n,) for n in range(8)], "doc_id long")
    pairs = (
        spark.createDataFrame(edges, "doc_a long, doc_b long")
        if edges
        else spark.createDataFrame([], "doc_a long, doc_b long")
    )
    clusters = dup_clusters(docs, pairs)
    out = leakage_safe_split(docs, clusters).collect()
    assert len(out) == 8
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    # THE invariant: one split per cluster, for any pair graph
    assert all(len(s) == 1 for s in by_cluster.values())


@settings(**SETTINGS)
@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=600),   # gap seconds
            st.integers(min_value=-100, max_value=100),  # value
        ),
        min_size=2,
        max_size=15,
    )
)
def test_twap_matches_reference(spark, obs):
    import datetime

    from airflow_loan_etl_pipeline_spark.operators.timeseries import (
        time_weighted_avg,
    )

    base = datetime.datetime(2024, 1, 1)
    t, rows, series = base, [], []
    for i, (g, v) in enumerate(obs):
        t = t + datetime.timedelta(seconds=g)
        series.append((t, float(v)))
        rows.append((i, t, 7, "t", float(v), ""))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = time_weighted_avg(df).collect()[0]
    num = den = 0.0
    for (t0, v0), (t1, _) in zip(series, series[1:]):
        dt = (t1 - t0).total_seconds()
        num += v0 * dt
        den += dt
    assert out.n_intervals == len(series) - 1
    assert out.twap == round(num / den, 6)


@settings(**SETTINGS)
@given(
    seq=st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=2, max_size=20
    )
)
def test_transition_matrix_matches_bigram_counts(spark, seq):
    import datetime

    from airflow_loan_etl_pipeline_spark.operators.stats import (
        transition_matrix,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=i), 7, s, 0.0, "")
        for i, s in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r.from_state, r.to_state): r.n_transitions
        for r in transition_matrix(df).collect()
    }
    expect = {}
    for a, b in zip(seq, seq[1:]):
        expect[(a, b)] = expect.get((a, b), 0) + 1
    assert got == expect


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.integers(min_value=-100, max_value=100), min_size=1, max_size=40
    )
)
def test_global_prefix_sum_matches_accumulate(spark, vals):
    import itertools

    from airflow_loan_etl_pipeline_spark.operators.topk import (
        global_prefix_sum,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(5)
    got = {
        r.id: r.prefix_sum
        for r in global_prefix_sum(df, ["v", "id"], "v").collect()
    }
    order = sorted(range(len(vals)), key=lambda i: (vals[i], i))
    acc = itertools.accumulate(vals[i] for i in order)
    expect = {i: s for i, s in zip(order, acc)}
    assert got == expect


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1000, max_value=1000,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=2,
        max_size=25,
    )
)
def test_winsorized_mean_is_bounded_and_tighter(spark, vals):
    from airflow_loan_etl_pipeline_spark.operators.stats import (
        winsorized_stats,
    )

    rows = [(i, "2024-01-01", 7, "t", float(v), "") for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    )
    out = winsorized_stats(df).collect()[0]
    lo, hi = min(vals), max(vals)
    # clipped mean stays inside the raw data range (clipping can't
    # escape it) with slack for the cents quantization of thresholds
    assert lo - 0.01 <= out.mean_winsorized <= hi + 0.01
    assert out.n_events == len(vals)


@settings(**SETTINGS)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=400),   # n orders scale
            st.integers(min_value=1, max_value=10**6),  # cents per order
        ),
        min_size=1,
        max_size=20,
    )
)
def test_rfm_conserves_customers_and_bounds_scores(spark, custs):
    from airflow_loan_etl_pipeline_spark.operators.stats import rfm_segments

    rows = []
    for cid, (nord, cents) in enumerate(custs):
        n = 1 + nord % 4
        for _ in range(n):
            rows.append((cid, "1998-01-01", cents / 100.0))
    orders = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate string, o_totalprice double"
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    out = rfm_segments(orders).collect()
    assert sum(r.n_customers for r in out) == len(custs)
    for r in out:
        assert 1 <= r.r_score <= 4
        assert 1 <= r.f_score <= 4
        assert 1 <= r.m_score <= 4


@settings(**SETTINGS)
@given(
    lens=st.lists(
        st.integers(min_value=1, max_value=40), min_size=1, max_size=30
    )
)
def test_length_rebalance_buckets_exactly_min(spark, lens):
    from airflow_loan_etl_pipeline_spark.operators.text import (
        length_rebalance,
    )

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = length_rebalance(df, bucket_tokens=8).collect()
    sizes = {}
    for n in lens:
        sizes[n // 8] = sizes.get(n // 8, 0) + 1
    target = min(sizes.values())
    assert {r.bucket: r.n_docs for r in out} == sizes
    assert all(r.n_kept == target for r in out)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["w0", "w1", "w2", "w3", "w4", "w5"]),
            min_size=3,
            max_size=8,
        ),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.2, 0.4, 0.6]),
)
def test_prefix_filter_jaccard_equals_bruteforce(spark, docs, threshold):
    """Prefix filtering is LOSSLESS for any corpus and any threshold:
    identical pair set + scores to the plain quadratic generator."""
    from airflow_loan_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    rows = [
        (i, " ".join(toks), "en", "s", 0) for i, toks in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    brute = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_filter_jaccard_pairs(
            df, threshold=threshold
        ).collect()
    }
    assert pref == brute


@settings(**SETTINGS)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),   # price
            st.integers(min_value=0, max_value=8),   # size
        ),
        min_size=1,
        max_size=25,
    )
)
def test_pareto_frontier_equals_bruteforce(spark, pts):
    from airflow_loan_etl_pipeline_spark.operators.topk import pareto_frontier

    rows = [(i, float(p), s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, price double, size int")

    def dominated(p, q):
        return (
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
        )

    expected = {
        p[0] for p in rows if not any(dominated(p, q) for q in rows)
    }
    got = {
        r.id
        for r in pareto_frontier(df, min_col="price", max_col="size").collect()
    }
    assert got == expected


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-3, max_value=3),
            min_size=3,
            max_size=3,
        ).filter(lambda v: any(x != 0 for x in v)),
        min_size=3,
        max_size=12,
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_batch_topk_equals_naive_single_window(spark, vecs, k):
    """The two-stage per-query cut must equal the naive global sort for
    any corpus and k (selection commutes with the local pre-cut)."""
    import math

    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        batch_cosine_topk,
    )

    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    qids = [0]
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in batch_cosine_topk(df, query_ids=qids, k=k).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d
            / math.sqrt(
                sum(x * x for x in a) * sum(y * y for y in b)
            ),
            6,
        )

    q = rows[0][1]
    scored = sorted(
        ((cos(v, q), i) for i, v, _ in rows[1:]),
        key=lambda t: (-t[0], t[1]),
    )
    expected = {
        (0, r + 1): i for r, (_, i) in enumerate(scored[:k])
    }
    assert got == expected


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "f", "g"]),
            min_size=1,
            max_size=6,
        ),
        min_size=3,
        max_size=9,
    ),
    cut1=st.integers(min_value=1, max_value=8),
    cut2=st.integers(min_value=1, max_value=8),
)
def test_kmv_merge_associative_three_way(spark, docs, cut1, cut2):
    """merge(merge(sk(A), sk(B)), sk(C)) == sk(A ∪ B ∪ C) for ANY
    3-way split — the property that lets per-shard sketches fold in any
    order (tree reduction, streaming arrival order)."""
    from airflow_loan_etl_pipeline_spark.operators.dedup import (
        kmv_merge,
        kmv_sketch,
    )

    rows = [
        (i, " ".join(toks), "s") for i, toks in enumerate(docs)
    ]
    c1 = min(cut1, len(rows) - 2)
    c2 = min(max(cut2, c1 + 1), len(rows) - 1)
    parts = [rows[:c1], rows[c1:c2], rows[c2:]]
    schema = "doc_id long, text string, source string"
    k = 4

    def sk(rws):
        return kmv_sketch(spark.createDataFrame(rws, schema), k=k)

    direct = {
        (r.src, r.h)
        for r in sk(rows).collect()
    }
    merged_df = sk(parts[0])
    for p in parts[1:]:
        if p:
            merged_df = kmv_merge(merged_df.unionByName(sk(p)), k=k)
    merged = {(r.src, r.h) for r in merged_df.collect()}
    assert merged == direct


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z"]), min_size=1, max_size=7
        ),
        min_size=1,
        max_size=6,
    )
)
def test_dup_span_stats_matches_bruteforce(spark, docs):
    """Positional dup-span profile == a direct Python recount of
    corpus-wide trigram frequencies (within-doc repeats included)."""
    from collections import Counter

    from airflow_loan_etl_pipeline_spark.operators.dedup import dup_span_stats

    rows = [(i, " ".join(toks), "en", "s", 0) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r for r in dup_span_stats(df).collect()}

    freqs = Counter()
    grams = {}
    for i, toks in enumerate(docs):
        g = [tuple(toks[j : j + 3]) for j in range(len(toks) - 2)]
        grams[i] = g
        freqs.update(g)
    for i, g in grams.items():
        if not g:
            assert i not in got
            continue
        dup_pos = [p + 1 for p, t in enumerate(g) if freqs[t] >= 2]
        r = got[i]
        assert r.n_pos == len(g)
        assert r.n_dup_pos == len(dup_pos)
        if dup_pos:
            assert (r.first_dup_pos, r.last_dup_pos) == (
                dup_pos[0],
                dup_pos[-1],
            )


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["p", "q", "r"]), min_size=1, max_size=8
        ),
        min_size=1,
        max_size=6,
    )
)
def test_substring_cut_matches_bruteforce(spark, docs):
    """The native cut (coverage explode + anti join + reassembly) must
    equal a direct Python implementation of Lee-et-al. span removal for
    ANY corpus."""
    import hashlib
    from collections import Counter

    from airflow_loan_etl_pipeline_spark.operators.dedup import substring_cut

    rows = [(i, " ".join(t), "en", "s", 0) for i, t in enumerate(docs)]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r for r in substring_cut(df).collect()}

    freqs = Counter()
    for t in docs:
        freqs.update(tuple(t[j : j + 3]) for j in range(len(t) - 2))
    for i, t in enumerate(docs):
        covered = set()
        for j in range(len(t) - 2):
            if freqs[tuple(t[j : j + 3])] >= 2:
                covered.update((j, j + 1, j + 2))
        kept = [w for j, w in enumerate(t) if j not in covered]
        r = got[i]
        assert r.n_tokens == len(t)
        assert r.n_removed == len(covered)
        assert r.clean_md5 == hashlib.md5(" ".join(kept).encode()).hexdigest()


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.integers(min_value=-10_000, max_value=10_000),
        min_size=1,
        max_size=60,
    ),
    probs=st.lists(
        st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_twopass_percentiles_equal_exact_percentile(spark, vals, probs):
    """The shuffle-free two-pass histogram percentiles must equal
    Spark's exact `percentile` bit-for-bit on ANY integer multiset —
    including duplicate-heavy, constant, and single-element inputs."""
    from airflow_loan_etl_pipeline_spark.operators.stats import (
        exact_percentiles_twopass,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = exact_percentiles_twopass(df, "x", tuple(probs), grid=16)
    plist = ", ".join(f"{p}D" for p in probs)
    want = df.agg(
        F.expr(f"percentile(x, array({plist}))").alias("bs")
    ).collect()[0]["bs"]
    assert got == list(want), (vals, probs)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.text(
            alphabet="ab ",
            min_size=1,
            max_size=40,
        ).map(lambda s: " ".join(s.split()) or "a"),
        min_size=1,
        max_size=12,
    ),
    n_parts=st.integers(min_value=1, max_value=5),
)
def test_importance_sample_partitioning_invariant(spark, docs, n_parts):
    """quality_importance_sample's accept/reject decision must be a
    pure function of content — identical under any repartitioning
    (content-addressed u + exact fixed-point mean)."""
    from airflow_loan_etl_pipeline_spark.operators.text import (
        quality_importance_sample,
    )

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r.doc_id: r.p_accept
        for r in quality_importance_sample(df, 0.5).collect()
    }
    b = {
        r.doc_id: r.p_accept
        for r in quality_importance_sample(
            df.repartition(n_parts), 0.5
        ).collect()
    }
    assert a == b


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.sampled_from([0, 1, 2, 3, 7, 9_999, 10_000]),
        min_size=1,
        max_size=60,
    ),
    probs=st.lists(
        st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_twopass_percentiles_point_mass_refinement(spark, vals, probs):
    """Degenerate distributions — heavy ties plus outliers that
    concentrate nearly every row into ONE grid bucket — must still be
    bit-exact. refine_rows=2 forces the recursive-refinement path
    (VERDICT r3 item 2) on almost every input; the per-VALUE frequency
    ranking collapses point-mass buckets to one row either way."""
    from airflow_loan_etl_pipeline_spark.operators.stats import (
        exact_percentiles_twopass,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = exact_percentiles_twopass(
        df, "x", tuple(probs), grid=4, depth=4, refine_rows=2
    )
    plist = ", ".join(f"{p}D" for p in probs)
    want = df.agg(
        F.expr(f"percentile(x, array({plist}))").alias("bs")
    ).collect()[0]["bs"]
    assert got == list(want), (vals, probs)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-(1 << 20), max_value=1 << 20),
        ),
        min_size=1,
        max_size=60,
    ),
    probs=st.lists(
        st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_by_value_percentiles_equal_exact_percentile(spark, rows, probs):
    """The lazy hierarchical counting-sort percentiles
    (stats.exact_percentiles_by_value) must equal Spark's exact
    `percentile` bit-for-bit per group on ANY integer multiset —
    point masses, negatives, missing groups, single elements. block=16
    keeps many blocks in play so the candidate-block broadcast path is
    exercised, not just the single-block fast case."""
    from airflow_loan_etl_pipeline_spark.operators.stats import (
        exact_percentiles_by_value,
    )

    df = spark.createDataFrame(rows, "g string, x long")
    got = {
        r["g"]: (r["n"], list(r["bs"]))
        for r in exact_percentiles_by_value(
            df, "x", tuple(probs), group_cols=("g",), block=16
        ).collect()
    }
    plist = ", ".join(f"{p}D" for p in probs)
    want = {
        r["g"]: (r["n"], list(r["bs"]))
        for r in df.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"percentile(x, array({plist}))").alias("bs"),
        )
        .collect()
    }
    assert got == want, (rows, probs)


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-(1 << 20), max_value=1 << 20),
            # point masses + near-block-edge values stress the
            # straddle/whole-block split
            st.sampled_from([0, 1, 4095, 4096, 4097, 8191, 8192, -4096]),
        ),
        min_size=1,
        max_size=60,
    ),
    probs=st.lists(
        st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_equidepth_histogram_matches_bruteforce(spark, vals, probs):
    """stats.equidepth_histogram assembles per-bucket count/min/max
    from the level frames WITHOUT re-scanning the data, relying on the
    straddle-completeness argument (a block straddling a boundary must
    contain the boundary's adjacent order statistics, hence is a
    candidate block). This pins the whole construction — boundaries,
    whole-block assignment, per-value splits — against a sequential
    brute force on arbitrary integer multisets, including point masses
    and values on block edges (block=16 keeps many blocks in play)."""
    import math

    from airflow_loan_etl_pipeline_spark.operators.stats import (
        equidepth_histogram,
    )

    probs = sorted(probs)
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {
        r["bucket"]: (r["n_rows"], r["v_min"], r["v_max"])
        for r in equidepth_histogram(df, "x", tuple(probs), block=16)
        .collect()
    }

    s = sorted(float(v) for v in vals)
    n = len(s)
    bounds = []
    for p in probs:
        pos = p * (n - 1)
        lo = math.floor(pos)
        hi = math.ceil(pos)
        if pos == lo:
            bounds.append(s[lo])
        else:
            bounds.append((lo + 1 - pos) * s[lo] + (pos - lo) * s[hi])
    want: dict[int, tuple[int, float, float]] = {}
    for v in s:
        b = sum(1 for bd in bounds if v >= bd)
        if b in want:
            c, mn, mx = want[b]
            want[b] = (c + 1, min(mn, v), max(mx, v))
        else:
            want[b] = (1, v, v)
    assert got == want, (vals, probs, bounds)


def test_skew_salted_join_matches_plain_and_rejects_outer(spark):
    """Salting must be result-invariant for inner/left and reject
    right/full loudly (the dim side is replicated per salt, so an
    unmatched dim row would be emitted once per replica)."""
    import pytest

    from airflow_loan_etl_pipeline_spark.operators.joins import (
        skew_salted_join,
    )

    fact = spark.createDataFrame(
        [(i, "hot" if i % 4 else "cold") for i in range(40)],
        "fid long, k string",
    )
    dim = spark.createDataFrame(
        [("hot", 1), ("cold", 2), ("orphan", 3)], "k string, dv int"
    )
    for how in ("inner", "left", "left_outer", "leftouter"):
        got = sorted(
            (r.fid, r.dv)
            for r in skew_salted_join(fact, dim, on=["k"], salt=4, how=how)
            .select("fid", "dv")
            .collect()
        )
        want = sorted(
            (r.fid, r.dv)
            for r in fact.join(dim, on=["k"], how=how)
            .select("fid", "dv")
            .collect()
        )
        assert got == want, how
    # semi/anti are fact-preserving too: the dim side is replicated
    # across every salt, so the single (key, salt) probe hits iff the
    # key exists at all
    for how in ("left_semi", "semi", "left_anti", "anti"):
        got = sorted(
            r.fid
            for r in skew_salted_join(fact, dim, on=["k"], salt=4, how=how)
            .select("fid")
            .collect()
        )
        want = sorted(
            r.fid
            for r in fact.join(dim, on=["k"], how=how)
            .select("fid")
            .collect()
        )
        assert got == want, how
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salt replica"):
            skew_salted_join(fact, dim, on=["k"], salt=4, how=how)


@settings(**SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(
            st.sampled_from([1, 2]),                      # key
            st.integers(min_value=0, max_value=50),       # ts (s)
        ),
        min_size=1,
        max_size=15,
    ),
    rights=st.lists(
        st.tuples(
            st.sampled_from([1, 2]),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=-9, max_value=9),       # payload
        ),
        min_size=0,
        max_size=15,
    ),
)
def test_asof_join_matches_sequential_reference(spark, lefts, rights):
    """Backward AND forward as-of joins must equal the sequential
    definition for every input: per left row, the right row with the
    max ts <= left ts (backward) / min ts >= left ts (forward) on the
    same key. Right side deduped to one row per (key, ts) — the
    operators' documented determinism contract."""
    from datetime import datetime, timezone

    from airflow_loan_etl_pipeline_spark.operators.asof import (
        asof_join,
        asof_join_forward,
    )

    def dt(s):
        # naive UTC datetimes: the session TZ is UTC, and collect()
        # returns naive values — keep both sides comparable
        return datetime.fromtimestamp(
            1_700_000_000 + s, tz=timezone.utc
        ).replace(tzinfo=None)

    # unique right rows per (key, ts): keep max payload
    rmap = {}
    for k, ts, v in rights:
        rmap[(k, ts)] = max(rmap.get((k, ts), -99), v)
    rrows = [(k, dt(ts), v) for (k, ts), v in sorted(rmap.items())]
    lrows = [(i, k, dt(ts)) for i, (k, ts) in enumerate(lefts)]
    left = spark.createDataFrame(
        lrows, "lid long, user_id long, l_ts timestamp"
    )
    right = spark.createDataFrame(
        rrows or [(None, None, None)],
        "user_id long, r_ts timestamp, payload long",
    ).filter(F.col("user_id").isNotNull())

    back = {
        r.lid: (r.asof_ts, r.asof_payload)
        for r in asof_join(
            left, right, ["user_id"], "l_ts", "r_ts", ["payload"], how="left"
        ).collect()
    }
    fwd = {
        r.lid: (r.asof_ts, r.asof_payload)
        for r in asof_join_forward(
            left, right, ["user_id"], "l_ts", "r_ts", ["payload"], how="left"
        ).collect()
    }
    for i, (k, ts) in enumerate(lefts):
        past = [(t, v) for (kk, t), v in rmap.items() if kk == k and t <= ts]
        exp_b = max(past) if past else None
        got_b = back[i]
        if exp_b is None:
            assert got_b == (None, None), (i, got_b)
        else:
            assert got_b == (dt(exp_b[0]), exp_b[1]), (i, got_b, exp_b)
        future = [(t, v) for (kk, t), v in rmap.items() if kk == k and t >= ts]
        exp_f = min(future) if future else None
        got_f = fwd[i]
        if exp_f is None:
            assert got_f == (None, None), (i, got_f)
        else:
            assert got_f == (dt(exp_f[0]), exp_f[1]), (i, got_f, exp_f)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z"]), min_size=1, max_size=5
        ),
        min_size=2,
        max_size=12,
    )
)
def test_blowup_triangles_equal_definitional(spark, docs):
    """The quotient-graph triangle count (blowup_triangle_participation
    over exact-text groups) equals the definitional doc-level wedge
    closure for any document multiset — the tiny alphabet forces both
    duplicate texts (group cliques) and near-dup cross edges."""
    from airflow_loan_etl_pipeline_spark.operators import dedup as D
    from airflow_loan_etl_pipeline_spark.operators import graph as G

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    definitional = {
        r.doc_id: r.n_triangles
        for r in G.triangle_participation(
            D.minhash_lsh_pairs(df)
        ).collect()
    }
    members, rep_edges = D.text_group_graph(df)
    got = {
        r.doc_id: r.n_triangles
        for r in G.blowup_triangle_participation(members, rep_edges).collect()
    }
    assert got == definitional


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z"]), min_size=1, max_size=5
        ),
        min_size=2,
        max_size=12,
    )
)
def test_blowup_degree_histogram_equals_definitional(spark, docs):
    """The quotient-graph degree histogram (blowup_degree_histogram,
    r13) equals the definitional doc-level explode+count bucketing for
    any document multiset."""
    from airflow_loan_etl_pipeline_spark.operators import dedup as D
    from airflow_loan_etl_pipeline_spark.operators import graph as G
    from pyspark.sql import functions as F

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(df)
    deg = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    definitional = {
        r.log2_degree: (r.n_docs, r.max_degree)
        for r in deg.groupBy(
            F.floor(F.log2("degree")).cast("int").alias("log2_degree")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("degree").alias("max_degree"),
        )
        .collect()
    }
    members, rep_edges = D.text_group_graph(df)
    got = {
        r.log2_degree: (r.n_docs, r.max_degree)
        for r in G.blowup_degree_histogram(members, rep_edges).collect()
    }
    assert got == definitional


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z"]), min_size=1, max_size=5
        ),
        min_size=2,
        max_size=12,
    )
)
def test_blowup_pagerank_equals_definitional(spark, docs):
    """Quotient-iterated PageRank (blowup_pagerank over exact-text
    groups) matches the doc-level fixed-iteration pagerank on the
    expanded symmetrized pair list to 6 rounded decimals (the output
    contract) and to 1e-9 absolute on the raw recurrence."""
    from airflow_loan_etl_pipeline_spark.operators import dedup as D
    from airflow_loan_etl_pipeline_spark.operators import graph as G

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = D.minhash_lsh_pairs(df)
    edges = p.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        p.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    definitional = {
        r.doc_id: r.rank for r in G.pagerank(df, edges).collect()
    }
    members, rep_edges = D.text_group_graph(df)
    got = {
        r.doc_id: r.rank
        for r in G.blowup_pagerank(members, rep_edges).collect()
    }
    assert set(got) == set(definitional)
    for k, v in got.items():
        assert abs(v - definitional[k]) < 1e-9, (k, v, definitional[k])


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z"]), min_size=1, max_size=5
        ),
        min_size=2,
        max_size=12,
    )
)
def test_blowup_k_hop_reach_equals_definitional(spark, docs):
    """Quotient-BFS 3-hop reach (blowup_k_hop_reach over exact-text
    groups) equals the doc-level set-semantics BFS on the expanded
    uncapped pair list."""
    from airflow_loan_etl_pipeline_spark.operators import dedup as D
    from airflow_loan_etl_pipeline_spark.operators import graph as G

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    definitional = {
        r.doc_id: r.n_reachable
        for r in G.k_hop_reach(D.minhash_lsh_pairs(df), hops=3).collect()
    }
    members, rep_edges = D.text_group_graph(df)
    got = {
        r.doc_id: r.n_reachable
        for r in G.blowup_k_hop_reach(members, rep_edges, hops=3).collect()
    }
    assert got == definitional


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z"]), min_size=1, max_size=5
        ),
        min_size=2,
        max_size=12,
    )
)
def test_quotient_clusters_equal_definitional(spark, docs):
    """dup_clusters_text_quotient (pointer jumping on the exact-text
    quotient graph) assigns the same (doc_id, cluster_id) labels as the
    definitional doc-level propagation over the expanded pair list."""
    from airflow_loan_etl_pipeline_spark.operators import dedup as D

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    definitional = {
        r.doc_id: r.cluster_id
        for r in D.dup_clusters(df, D.minhash_lsh_pairs(df)).collect()
    }
    got = {
        r.doc_id: r.cluster_id
        for r in D.dup_clusters_text_quotient(df).collect()
    }
    assert got == definitional


@settings(**SETTINGS)
@given(
    sigs=st.lists(
        # Mix a tiny range (forces duplicate signatures + hamming<=3
        # neighbours — the r9 dedup-first path) with the full 32-bit
        # space (forces distinct signatures through the combo tables).
        st.one_of(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=(1 << 32) - 1),
        ),
        min_size=2,
        max_size=20,
    ),
)
def test_hamming_pairs_equals_bruteforce(spark, sigs):
    """Losslessness of the uncapped pair generator (r9: signature-dedup
    + 3-of-6 combo tables, Manku-style): for any signature MULTISET,
    uncapped hamming_pairs equals the brute-force O(n²) popcount scan —
    duplicate signatures exercise the output-sized hamming-0 group
    expansion and the cross-signature doc expansion. With a cap, a pair
    survives iff SOME shared 8-bit band's bucket is within the cap (the
    documented capped semantics, unchanged by r9)."""
    import itertools

    from airflow_loan_etl_pipeline_spark.operators.dedup import (
        hamming_pairs,
    )

    rows = [(i, s) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    brute = {
        (a, b, bin(sa ^ sb).count("1"))
        for (a, sa), (b, sb) in itertools.combinations(rows, 2)
        if bin(sa ^ sb).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_pairs(df).collect()
    }
    assert got == brute
    # capped: recompute the banded expectation with max_bucket=2
    cap = 2
    buckets = {}
    for i, s in rows:
        for band in range(4):
            buckets.setdefault((band, (s >> (band * 8)) % 256), []).append(i)
    small = {k for k, v in buckets.items() if len(v) <= cap}
    exp_capped = set()
    for (a, sa), (b, sb) in itertools.combinations(rows, 2):
        h = bin(sa ^ sb).count("1")
        if h > 3:
            continue
        for band in range(4):
            key = (band, (sa >> (band * 8)) % 256)
            if key in small and (sb >> (band * 8)) % 256 == key[1]:
                exp_capped.add((a, b, h))
                break
    got_capped = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_pairs(df, max_bucket=cap).collect()
    }
    assert got_capped == exp_capped


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(                                      # user (or NULL)
                st.integers(min_value=0, max_value=9), st.none()
            ),
            st.sampled_from(["s0", "s1", "s2", "s3"]),      # segment
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_audience_overlap_matches_set_intersection(spark, rows):
    """The single-scan pair-expansion overlap (self-pair carries the
    segment size) must equal brute-force per-segment user-set
    intersection for every membership multiset — including repeated
    (user, segment) rows, users in one segment only, segments with
    identical audiences, and NULL users (which an equi-self-join never
    matches, so they must contribute nothing — ADVICE r8)."""
    import itertools
    import math

    from airflow_loan_etl_pipeline_spark.operators.stats import (
        audience_overlap,
    )

    df = spark.createDataFrame(rows, "user_id int, event_type string")
    members: dict[str, set[int]] = {}
    for u, s in rows:
        if u is None:
            continue
        members.setdefault(s, set()).add(u)
    expected = {}
    for a, b in itertools.combinations(sorted(members), 2):
        inter = len(members[a] & members[b])
        if inter:
            na, nb = len(members[a]), len(members[b])
            jac = math.floor(inter * 1e4 / (na + nb - inter)) / 1e4
            expected[(a, b)] = (inter, na, nb, jac)
    got = {
        (r.type_a, r.type_b): (r.n_both, r.n_a, r.n_b, r.jaccard)
        for r in audience_overlap(df, "event_type", "user_id").collect()
    }
    assert got == expected


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z", "w"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    ),
)
def test_pmi_bigram_counts_match_sequential_zip(spark, docs):
    """The map-side arrays_zip bigram extraction must count exactly the
    adjacent pairs a sequential zip produces — across 1-token docs (no
    pairs), repeated tokens, and corpora where a bigram never repeats."""
    from collections import Counter

    from airflow_loan_etl_pipeline_spark.operators.text import pmi_bigrams

    rows = [(str(i), " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    expected = Counter()
    for toks in docs:
        expected.update(zip(toks, toks[1:]))
    got = {
        (r.w1, r.w2): r.c_ab
        for r in pmi_bigrams(df, top=1000, min_count=1).collect()
    }
    assert got == dict(expected)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
            st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        ),
        min_size=2,
        max_size=25,
    ),
)
def test_safe_corr_matches_pearson_and_nulls_on_degenerate(spark, rows):
    """safe_corr must equal textbook Pearson over COMPLETE pairs
    (rows where either side is null are excluded from the moments —
    the lag-null subtlety) and yield NULL, never a DIVIDE_BY_ZERO
    error, when a side is constant or fewer than two complete pairs
    exist."""
    import math

    from airflow_loan_etl_pipeline_spark.operators.stats import safe_corr

    df = spark.createDataFrame(
        [(float(a) if a is not None else None,
          float(b) if b is not None else None) for a, b in rows],
        "x double, y double",
    )
    got = df.agg(safe_corr("x", "y").alias("c")).collect()[0].c

    pairs = [(a, b) for a, b in rows if a is not None and b is not None]
    if len(pairs) < 2:
        assert got is None
        return
    n = len(pairs)
    mx = sum(a for a, _ in pairs) / n
    my = sum(b for _, b in pairs) / n
    sxx = sum((a - mx) ** 2 for a, _ in pairs)
    syy = sum((b - my) ** 2 for _, b in pairs)
    sxy = sum((a - mx) * (b - my) for a, b in pairs)
    if sxx == 0 or syy == 0:
        assert got is None
        return
    expected = sxy / math.sqrt(sxx * syy)
    assert got is not None
    assert abs(got - expected) < 1e-9


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ).filter(lambda e: e[0] < e[1]),
        min_size=1,
        max_size=20,
    ),
    hops=st.integers(min_value=1, max_value=4),
)
def test_k_hop_reach_matches_bfs(spark, edges, hops):
    """The iterative frontier expansion must equal textbook BFS
    reachability-within-k on every undirected graph — including
    cliques (where the retired recursive CTE's path enumeration blew
    the recursion row limit), cycles, and disconnected components."""
    from collections import deque

    from airflow_loan_etl_pipeline_spark.operators.graph import k_hop_reach

    df = spark.createDataFrame(edges, "doc_a int, doc_b int")
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    for s in adj:
        seen = {s}
        q = deque([(s, 0)])
        while q:
            u, d = q.popleft()
            if d == hops:
                continue
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    q.append((v, d + 1))
        expected[s] = len(seen) - 1
    got = {
        r.doc_id: r.n_reachable
        for r in k_hop_reach(df, hops=hops).collect()
    }
    assert got == expected


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),   # orderkey
            st.integers(min_value=1, max_value=4),   # suppkey
            st.integers(min_value=0, max_value=3),   # shipdate (day) - tiny domain forces ties
        ),
        min_size=1,
        max_size=30,
    ),
    statuses=st.lists(st.sampled_from(["F", "O"]), min_size=6, max_size=6),
)
def test_q21_top2_rewrite_matches_exists_semantics(spark, rows, statuses):
    """The per-order top-2 aggregate rewrite must equal the
    definitional correlated EXISTS/NOT EXISTS row filter on every
    multiset — including ship-date TIES between suppliers (both tie
    orders qualify: `later` is strict), single-supplier orders
    (excluded), duplicate (order, supplier, date) rows, and orders
    filtered out by status."""
    from datetime import datetime

    from airflow_loan_etl_pipeline_spark.registry_sql import _Q21_SPARK

    li = [
        (ok, sk, datetime(1996, 1, 1 + d))
        for ok, sk, d in rows
    ]
    orders = [(ok, statuses[ok - 1]) for ok in range(1, 7)]
    supps = [(sk, f"SUPP_{sk}") for sk in range(1, 5)]
    spark.createDataFrame(
        li, "l_orderkey long, l_suppkey long, l_shipdate timestamp"
    ).createOrReplaceTempView("lineitem")
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderstatus string"
    ).createOrReplaceTempView("orders")
    spark.createDataFrame(
        supps, "s_suppkey long, s_name string"
    ).createOrReplaceTempView("supplier")

    # brute force the definitional semantics in python
    from collections import defaultdict

    status = dict(orders)
    by_order = defaultdict(list)
    for ok, sk, d in li:
        by_order[ok].append((sk, d))
    counts = defaultdict(int)
    for ok, sk, d in li:
        if status[ok] != "F":
            continue
        others = [(s2, d2) for s2, d2 in by_order[ok] if s2 != sk]
        if not others:
            continue
        if any(d2 > d for _, d2 in others):
            continue
        counts[f"SUPP_{sk}"] += 1
    expected = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[:10]
    got = [
        (r.s_name, r.numwait)
        for r in spark.sql(_Q21_SPARK).collect()
    ]
    assert got == [(n, c) for n, c in expected]


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-5, max_value=5).map(float),
            min_size=3, max_size=3,
        ),
        min_size=2, max_size=14,
    ),
    sample=st.sampled_from([None, 4, 8]),
)
def test_kmeans_train_matches_pure_python_lloyd(spark, vecs, sample):
    """The driver-side Lloyd loop (round 10) must equal a sequential
    pure-python replay of the SAME recurrence for ANY vector multiset:
    seeds = k lowest-id vectors (of the md5-rank sample when sampling),
    assignment = argmax cosine with cid-ascending tie-break (zero-norm
    vectors have NULL cosine and never beat a real score), means
    rounded to 6 dp, empty clusters keep their previous centroid,
    n_members from the final full assignment (sampled) or the
    penultimate-centroid assignment (unsampled) — pinning the
    operator's semantics independently of BOTH Spark plan shape and
    the DuckDB oracle."""
    import hashlib
    import math

    from airflow_loan_etl_pipeline_spark.operators import similarity as S

    k, iters = 3, 2
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["cid"]: (r["n_members"], list(r["centroid"]))
        for r in S.kmeans_train(
            df, n_centroids=k, n_iters=iters, train_sample_size=sample
        ).collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))
        return None if na == 0 else dot / na

    def assign(data, cents):
        out = {}
        for i, v in data:
            best = None  # (ccos, -cid) lexicographic max, None ccos loses
            for cid in sorted(cents):
                c = cents[cid]
                s = None if c is None else cos(v, c)
                key = ((s is not None, s if s is not None else 0.0), -cid)
                if best is None or key > best[0]:
                    best = (key, cid)
            out[i] = best[1]
        return out

    if sample is not None:
        train = sorted(
            rows,
            key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
        )[:sample]
    else:
        train = rows
    cents = {
        cid: v
        for cid, (_i, v) in enumerate(sorted(train)[:k])
    }
    prev = cents
    for _ in range(iters):
        prev = cents
        a = assign(train, cents)
        new = {}
        for cid in cents:
            members = [v for i, v in train if a[i] == cid]
            if members:
                new[cid] = [
                    round(sum(m[d] for m in members) / len(members), 6)
                    for d in range(3)
                ]
            else:
                new[cid] = cents[cid]
        cents = new
    if sample is not None:
        final_assign = assign(rows, cents)
    else:
        final_assign = assign(rows, prev)
    expect = {
        cid: (
            sum(1 for i in final_assign.values() if i == cid),
            cents[cid],
        )
        for cid in cents
    }
    assert set(got) == set(expect)
    for cid in expect:
        assert got[cid][0] == expect[cid][0], (cid, got, expect)
        for gx, ex in zip(got[cid][1], expect[cid][1]):
            assert abs(gx - ex) < 1e-9, (cid, got, expect)


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.sampled_from([
            "alpha beta gamma delta",
            "alpha beta gamma epsilon",
            "zeta eta theta iota kappa",
            "mu nu xi omicron pi rho",
        ]),
        min_size=2, max_size=24,
    ),
    cap=st.integers(min_value=1, max_value=6),
)
def test_max_group_valve_equals_filtered_bruteforce(spark, texts, cap):
    """Mega-group valve semantics for ANY corpus and cap: the
    group-capped generator equals the uncapped generator run over the
    corpus with every text occurring more than ``cap`` times removed."""
    from airflow_loan_etl_pipeline_spark.operators import dedup as D

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts: dict[str, int] = {}
    for _i, t in rows:
        counts[t] = counts.get(t, 0) + 1
    kept = [(i, t) for i, t in rows if counts[t] <= cap]
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            df, n=2, threshold=0.0, max_group=cap
        ).collect()
    }
    if kept:
        kept_df = spark.createDataFrame(kept, "doc_id long, text string")
        expect = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in D.ngram_jaccard_pairs(
                kept_df, n=2, threshold=0.0
            ).collect()
        }
    else:
        expect = set()
    assert got == expect


@settings(**SETTINGS)
@given(
    mults=st.lists(st.integers(min_value=1, max_value=6), min_size=1,
                   max_size=6),
    ppd=st.sampled_from([0.0, 0.5, 1.0, 3.0]),
)
def test_auto_max_group_equals_hand_cap_at_derived_cap(spark, mults, ppd):
    """The auto-sized valve (round 11) is pure policy sugar: for ANY
    corpus and pair-mass budget, max_group="auto" equals the hand-capped
    generator at the cap auto_max_group derives — and that cap satisfies
    the policy (cumulative within-group pair mass of admitted sizes
    within pairs_per_doc x N; the next size, if any, exceeds it)."""
    from airflow_loan_etl_pipeline_spark.operators import dedup as D

    # distinct base texts, each duplicated mults[k] times
    rows = []
    for k, m in enumerate(mults):
        text = f"alpha bravo text{k} charlie delta echo{k}"
        for c in range(m):
            rows.append((k * 10 + c, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap = D.auto_max_group(df, pairs_per_doc=ppd)

    # policy invariants, recomputed in pure python
    n = len(rows)
    hist: dict[int, int] = {}
    for m in mults:
        hist[m] = hist.get(m, 0) + 1
    cum, expect_cap = 0, 1
    for g in sorted(hist):
        cum += hist[g] * g * (g - 1) // 2
        if cum > ppd * n:
            break
        expect_cap = g
    assert cap == expect_cap

    auto = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            df, n=2, threshold=0.0, max_group="auto"
        ).collect()
    }
    # operator default budget is PAIR_MASS_PER_DOC; recompute the cap
    # it derives and compare against the hand-capped run at that cap
    default_cap = D.auto_max_group(df)
    hand = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            df, n=2, threshold=0.0, max_group=default_cap
        ).collect()
    }
    assert auto == hand
