"""llm/retrieval.py — BM25 / TF-IDF unit behavior.

The rational-idf modes are oracle-gated in the suite (q_text_bm25,
q_text_tfidf); here we cover the ln modes (no cross-engine oracle —
transcendental), hand-computed values, degenerate inputs, and the
plan shape."""

import math

import pytest
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.llm.retrieval import (
    bm25_topk,
    doc_postings,
    tfidf_topk_terms,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id long, query string")


def test_doc_postings_counts_and_lengths(spark):
    d = _docs(spark, [(1, "a b a"), (2, "b"), (3, "   "), (4, None)])
    rows = {(r.id, r.term): (r.tf, r.dl) for r in doc_postings(d).collect()}
    # blank / NULL docs vanish entirely (split of '' -> [''] filtered)
    assert rows == {(1, "a"): (2, 3), (1, "b"): (1, 3), (2, "b"): (1, 1)}


def test_bm25_ln_hand_computed(spark):
    # one query term 'x': doc 1 has tf=2, dl=2; doc 2 has tf=1, dl=4;
    # doc 3 no hit. N=3, S=2+4+3=9, avgdl=3, df=2.
    d = _docs(spark, [(1, "x x"), (2, "x y z w"), (3, "y y z")])
    out = bm25_topk(d, _queries(spark, [(0, "x")]), idf_mode="ln").collect()
    got = {r.doc_id: r.score for r in out}
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))

    def tfp(tf, dl):
        return tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))

    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(idf * tfp(2, 2), rel=1e-12)
    assert got[2] == pytest.approx(idf * tfp(1, 4), rel=1e-12)
    ranks = {r.doc_id: r.rank for r in out}
    assert ranks == {1: 1, 2: 2}  # higher tf, shorter doc wins


def test_bm25_rational_and_ln_agree_on_ranking(spark, sf_dir):
    # SINGLE-term queries only: for one term, both modes' scores are
    # the same monotone function of (tf, dl) times a positive idf, so
    # rank order is provably identical. Multi-term queries sum scores
    # under two DIFFERENT monotone idf transforms, where order
    # agreement is corpus-dependent — asserting it was a latent flake
    # (r7 ADVICE finding).
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = _queries(spark, [(0, "hash"), (1, "vector")])
    r1 = bm25_topk(d, q, top_k=5, idf_mode="rational").collect()
    r2 = bm25_topk(d, q, top_k=5, idf_mode="ln").collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.doc_id) for r in rows)  # noqa: E731
    assert key(r1) == key(r2)


def test_bm25_rational_high_tf_no_ansi_overflow(spark):
    # r7 ADVICE: the BIGINT formulation of 22·S·tf aborted under ANSI
    # once S·tf > ~4.2e17 — one spammy doc with tf ~2e4 at corpus
    # scale. The DECIMAL(38,0) products must survive a doc whose
    # S·tf alone overflows BIGINT. Build tf=5e5 on a doc, then check
    # against an exact-arithmetic python replay of the algebra.
    tf_big = 500_000
    d = _docs(
        spark,
        [(1, " ".join(["x"] * tf_big)), (2, "x " + "y " * 50), (3, "y z")],
    )
    # force S·tf past 2^63 by inflating S with filler docs of distinct
    # terms is impractical at unit scale; instead verify (a) the query
    # runs under ANSI with a very large tf and (b) the score equals
    # the exact-integer replay (floor(1e6·idf·22STf/(10STf+3S+9·dl·N)))
    out = {
        r.doc_id: r.score_fp
        for r in bm25_topk(d, _queries(spark, [(0, "x")]), idf_mode="rational").collect()
    }
    N, S = 3, tf_big + 51 + 2
    df_x = 2
    idf = (2 * N - 2 * df_x + 1) / (2 * df_x + 1)

    def score(tf, dl):
        return math.floor(1e6 * idf * ((22 * S * tf) / (10 * S * tf + 3 * S + 9 * dl * N)))

    assert out == {1: score(tf_big, tf_big), 2: score(1, 51)}


def test_rational_part_past_bigint_range(spark):
    # the ADVICE scenario verbatim: S=1e13 corpus tokens (~100 TB of
    # text), one spammy doc with tf=1e5 → 22·S·tf = 2.2e19 > 2^63.
    # The old BIGINT products aborted here under ANSI; DECIMAL(38,0)
    # must return the exact value (python int arithmetic is the
    # ground truth — both sides do one correctly-rounded double cast
    # of an exact integer, then one exactly-rounded division).
    from pyspark_pipeline_framework_spark.llm.retrieval import _rational_part

    N, S, dfq, tf, dl = 10**9, 10**13, 10**6, 10**5, 10**6
    col = _rational_part(
        *(F.lit(v).cast("bigint") for v in (N, S, dfq, tf, dl))
    )
    (got,) = spark.range(1).select(col.alias("s")).collect()[0]
    idf = float(2 * N - 2 * dfq + 1) / float(2 * dfq + 1)
    tfp = float(22 * S * tf) / float(10 * S * tf + 3 * S + 9 * dl * N)
    assert got == math.floor(1e6 * idf * tfp)


def test_wide_int_to_double_cast_correctly_rounded(spark):
    # the DECIMAL(38,0)→double (Spark) and HUGEINT→double (DuckDB
    # oracle) casts must both be correctly rounded for the rational
    # BM25 bit-exactness claim to hold past BIGINT range
    import duckdb

    vals = [2**63, 2**63 + 1, 2**64 - 1, 10**25 + 3, 10**30 + 7,
            22 * 10**16 * 12345, 10**37, 3**70, 7**40 + 11]
    df = spark.createDataFrame([(str(v),) for v in vals], "s string")
    got = df.select(F.col("s").cast("decimal(38,0)").cast("double").alias("d"), "s").collect()
    for r in got:
        assert r.d == float(int(r.s)), f"spark decimal cast misrounds {r.s}"
    con = duckdb.connect()
    for v in vals:
        (d,) = con.execute(f"SELECT CAST(CAST('{v}' AS HUGEINT) AS DOUBLE)").fetchone()
        assert d == float(v), f"duckdb hugeint cast misrounds {v}"


def test_bm25_query_term_set_semantics(spark):
    d = _docs(spark, [(1, "x y"), (2, "y z")])
    once = bm25_topk(d, _queries(spark, [(0, "x")]), idf_mode="ln").collect()
    twice = bm25_topk(d, _queries(spark, [(0, "x x X")]), idf_mode="ln").collect()
    assert [(r.doc_id, r.score) for r in once] == [(r.doc_id, r.score) for r in twice]


def test_bm25_no_matching_terms_is_empty(spark):
    d = _docs(spark, [(1, "x y")])
    assert bm25_topk(d, _queries(spark, [(0, "zzz qqq")]), idf_mode="ln").count() == 0


def test_bm25_bad_mode_raises(spark):
    d = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError, match="idf_mode"):
        bm25_topk(d, _queries(spark, [(0, "x")]), idf_mode="log2")
    with pytest.raises(ValueError, match="idf_mode"):
        tfidf_topk_terms(d, idf_mode="log2")


def test_tfidf_rare_term_wins(spark):
    # 'rare' appears in 1 of 3 docs, 'common' in all 3; within doc 1
    # both have tf=1 -> rare must outrank common in both modes
    d = _docs(spark, [(1, "rare common"), (2, "common"), (3, "common")])
    for mode in ("rational", "ln"):
        rows = tfidf_topk_terms(d, top_n=2, idf_mode=mode).collect()
        d1 = sorted((r.rank, r.term) for r in rows if r.doc_id == 1)
        assert [t for _, t in d1] == ["rare", "common"]


def test_bm25_plan_broadcasts_query_side(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = _queries(spark, [(0, "hash join")])
    plan = bm25_topk(d, q, idf_mode="rational")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # query terms / dfreq / stats side
    assert "CartesianProduct" not in plan  # the stats crossJoin is a broadcast NLJ


# ------------------------------------------------------- semantic dedup

def test_semantic_dedup_finds_planted_near_dup(spark):
    from pyspark_pipeline_framework_spark.llm.similarity import semantic_dedup_pairs

    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16)).astype("float64")
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # plant: vec 100 = vec 0 + tiny noise -> cosine ~1, same cell
    rows.append((100, [float(x) for x in base[0] + 0.01 * rng.standard_normal(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(
        emb, dim=16, threshold=0.95, nlist=4, train_sample=32
    ).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 100)]
    assert pairs[0].cos_sim > 0.99


def test_semantic_dedup_pairs_feed_dedup_clusters(spark):
    from pyspark_pipeline_framework_spark.llm.dedup import dedup_clusters
    from pyspark_pipeline_framework_spark.llm.similarity import semantic_dedup_pairs

    v = [1.0] * 8
    emb = spark.createDataFrame(
        [(1, v), (2, v), (3, [1.0] * 4 + [-1.0] * 4)],
        "vec_id long, embedding array<double>",
    )
    pairs = semantic_dedup_pairs(emb, dim=8, threshold=0.99, nlist=2, train_sample=8)
    dec = dedup_clusters(
        emb, pairs.select(F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")),
        id_col="vec_id",
    )
    dup = {r.vec_id: r.is_duplicate for r in dec.collect()}
    assert dup == {1: False, 2: True, 3: False}  # min id survives the dup cluster


def test_semantic_dedup_small_magnitude_prefilter_lossless(spark):
    # r7 ADVICE regression: with elements ~1e-6 the fixed-point cosine
    # can exceed the float64 gram cosine by >1e-6 (norm quantization
    # inflates, numerator quantization deflates — net fluctuates at
    # ~1% of the score at this magnitude). The pair below (rng seed 7)
    # has float cos 0.9011040 < thr-1e-6 but fixed-point cos 0.9016771
    # >= thr=0.901391 — the old FIXED 1e-6 prefilter margin dropped
    # it; the per-pair norm-derived margin must keep it.
    import numpy as np

    from pyspark_pipeline_framework_spark.llm.similarity import semantic_dedup_pairs

    r = np.random.default_rng(7)
    a = r.uniform(0.5e-6, 1.5e-6, 16)
    b = r.uniform(0.5e-6, 1.5e-6, 16)
    thr = 0.901391

    def fp_cos(x, y):
        d = lambda u, v: np.sum(np.floor(u * v * 1e14)) / 1e14  # noqa: E731
        return d(x, y) / (np.sqrt(d(x, x)) * np.sqrt(d(y, y)))

    assert fp_cos(a, b) >= thr  # construction still holds
    assert (a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)) < thr - 1e-6
    emb = spark.createDataFrame(
        [(0, [float(x) for x in a]), (1, [float(x) for x in b])],
        "vec_id long, embedding array<double>",
    )
    pairs = semantic_dedup_pairs(
        emb, dim=16, threshold=thr, nlist=1, train_sample=2
    ).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]
    assert pairs[0].cos_sim == fp_cos(a, b)


def test_semantic_dedup_exact_equals_naive_join_small_vectors(spark):
    # the prefilter+rescore must be bit-identical to the
    # naive all-pairs decimal-exact join at ANY vector magnitude
    import numpy as np

    from pyspark_pipeline_framework_spark.llm.similarity import (
        cosine_similarity,
        semantic_dedup_pairs,
    )

    r = np.random.default_rng(11)
    rows = [(i, [float(x) for x in r.uniform(0.5e-6, 1.5e-6, 8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    thr = 0.9
    got = {
        (p.id_a, p.id_b): p.cos_sim
        for p in semantic_dedup_pairs(
            emb, dim=8, threshold=thr, nlist=1, train_sample=40
        ).collect()
    }
    a, b = emb.alias("a"), emb.alias("b")
    naive = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_similarity(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        )
        .filter(F.col("c") >= thr)
    )
    want = {(p.id_a, p.id_b): p.c for p in naive.collect()}
    assert got == want and len(want) > 0


def test_semantic_dedup_zero_norm_vectors_excluded(spark):
    # all-zero AND sub-resolution (|x| < 1e-7 -> fixed-point norm 0)
    # vectors must be excluded from pair scoring: 0/0 is
    # NULL in Spark but NaN (> any threshold) in DuckDB, so filtering
    # is the only portable semantic (r7 ADVICE)
    from pyspark_pipeline_framework_spark.llm.similarity import semantic_dedup_pairs

    v = [1.0] * 8
    emb = spark.createDataFrame(
        [(1, v), (2, v), (3, [0.0] * 8), (4, [1e-8] * 8)],
        "vec_id long, embedding array<double>",
    )
    pairs = semantic_dedup_pairs(
        emb, dim=8, threshold=-1.0, nlist=1, train_sample=4
    ).collect()
    assert {i for p in pairs for i in (p.id_a, p.id_b)} == {1, 2}


def test_ivf_exact_trainer_zero_norm_rows_no_nan(spark):
    # r8 magnitude-fuzz finding: a training row whose FIXED-POINT norm
    # is 0 (every |element| < 1e-7) divided by zero in the exact
    # trainer's normalize -> NaN centroids -> undefined integer dots.
    # The guard keeps such rows unnormalized; centroids must be finite
    # and the model must still replay deterministically.
    import numpy as np

    from pyspark_pipeline_framework_spark.llm.similarity import ivf_train_centroids

    rows = [(i, [1e-8 * ((i + j) % 3) for j in range(8)]) for i in range(16)]
    # mix in a few above-resolution vectors (the mixed regime)
    rows += [(100 + i, [0.1 * ((i + j) % 5) for j in range(8)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C1 = ivf_train_centroids(emb, dim=8, nlist=4, train_iters=2, train_sample=24)
    C2 = ivf_train_centroids(emb, dim=8, nlist=4, train_iters=2, train_sample=24)
    assert np.isfinite(C1).all()
    assert (C1 == C2).all()


def test_semantic_dedup_empty_corpus(spark):
    from pyspark_pipeline_framework_spark.llm.similarity import semantic_dedup_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_dedup_pairs(empty, dim=8, nlist=2).count() == 0


# ------------------------------------------------- bloom decontamination

def test_bloom_decontaminate_one_sided_vs_exact(spark, sf_dir):
    from pyspark_pipeline_framework_spark.llm.dedup import (
        bloom_decontaminate,
        decontaminate,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train, ev = d.filter(F.col("source") != "src0"), d.filter(F.col("source") == "src0")
    exact = {r.id: r.n_matched for r in decontaminate(train, ev).collect()}
    # tiny filter: heavy false positives allowed, false negatives never
    small = {r.id: r.n_maybe for r in
             bloom_decontaminate(train, ev, m_bits=4096).collect()}
    assert set(small) == set(exact)
    assert all(small[i] >= exact[i] for i in exact)
    # big filter: fp rate ~(kE/m)^k ~ 0 -> counts collapse to exact
    big = {r.id: r.n_maybe for r in
           bloom_decontaminate(train, ev, m_bits=1 << 24).collect()}
    assert big == exact


def test_bloom_decontaminate_flags_verbatim_copy(spark):
    from pyspark_pipeline_framework_spark.llm.dedup import bloom_decontaminate

    ev = spark.createDataFrame([(0, "alpha beta gamma delta epsilon zeta")],
                               "doc_id long, text string")
    tr = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),   # verbatim
         (2, "totally different words here none shared at all")],
        "doc_id long, text string")
    out = {r.id: r.maybe_contaminated for r in bloom_decontaminate(tr, ev).collect()}
    assert out[1] is True
    assert out[2] is False  # m=2^20, 4 shingles set -> fp ~0


def test_bloom_decontaminate_param_validation(spark):
    from pyspark_pipeline_framework_spark.llm.dedup import bloom_decontaminate

    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k_hashes"):
        bloom_decontaminate(d, d, k_hashes=0)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_decontaminate(d, d, m_bits=1)


def test_doc_postings_single_exchange(spark, sf_dir):
    # the dl-rides-the-explode optimization: postings (id, term, tf,
    # dl) must cost exactly ONE exchange — a second corpus-wide
    # exchange (the old window-by-doc formulation) is the biggest
    # avoidable shuffle in the scoring plan at corpus scale
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = doc_postings(d)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan


def test_corpus_stats_subtree_has_no_explode(spark, sf_dir):
    # the map-side corpus-constants branch (r12 §3): n_docs/s_total must
    # come from the pre-explode token arrays — no Generate (explode) and
    # no exchange beyond the single-partition final aggregate. A refactor
    # that reintroduces the postings subtree here re-pays the corpus-wide
    # (id, term) exchange at 100 TB just to produce two scalars.
    from pyspark_pipeline_framework_spark.llm.retrieval import _corpus_stats

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _corpus_stats(
        d, "doc_id", "text", with_total=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan
    # countDistinct(id) plans as a two-level aggregate (partial by id →
    # exchange → final): 2 exchanges of near-empty aggregate rows, never
    # the corpus-wide (id, term) exchange the postings subtree would add
    assert plan.count("Exchange") <= 2, plan


# ------------------------------------------------ property: BM25 reference

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_WORDS = ["a", "b", "c", "dd", "ee"]
docs_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8),
    min_size=1, max_size=10,
)
query_strategy = st.lists(st.sampled_from(_WORDS), min_size=1, max_size=3)


def _bm25_reference(doc_words: list[list[str]], query: list[str], top_k: int):
    """Pure-python BM25 (rational idf, fixed-point parts) — the exact
    integer formula from llm/retrieval.py re-derived independently."""
    import math

    docs = {i: ws for i, ws in enumerate(doc_words) if ws}
    n_docs = len(docs)
    s_total = sum(len(ws) for ws in docs.values())
    tf = {(i, w): ws.count(w) for i, ws in docs.items() for w in set(ws)}
    df = {}
    for (i, w) in tf:
        df[w] = df.get(w, 0) + 1
    scores = {}
    for w in set(query):
        if w not in df:
            continue
        for i, ws in docs.items():
            if (i, w) not in tf:
                continue
            t, dl, d = tf[(i, w)], len(ws), df[w]
            idf = float(2 * n_docs - 2 * d + 1) / float(2 * d + 1)
            tfp = float(22 * s_total * t) / float(
                10 * s_total * t + 3 * s_total + 9 * dl * n_docs
            )
            scores[i] = scores.get(i, 0) + int(math.floor(1e6 * idf * tfp))
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    return {(i, s, r + 1) for r, (i, s) in enumerate(ranked)}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(doc_words=docs_strategy, query=query_strategy)
def test_bm25_matches_python_reference(spark, doc_words, query):
    d = _docs(spark, [(i, " ".join(ws)) for i, ws in enumerate(doc_words)])
    q = _queries(spark, [(0, " ".join(query))])
    got = {
        (r.doc_id, r.score_fp, r.rank)
        for r in bm25_topk(d, q, top_k=5, idf_mode="rational").collect()
    }
    assert got == _bm25_reference(doc_words, query, 5)


def test_bloom_decontaminate_duplicate_ids_sum_per_row(spark):
    # pre-chunked corpora repeat the doc id across rows: counts must
    # sum per row (engine groups at the end; the oracle's occ-aware
    # formulation mirrors this — guarded here since suite data has
    # unique ids)
    from pyspark_pipeline_framework_spark.llm.dedup import bloom_decontaminate

    ev = spark.createDataFrame([(0, "alpha beta gamma delta")], "doc_id long, text string")
    tr = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (1, "unrelated words entirely here")],
        "doc_id long, text string")
    row = bloom_decontaminate(tr, ev).collect()[0]
    # chunks 1+2: 2 shingles each, all maybe-hit; chunk 3: 2 shingles, none
    assert (row.n_shingles, row.n_maybe) == (6, 4)
    assert abs(row.overlap_ratio_ub - 4 / 6) < 1e-12
