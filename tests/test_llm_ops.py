"""Behavioral tests for the hash-family LLM operators that can't be
oracle-checked (xxhash64 has no DuckDB twin): MinHash-LSH recall vs the
exact Jaccard pairs, SimHash near-dup properties, LSH-kNN recall vs
brute force, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.io.readers import table
from pyspark_pipeline_framework_spark.llm.dedup import (
    exact_text_dedup,
    minhash_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)
from pyspark_pipeline_framework_spark.llm.multimodal import (
    attach_binary_payload,
    extract_features,
    frame_sample_plan,
)
from pyspark_pipeline_framework_spark.llm.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)


def _persistent_rdds(spark) -> list:
    """TEST-ONLY probe: (id, javaRDD) pairs currently pinned in the
    context. Spark exposes no public Python API for enumerating
    persistent RDDs, so the leak/ownership assertions below go through
    the JVM gateway — package and suite code never do (r10 VERDICT
    item 7)."""
    out = []
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().toList().iterator()  # noqa: SLF001
    while it.hasNext():
        t = it.next()
        out.append((t._1(), t._2()))
    return out


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return table(spark, sf_dir, "documents")


def test_minhash_lsh_recall(spark, sf_dir, docs):
    """Every exact near-dup pair (J>=0.8) must surface as an LSH candidate
    (16 bands × 4 rows: P[miss | J=0.8] = (1-0.8^4)^16 ≈ 8e-5)."""
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.8).collect()
    }
    assert truth, "testdata should contain planted near-dups"
    cands = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, num_hashes=64, bands=16).collect()
    }
    assert truth <= cands, f"LSH missed true pairs: {truth - cands}"


def test_minhash_signature_shape(spark, docs):
    sig = minhash_signature(docs.limit(10), num_hashes=32).collect()
    assert all(len(r.signature) == 32 for r in sig)
    # permutations must be independent (not one value repeated — guards
    # the transform two-arg-lambda index-shadowing trap)
    assert all(len(set(r.signature)) > 1 for r in sig)
    # deterministic across evaluations
    sig2 = minhash_signature(docs.limit(10), num_hashes=32).collect()
    assert {r.doc_id: r.signature for r in sig} == {r.doc_id: r.signature for r in sig2}


def test_minhash_md5_signature_ragged_num_hashes(spark, docs):
    """num_hashes not divisible by 4 exercises the arrow path's final
    partial digest group (ws[:num_hashes] slice): width, 8-hex word
    shape, determinism, and agreement with a wider signature's prefix
    (permutation i never depends on num_hashes — group i//4, slice
    i%4 — so a 30-wide signature IS the first 30 words of a 32-wide
    one; a slicing bug would break that identity)."""
    d = docs.limit(8)
    sig30 = {r.doc_id: r.signature
             for r in minhash_signature(d, num_hashes=30, hash_fn="md5").collect()}
    assert all(len(s) == 30 for s in sig30.values())
    assert all(len(w) == 8 and set(w) <= set("0123456789abcdef")
               for s in sig30.values() for w in s)
    sig32 = {r.doc_id: r.signature
             for r in minhash_signature(d, num_hashes=32, hash_fn="md5").collect()}
    assert {k: v[:30] for k, v in sig32.items()} == sig30


def test_minhash_agreement_tracks_jaccard(spark, sf_dir):
    """Signature agreement rate ≈ Jaccard (within binomial noise) on the
    sf0.01 planted near-dups — catches positional/degenerate hashing."""
    docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = ngram_jaccard_pairs(docs01, threshold=0.8).collect()
    sigs = {r.doc_id: r.signature for r in minhash_signature(docs01, num_hashes=64).collect()}
    assert pairs
    for p in pairs:
        agree = sum(1 for x, y in zip(sigs[p.id_a], sigs[p.id_b]) if x == y) / 64
        assert abs(agree - p.jaccard) < 0.25, (p.id_a, p.id_b, p.jaccard, agree)


def test_simhash_near_dups_close(spark, docs):
    """Near-identical docs should have near-identical simhash."""
    pairs = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.9).collect()
    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert pairs
    for p in pairs:
        # mask to 64 bits: signatures are signed longs, Python XOR on
        # negatives would count sign-extended bits
        ham = bin((sigs[p.id_a] ^ sigs[p.id_b]) & ((1 << 64) - 1)).count("1")
        assert ham <= 10, f"pair ({p.id_a},{p.id_b}) J={p.jaccard:.2f} hamming={ham}"


def test_exact_dedup_idempotent(spark, docs):
    d = docs.select("doc_id", "text")
    once = exact_text_dedup(d)
    assert once.count() == exact_text_dedup(once).count()


def test_lsh_knn_recall_vs_bruteforce(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=3)
    approx = cosine_topk_lsh(emb, queries, dim=64, k=3, n_planes=4, n_tables=8)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # approximate: expect reasonable (not perfect) overlap with truth
    assert len(a & e) / len(e) >= 0.3
    # every approx hit must carry the same cos_sim as brute force would
    ce = {(r.query_id, r.vec_id): r.cos_sim for r in exact.collect()}
    ca = {(r.query_id, r.vec_id): r.cos_sim for r in approx.collect()}
    for k2 in a & e:
        assert abs(ce[k2] - ca[k2]) < 1e-12


def test_lsh_md5_recall_and_sign_portability(spark, sf_dir):
    """md5-Rademacher LSH: recall sanity vs brute force, and the sign
    planes recompute identically from plain hashlib (engine-portable)."""
    import hashlib

    from pyspark_pipeline_framework_spark.llm.similarity import rademacher_signs

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=3)
    approx = cosine_topk_lsh(emb, queries, dim=64, k=3, n_planes=4, n_tables=8)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.3
    signs = rademacher_signs(4, n_planes=2, n_tables=1)
    for p in range(2):
        for d in range(4):
            h = int(hashlib.md5(f"lsh:0:{p}:{d}".encode()).hexdigest()[:8], 16)
            assert signs[0][p][d] == (1 if h % 2 else -1)


def test_lsh_buckets_equal_python_integer_reference(spark):
    """The int64 Arrow kernel against a plain-Python integer loop of
    the same rule (floor(x·1e7), ±1 sums, bit p iff dot > 0): tiny
    grid vectors make exact-zero dots and negative floors common."""
    import math

    import numpy as np

    from pyspark_pipeline_framework_spark.llm.similarity import (
        lsh_buckets_udf,
        rademacher_signs,
    )

    dim, n_planes, n_tables = 8, 3, 5
    rng = np.random.default_rng(7)
    vecs = np.vstack([
        rng.integers(-2, 3, (40, dim)) * 1e-7,
        rng.standard_normal((40, dim)),
        rng.standard_normal((20, dim)) * 1e3,
    ])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, embedding array<float>",
    )
    rows = df.select(
        "embedding", lsh_buckets_udf(dim, n_planes, n_tables)(F.col("embedding")).alias("b")
    ).collect()
    signs = rademacher_signs(dim, n_planes, n_tables)
    zero_dots = 0
    for r in rows:
        q = [math.floor(x * 1e7) for x in r.embedding]
        dots = [[sum(a * s for a, s in zip(q, plane)) for plane in t] for t in signs]
        zero_dots += sum(d == 0 for t in dots for d in t)
        want = [sum(1 << p for p, d in enumerate(t) if d > 0) for t in dots]
        assert list(r.b) == want, r.embedding
    assert zero_dots > 0, "no exact-zero plane dot exercised"


def test_ivf_empty_corpus_degrades_to_empty(spark, sf_dir):
    """An empty corpus (incremental run with no new embeddings) must
    yield an empty ANN result, not crash np.stack in centroid training
    (regression, r6 empty-input sweep)."""
    from pyspark_pipeline_framework_spark.llm.similarity import cosine_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    empty = emb.filter("vec_id < 0")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_ivf(empty, queries, dim=64, k=3, nlist=8, nprobe=3)
    assert out.count() == 0


@pytest.mark.parametrize("nlist", [8, 16, 64])
def test_top_cells_equals_fixed_point_stable_argsort(nlist, monkeypatch):
    """_top_cells ranks by the BLAS product but must return exactly the
    stable argsort of the _dot14_np integers (ties to the lowest cell)
    on adversarial inputs; the Gaussian set must keep BLAS order for
    every row, and duplicate centroids must send rows to the fallback."""
    import numpy as np

    from pyspark_pipeline_framework_spark.llm import similarity as sim

    dot14 = sim._dot14_np
    fallback_rows = []
    monkeypatch.setattr(
        sim, "_dot14_np", lambda A, B: fallback_rows.append(len(A)) or dot14(A, B)
    )
    rng = np.random.default_rng(nlist)
    C = rng.standard_normal((nlist, 64))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    M = rng.standard_normal((400, 64))
    zero = M.copy()
    zero[::7] = 0.0
    dup = C.copy()
    dup[1::2] = C[: nlist // 2]
    pairs = rng.integers(0, nlist, (400, 2))
    sets = {
        "gauss": (M, C),
        "scaled_1e-6": (M * 1e-6, C),
        "scaled_1e3": (M * 1e3, C),
        "rounded_2dp": (np.round(M, 2), np.round(C, 2)),
        "zero_rows": (zero, C),
        "midpoints": ((C[pairs[:, 0]] + C[pairs[:, 1]]) / 2, C),
        "dup_centroids": (M, dup),
    }
    for name, (X, Cs) in sets.items():
        fallback_rows.clear()
        for n in (1, 3, nlist):
            want = np.argsort(-dot14(X, Cs), axis=1, kind="stable")[:, :n]
            assert np.array_equal(sim._top_cells(X, Cs, n), want), (name, n)
        if name == "gauss":
            assert not fallback_rows, "Gaussian rows fell back"
        if name == "dup_centroids":
            assert sum(fallback_rows) > 0, "duplicate centroids never fell back"


def test_ivf_knn_recall_vs_bruteforce(spark, sf_dir):
    from pyspark_pipeline_framework_spark.llm.similarity import cosine_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=3)
    approx = cosine_topk_ivf(emb, queries, dim=64, k=3, nlist=8, nprobe=3)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # nprobe=3 of nlist=8 cells -> expect decent (not perfect) recall
    assert len(a & e) / len(e) >= 0.5
    # every approx hit carries the exact decimal cosine
    ce = {(r.query_id, r.vec_id): r.cos_sim for r in exact.collect()}
    ca = {(r.query_id, r.vec_id): r.cos_sim for r in approx.collect()}
    for k2 in a & e:
        assert abs(ce[k2] - ca[k2]) < 1e-12


def test_ivf_exact_mode_recall_and_model_determinism(spark, sf_dir):
    """IVF: recall sanity, and the fixed-point Lloyd model is
    bit-identical across partitionings (the property the SQL oracle
    replay depends on)."""
    import numpy as np

    from pyspark_pipeline_framework_spark.llm.similarity import (
        cosine_topk_ivf,
        ivf_train_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=3)
    approx = cosine_topk_ivf(
        emb, queries, dim=64, k=3, nlist=8, nprobe=3, train_sample=256
    )
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.5
    c1 = ivf_train_centroids(emb, dim=64, nlist=8, train_iters=2, train_sample=256)
    c2 = ivf_train_centroids(
        emb.repartition(7), dim=64, nlist=8, train_iters=2, train_sample=256
    )
    assert np.array_equal(c1, c2)


def test_domain_mix_upsamples_small_domains(spark, sf_dir, docs):
    """alpha=0.5 keep-rates: smaller domains keep a larger fraction of
    their docs than bigger ones; expected total ≈ target_fraction; and
    the md5 keep-set is deterministic."""
    from pyspark_pipeline_framework_spark.llm.packing import domain_mix_sample

    base = {r["source"]: r["n"] for r in docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    picked = domain_mix_sample(docs, domain_col="source", alpha=0.5, target_fraction=0.5)
    got = {r["source"]: r["n"] for r in picked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    rates = {s: got.get(s, 0) / n for s, n in base.items()}
    smallest = min(base, key=base.get)
    largest = max(base, key=base.get)
    if base[smallest] < base[largest]:  # only meaningful when sizes differ
        assert rates[smallest] >= rates[largest]
    total_frac = sum(got.values()) / sum(base.values())
    assert 0.3 <= total_frac <= 0.7
    again = domain_mix_sample(docs, domain_col="source", alpha=0.5, target_fraction=0.5)
    assert {r.doc_id for r in picked.select("doc_id").collect()} == {
        r.doc_id for r in again.select("doc_id").collect()
    }


def test_repetition_stats_known_values(spark):
    from pyspark_pipeline_framework_spark.llm.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x"), (3, "p q p q")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert abs(out[1].top1_frac - 3 / 4) < 1e-12
    assert abs(out[1].top2_frac - 2 / 3) < 1e-12   # "a a" twice of 3 grams
    assert out[2].top1_frac == 1.0 and out[2].top2_frac == 0.0
    assert abs(out[3].top1_frac - 2 / 4) < 1e-12
    assert abs(out[3].top2_frac - 2 / 3) < 1e-12   # "p q" twice of 3 grams


def test_multimodal_plumbing(spark, docs):
    payloads = attach_binary_payload(docs.limit(20))
    feats = extract_features(payloads).collect()
    assert len(feats) == 20
    rows = {r.doc_id: r for r in feats}
    src = {r.doc_id: r.text for r in docs.limit(20).collect()}
    for did, r in rows.items():
        assert r.n_bytes == len(src[did].encode())
        assert r.head_checksum == sum(src[did].encode()[:16])
        assert len(r.feature) == 4


def test_frame_sample_plan(spark, docs):
    media = attach_binary_payload(docs.limit(3)).withColumn(
        "media_meta",
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit("mp4").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(3500).cast("long").alias("duration_ms"),
        ),
    )
    frames = frame_sample_plan(media, every_ms=1000)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in per_doc)  # ts 0,1000,2000,3000


def test_decontaminate_flags_verbatim_copy(spark):
    from pyspark_pipeline_framework_spark.llm.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text about spark partition shuffles"),
        ],
        ["doc_id", "text"],
    )
    eval_set = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")], ["doc_id", "text"]
    )
    rows = {r.id: r for r in decontaminate(train, eval_set, threshold=0.5).collect()}
    assert rows[1].contaminated and rows[1].overlap_ratio == 1.0
    assert not rows[2].contaminated and rows[2].n_matched == 0


def test_connected_components_chain_and_singleton(spark):
    from pyspark_pipeline_framework_spark.llm.dedup import connected_components, dedup_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 9), (5, 6)], ["id_a", "id_b"]
    )
    cc = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}  # chain 1-2-3-9 plus 5-6
    docs = spark.createDataFrame([(i, "x") for i in [1, 2, 3, 5, 6, 9, 42]], ["doc_id", "t"])
    out = {r.doc_id: (r.cluster_id, r.is_duplicate) for r in dedup_clusters(docs, pairs).collect()}
    assert out[42] == (42, False)  # singleton: own cluster, kept
    assert out[9] == (1, True) and out[1] == (1, False)


def test_jaccard_hot_shingle_cap_bounds_pairs(spark):
    """A shingle shared by EVERY doc must not quadratically explode the
    candidate pair count when max_doc_freq is set: with the boilerplate
    shingle stopworded, only the genuinely similar pair survives."""
    boiler = "standard header boilerplate line"
    docs = [(i, f"{boiler} unique body {i} " + " ".join(f"w{i}_{j}" for j in range(20)))
            for i in range(100)]
    docs.append((1000, docs[0][1]))  # verbatim copy of doc 0 → one true pair
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = ngram_jaccard_pairs(df, shingle_k=3, threshold=0.8, max_doc_freq=10).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {(0, 1000)}
    # uncapped still finds it, but through the hot posting list
    uncapped = ngram_jaccard_pairs(df, shingle_k=3, threshold=0.8).collect()
    assert (0, 1000) in {(r.id_a, r.id_b) for r in uncapped}


def test_jaccard_verify_matches_exact_on_candidates(spark, sf_dir, docs):
    """minhash→verify composition returns exactly the exact-Jaccard
    result (full recall at these band settings on the planted dups)."""
    from pyspark_pipeline_framework_spark.llm.dedup import jaccard_verify

    exact = {(r.id_a, r.id_b, r.n_common) for r in
             ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.8).collect()}
    cand = minhash_candidate_pairs(docs, num_hashes=64, bands=16, shingle_k=3)
    verified = {(r.id_a, r.id_b, r.n_common) for r in
                jaccard_verify(docs, cand, shingle_k=3, threshold=0.8).collect()}
    assert verified == exact


def test_multimodal_pluggable_codec(spark, docs):
    """Injecting a user codec (here: a fake image decoder producing real
    width/height from the payload bytes) drives the same Arrow plumbing
    as the default stub."""
    import pytest

    def fake_image_codec(payload: bytes) -> dict:
        # a real impl would be PIL.Image.open(io.BytesIO(payload)).size
        return {"width": len(payload) % 640, "height": len(payload) % 480, "ok": True}

    with_payload = attach_binary_payload(docs.limit(20))
    out = extract_features(
        with_payload,
        decode_fn=fake_image_codec,
        feature_schema="doc_id long, width int, height int, ok boolean",
    )
    rows = out.collect()
    assert len(rows) == 20
    assert all(r.ok and 0 <= r.width < 640 and 0 <= r.height < 480 for r in rows)
    # schema/codec must be supplied together
    with pytest.raises(ValueError, match="together"):
        extract_features(with_payload, decode_fn=fake_image_codec)
    # default path (stub) unchanged
    stub_rows = extract_features(with_payload).collect()
    assert {r.doc_id for r in stub_rows} == {r.doc_id for r in rows}


def test_pii_detect_and_redact_known_strings(spark):
    from pyspark_pipeline_framework_spark.llm.text import pii_redact, pii_stats

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.io or call +1-555-0142 from 192.168.0.1"),
            (2, "ssn 123-45-6789 twice 123-45-6789"),
            (3, "no pii here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in pii_redact(pii_stats(df)).collect()}
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 1)
    assert "bob.smith" not in out[1].redacted and "[EMAIL]" in out[1].redacted
    assert "192.168" not in out[1].redacted and "[IP]" in out[1].redacted
    assert "555-0142" not in out[1].redacted and "[PHONE]" in out[1].redacted
    assert out[2].n_ssn == 2 and out[2].redacted == "ssn [SSN] twice [SSN]"
    assert out[3].redacted == "no pii here at all"
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_ssn, out[3].n_phone) == (0, 0, 0, 0)


def test_url_extract_and_stats(spark):
    from pyspark_pipeline_framework_spark.llm.text import extract_urls, url_stats

    df = spark.createDataFrame(
        [
            (1, "see https://a.example.com/x and http://b.net/y?q=1 plus https://a.example.com/z"),
            (2, "plain text"),
        ],
        ["doc_id", "text"],
    )
    rows = extract_urls(df).collect()
    assert len(rows) == 3 and all(r.doc_id == 1 for r in rows)
    assert {r.domain for r in rows} == {"a.example.com", "b.net"}
    st = {r.doc_id: r for r in url_stats(df).collect()}
    assert (st[1].n_urls, st[1].n_domains, st[1].first_domain) == (3, 2, "a.example.com")
    assert (st[2].n_urls, st[2].n_domains, st[2].first_domain) == (0, 0, None)


def test_vocab_topk_counts_and_tiebreak(spark):
    from pyspark_pipeline_framework_spark.llm.text import vocab_topk

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b b z")], ["doc_id", "text"]
    )
    rows = vocab_topk(df, k=3).collect()
    assert [(r.term, r.tf, r.df_docs) for r in rows] == [
        ("a", 3, 2),
        ("b", 3, 2),
        ("c", 1, 1),   # tf tie at 1 broken by term asc: c before z
    ]


def test_passage_dedup_flags_shared_passages(spark):
    from pyspark_pipeline_framework_spark.llm.dedup import passage_dedup

    shared = " ".join(f"w{i}" for i in range(4))
    df = spark.createDataFrame(
        [(1, shared + " unique tail one"), (2, shared + " other suffix two"), (3, "totally different words here")],
        ["doc_id", "text"],
    )
    out = passage_dedup(df, window=4, stride=4).collect()
    # doc 1 pos 1 and doc 2 pos 1 share the 4-word window; first (doc 1) kept
    flags = {(r.doc_id, r.pos): r.is_duplicate for r in out}
    assert flags[(1, 1)] is False and flags[(2, 1)] is True
    assert not any(dup for (d, _), dup in flags.items() if d == 3)


def test_embedding_centroids_exact_means(spark):
    from pyspark_pipeline_framework_spark.llm.similarity import embedding_centroids

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 6.0]), ("b", [5.0, -1.0])],
        ["label", "embedding"],
    )
    rows = {(r.label, r.d): r for r in embedding_centroids(df, key_col="label").collect()}
    assert rows[("a", 0)].centroid == 2.0 and rows[("a", 1)].centroid == 4.0
    assert rows[("b", 0)].centroid == 5.0 and rows[("b", 1)].centroid == -1.0
    assert rows[("a", 0)].n_vectors == 2 and rows[("b", 1)].n_vectors == 1


def test_corpus_stats_counts_and_share(spark):
    from pyspark_pipeline_framework_spark.llm.text import corpus_stats

    df = spark.createDataFrame(
        [("s1", "a b c"), ("s1", "d e"), ("s2", "f g h i j")],
        ["source", "text"],
    )
    st = {r.source: r for r in corpus_stats(df, by="source").collect()}
    assert st["s1"].n_docs == 2 and st["s1"].total_tokens == 5
    assert st["s2"].total_tokens == 5
    assert abs(st["s1"].token_share - 0.5) < 1e-12
    assert abs(st["s1"].mean_tokens - 2.5) < 1e-12


def _union_find_components(edges):
    """Plain-Python reference: node -> smallest id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _cc_graph(name):
    import random

    rng = random.Random(7)
    if name == "random_clusters":
        # 40 clusters of 2-8 nodes: a random spanning chain plus noise
        # edges inside each cluster — the dedup-graph shape
        edges = []
        for c in range(40):
            ids = [c * 100 + i for i in range(rng.randint(2, 8))]
            edges.extend(zip(ids, ids[1:]))
            edges.extend((rng.choice(ids), rng.choice(ids)) for _ in range(3))
        return edges
    if name.startswith("path_"):
        ids = list(range(200))
        if name == "path_descending":
            ids.reverse()
        elif name == "path_shuffled":
            rng.shuffle(ids)
        return list(zip(ids, ids[1:]))
    if name == "tree_shuffled":
        ids = list(range(1023))
        rng.shuffle(ids)
        return [(ids[i], ids[(i - 1) // 2]) for i in range(1, len(ids))]
    if name == "hub_and_chains":
        # one hub with 3,000 leaves, half of them smaller than the hub,
        # chains hanging off some leaves, and a separate chain
        hub = 51_500
        edges = [(hub, leaf) for leaf in range(50_000, 53_001) if leaf != hub]
        for c in range(5):
            chain = [60_000 + 100 * c + i for i in range(30)]
            edges.append((50_001 + 7 * c, chain[0]))
            edges.extend(zip(chain, chain[1:]))
        edges.extend((49_000 + 2 * i, 49_000 + 2 * i + 2) for i in range(40))
        return edges
    assert name == "loops_and_duplicates"
    return [(2, 1), (1, 2), (2, 1), (2, 3), (3, 9), (5, 6), (6, 5), (7, 7),
            (11, 11), (11, 12), (12, 11), (12, 12)]


@pytest.mark.parametrize("graph", [
    "random_clusters", "path_ascending", "path_descending", "path_shuffled",
    "tree_shuffled", "hub_and_chains", "loops_and_duplicates",
])
def test_connected_components_matches_union_find(spark, graph):
    from pyspark_pipeline_framework_spark.llm.dedup import connected_components

    edges = _cc_graph(graph)
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == _union_find_components(edges)


def test_connected_components_default_long_path_is_one_component(spark):
    """A 61-node path is 60 hops long, more than the default max_iters:
    the default call must still return one component."""
    from pyspark_pipeline_framework_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(60)], ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(61)}


def test_connected_components_star_path_graph_logsq_rounds(spark):
    """A 10k-node PATH graph — the worst case for anything that moves
    a label one hop per round (O(n) rounds) — must converge under star
    contraction in O(log² n) rounds with the correct single component."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.dedup import _star_components

    n = 10_000
    edges = (
        spark.range(1, n)
        .select(F.col("id").alias("u"), (F.col("id") - 1).alias("v"))
        .localCheckpoint(eager=False)
    )
    stars, rounds = _star_components(edges, max_iters=25)
    # ~log2(10k) ≈ 13.3 contraction rounds, the last one ending on a
    # star forest; far below the O(n)=10k one-hop-per-round bound
    assert rounds <= 16
    roots = stars.select("v").distinct().collect()
    assert [r.v for r in roots] == [0]  # single component rooted at min id
    assert stars.select("u").distinct().count() == n - 1  # every non-root attached


def test_star_components_warns_on_max_iters_exhaustion(spark, caplog):
    """Exhausting max_iters without reaching a star forest must warn
    loudly instead of silently returning possibly-wrong clusters."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.dedup import _star_components

    import logging

    edges = (
        spark.range(1, 64)
        .select(F.col("id").alias("u"), (F.col("id") - 1).alias("v"))
    )
    # hooks-config tests may have disabled propagation on the package
    # logger (_configure_logging); caplog listens on the root logger
    pkg = logging.getLogger("pyspark_pipeline_framework_spark")
    saved = pkg.propagate
    pkg.propagate = True
    try:
        with caplog.at_level("WARNING", logger="pyspark_pipeline_framework_spark.llm.dedup"):
            _star_components(edges, max_iters=1)
    finally:
        pkg.propagate = saved
    assert any("did not reach a fixpoint" in r.message for r in caplog.records)


def test_label_components_warn_on_max_iters_exhaustion(spark, caplog):
    """The public connected_components labels a path longer than
    max_iters allows with its far end cut off: that must warn, and a
    run that converges must not warn."""
    import logging

    from pyspark_pipeline_framework_spark.llm.dedup import connected_components

    path = spark.createDataFrame([(i, i + 1) for i in range(63)], ["id_a", "id_b"])
    pkg = logging.getLogger("pyspark_pipeline_framework_spark")
    saved = pkg.propagate
    pkg.propagate = True
    try:
        with caplog.at_level("WARNING", logger="pyspark_pipeline_framework_spark.llm.dedup"):
            cut = {r.id: r.cluster_id for r in connected_components(path, max_iters=1).collect()}
            warned = [r for r in caplog.records if "did not reach a fixpoint" in r.message]
            caplog.clear()
            full = {r.id: r.cluster_id for r in connected_components(path).collect()}
            assert not [r for r in caplog.records if "did not reach" in r.message]
    finally:
        pkg.propagate = saved
    assert cut[63] != 0, "the far end converged: the path no longer exercises the cut"
    assert warned
    assert set(full.values()) == {0}


def test_chunk_documents_windows_and_overlap(spark):
    from pyspark_pipeline_framework_spark.llm.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "short text")], ["doc_id", "text"])
    rows = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(df, chunk_tokens=4, overlap=2).collect()
    }
    # doc 1: 10 tokens, stride 2, starts 1,3,5,7 (greatest(10-2,1)=8)
    assert rows[(1, 0)] == (4, "w0 w1 w2 w3")
    assert rows[(1, 1)] == (4, "w2 w3 w4 w5")
    assert rows[(1, 3)] == (4, "w6 w7 w8 w9")
    assert max(c for d, c in rows if d == 1) == 3
    # doc 2: 2 tokens -> one short chunk
    assert rows[(2, 0)] == (2, "short text")
    # consecutive chunks share exactly `overlap` tokens
    assert rows[(1, 0)][1].split()[-2:] == rows[(1, 1)][1].split()[:2]
    import pytest

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_quantize_embeddings_roundtrip_and_zero(spark):
    from pyspark_pipeline_framework_spark.llm.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert rows[1].q_embedding == [127, -64, 31, 0]  # floor semantics
    assert abs(rows[1].q_scale - 1.0 / 127) < 1e-15
    assert rows[2].q_embedding == [0, 0, 0, 0] and rows[2].q_scale == 0.0
    # dequantization error bounded by one quantization step
    deq = [q * rows[1].q_scale for q in rows[1].q_embedding]
    for orig, d in zip([1.0, -0.5, 0.25, 0.0], deq):
        assert abs(orig - d) <= rows[1].q_scale + 1e-15


def test_reliable_checkpoint_matches_local_and_truncates(spark, session_checkpoint_dir):
    """With the session's spark.checkpoint.dir set, every per-round
    lineage truncation is a reliable checkpoint() that survives
    executor loss instead of an executor-resident localCheckpoint:
    results must be identical and checkpoint files must land under
    the dir."""
    from pyspark_pipeline_framework_spark.llm.dedup import connected_components

    edges = [(1, 2), (2, 3), (7, 8), (10, 10), (4, 3)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    reliable = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert session_checkpoint_dir(), "no checkpoint files written under the dir"
    spark.conf.unset("spark.checkpoint.dir")
    local = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert reliable == local


def test_lazy_reliable_cut_computes_its_plan_once(spark, session_checkpoint_dir):
    """A reliable cut requested lazily must not compute its plan twice:
    Spark's RDD.checkpoint() of an unpersisted RDD writes the files
    with a second job after the first action."""
    from pyspark.sql.types import LongType

    from pyspark_pipeline_framework_spark.connect_compat import truncate_lineage

    evaluated = spark.sparkContext.accumulator(0)

    def count_row(x):
        evaluated.add(1)
        return x

    counted = F.udf(count_row, LongType())
    cut = truncate_lineage(spark.range(100).select(counted("id").alias("id")))
    assert cut.count() == 100 and cut.count() == 100
    assert session_checkpoint_dir(), "no checkpoint files written under the dir"
    assert evaluated.value == 100


def test_jaccard_verify_reliable_checkpoint(spark, sf_dir, session_checkpoint_dir):
    from pyspark_pipeline_framework_spark.llm.dedup import (
        jaccard_verify,
        minhash_candidate_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    cand = minhash_candidate_pairs(docs)
    b = {(r.id_a, r.id_b): round(r.jaccard, 9)
         for r in jaccard_verify(docs, cand, threshold=0.3).collect()}
    assert session_checkpoint_dir(), "no checkpoint files written under the dir"
    spark.conf.unset("spark.checkpoint.dir")
    a = {(r.id_a, r.id_b): round(r.jaccard, 9)
         for r in jaccard_verify(docs, cand, threshold=0.3).collect()}
    assert a == b


def _crafted_media() -> list[tuple[int, bytes]]:
    import struct

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00")
    jpeg = (b"\xff\xd8"                                       # SOI
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"   # SOF0, 8-bit
            + struct.pack(">HH", 480, 854) + b"\x03" + b"\x00" * 9)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 5
    bmp = (b"BM" + struct.pack("<IHHI", 100, 0, 0, 54)
           + struct.pack("<I", 40) + struct.pack("<ii", 800, -600) + b"\x00" * 8)
    # 1 second of silence: 2ch 16-bit 8kHz -> byte_rate 32000, data 32000B
    wav = (b"RIFF" + struct.pack("<I", 36 + 32000) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
           + b"data" + struct.pack("<I", 32000) + b"\x00" * 32000)
    return [(1, png), (2, jpeg), (3, gif), (4, bmp), (5, wav),
            (6, b"not media at all"), (7, b"\x89PNG\r\n\x1a\n")]  # truncated


def test_sniff_media_crafted_bytes():
    from pyspark_pipeline_framework_spark.llm.multimodal import sniff_media

    by_id = {i: sniff_media(p) for i, p in _crafted_media()}
    assert by_id[1] == {"format": "png", "width": 640, "height": 480, "duration_ms": None}
    assert by_id[2] == {"format": "jpeg", "width": 854, "height": 480, "duration_ms": None}
    assert by_id[3] == {"format": "gif", "width": 320, "height": 200, "duration_ms": None}
    assert by_id[4] == {"format": "bmp", "width": 800, "height": 600, "duration_ms": None}
    assert by_id[5] == {"format": "wav", "width": None, "height": None, "duration_ms": 1000}
    assert by_id[6]["format"] is None
    # truncated header: format sniffed, dimensions unknown, NO exception
    assert by_id[7] == {"format": "png", "width": None, "height": None, "duration_ms": None}


def test_probe_media_distributed(spark):
    """The prober through the Arrow mapInPandas plumbing: same results
    as driver-side sniffing, map-only plan (no shuffle)."""
    from pyspark_pipeline_framework_spark.llm.multimodal import probe_media, sniff_media

    rows = _crafted_media()
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.asDict() for r in probe_media(df).collect()}
    for i, p in rows:
        want = sniff_media(p)
        rec = got[i]
        assert (rec["format"], rec["width"], rec["height"], rec["duration_ms"]) == (
            want["format"], want["width"], want["height"], want["duration_ms"])
    plan = probe_media(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: payloads never shuffle


def test_media_probe_registry_op(spark, tmp_path, sf_dir):
    """media_probe is config-declarable like the other LLM ops: read →
    transform (attach payload) → media_probe through the runner."""
    from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
    from pyspark_pipeline_framework_spark.plans.result import PipelineStatus
    from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
    from pyspark_pipeline_framework_spark.resilience.presets import NO_RETRY

    cfg = PipelineConfig.from_dict({
        "name": "probe-demo",
        "components": [
            {"name": "load", "op": "read", "output": "docs",
             "params": {"format": "parquet", "path": f"{sf_dir}/documents.parquet"}},
            {"name": "payload", "op": "transform", "depends_on": ["load"],
             "output": "payloads",
             "params": {"input": "docs",
                        "with_columns": {"payload": "encode(text, 'utf-8')"},
                        "select": ["doc_id", "payload"]}},
            {"name": "probe", "op": "media_probe", "depends_on": ["payload"],
             "output": "probed", "params": {"input": "payloads"}},
        ],
    })
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    out = runner.catalog.get("probed")
    assert out.count() > 0
    # utf-8 text payloads are not media: format must be NULL, not a guess
    assert out.filter("format IS NOT NULL").count() == 0


def test_sniff_media_jpeg_padded_and_sos():
    """Spec-legal JPEG variants (ADVICE r5): 0xFF fill bytes may pad any
    marker, and the segment walk must stop at SOS — entropy-coded data
    after SOS is not a marker stream."""
    import struct

    from pyspark_pipeline_framework_spark.llm.multimodal import sniff_media

    # fill bytes (extra 0xFF) before both APP0 and SOF0 markers
    padded = (b"\xff\xd8"
              + b"\xff\xff\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
              + b"\xff\xff\xc0" + struct.pack(">H", 17) + b"\x08"
              + struct.pack(">HH", 240, 320) + b"\x03" + b"\x00" * 9)
    assert sniff_media(padded) == {
        "format": "jpeg", "width": 320, "height": 240, "duration_ms": None}

    # SOS before any SOF, followed by entropy-coded bytes that happen to
    # contain 0xFF C0-lookalikes: the walk must stop at SOS, not misread
    # garbage dimensions from compressed data
    sos_first = (b"\xff\xd8"
                 + b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
                 + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
                 + struct.pack(">HH", 999, 888) + b"\x03" + b"\x00" * 9)
    got = sniff_media(sos_first)
    assert got["format"] == "jpeg" and got["width"] is None and got["height"] is None


def test_probe_media_custom_id_col(spark):
    """probe_media works with any id column name AND type — the output
    schema is built from the input schema (ADVICE r5: it used to
    hardcode 'doc_id long' and raise for every other id_col)."""
    from pyspark_pipeline_framework_spark.llm.multimodal import probe_media

    rows = [(f"k{i}", p) for i, p in _crafted_media()]
    df = spark.createDataFrame(rows, "media_key string, payload binary")
    out = probe_media(df, id_col="media_key")
    assert out.columns[0] == "media_key"
    assert dict(out.dtypes)["media_key"] == "string"
    got = {r.media_key: r.format for r in out.collect()}
    assert got["k1"] == "png" and got["k5"] == "wav" and got["k6"] is None


def test_incremental_pairs_match_full_batch(spark, docs):
    """Incremental LSH over a corpus split (new = odd doc_ids, corpus =
    even) must return exactly the full-batch candidate pairs that touch
    a new document — no more (no stale corpus×corpus recompute), no
    fewer (no missed new×corpus collision)."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )

    kw = dict(num_hashes=64, bands=16, shingle_k=3)
    full = {
        (r.id_a, r.id_b) for r in minhash_candidate_pairs(docs, **kw).collect()
    }
    new_docs = docs.where(F.col("doc_id") % 2 == 1)
    old_docs = docs.where(F.col("doc_id") % 2 == 0)
    new_ids = {r.doc_id for r in new_docs.select("doc_id").collect()}
    inc = {
        (r.id_a, r.id_b)
        for r in incremental_candidate_pairs(
            minhash_bands(new_docs, **kw), minhash_bands(old_docs, **kw)
        ).collect()
    }
    want = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert inc == want
    assert all(a < b for a, b in inc)


def test_incremental_pairs_reingested_doc_no_self_pair(spark):
    """A document present in BOTH stores (re-ingested id) must never
    pair with itself, and duplicate cross-pairs collapse to one row."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )

    rows = [(1, "the quick brown fox jumps over the lazy dog " * 5)]
    new = spark.createDataFrame(rows, "doc_id long, text string")
    old = spark.createDataFrame(
        rows + [(2, "the quick brown fox jumps over the lazy dog " * 5)],
        "doc_id long, text string",
    )
    got = incremental_candidate_pairs(
        minhash_bands(new), minhash_bands(old)
    ).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(1, 2)]


def test_band_store_parquet_roundtrip(spark, docs, tmp_path):
    """The band store is the persistable artifact of the incremental
    pipeline: writing it to parquet and joining yesterday's store with
    today's bands must equal the in-memory result."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )

    kw = dict(num_hashes=32, bands=8, shingle_k=3)
    old_docs = docs.where(F.col("doc_id") % 2 == 0)
    new_docs = docs.where(F.col("doc_id") % 2 == 1)
    store = str(tmp_path / "band_store")
    minhash_bands(old_docs, **kw).write.parquet(store)
    from_disk = {
        (r.id_a, r.id_b)
        for r in incremental_candidate_pairs(
            minhash_bands(new_docs, **kw), spark.read.parquet(store)
        ).collect()
    }
    in_mem = {
        (r.id_a, r.id_b)
        for r in incremental_candidate_pairs(
            minhash_bands(new_docs, **kw), minhash_bands(old_docs, **kw)
        ).collect()
    }
    assert from_disk == in_mem


def test_incremental_lifecycle_daily_appends(spark, docs, tmp_path):
    """The production loop end-to-end: day 0 bootstraps the band store,
    each later day bands only its batch, joins vs the store parquet,
    and APPENDS its bands. The union of per-day pairs must equal the
    full-batch candidate pairs over the whole corpus — i.e. the
    incremental loop loses nothing and re-hashes nothing."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
        minhash_candidate_pairs,
    )

    kw = dict(num_hashes=64, bands=16, shingle_k=3)
    store = str(tmp_path / "store")
    day = lambda i: docs.where(F.col("doc_id") % 3 == i)

    # day 0: bootstrap — self-dedup the first batch, write its bands
    got = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(day(0), **kw).collect()
    }
    minhash_bands(day(0), **kw).write.parquet(store)

    for i in (1, 2):
        new = minhash_bands(day(i), **kw)
        got |= {
            (r.id_a, r.id_b)
            for r in incremental_candidate_pairs(
                new, spark.read.parquet(store)
            ).collect()
        }
        new.write.mode("append").parquet(store)

    full = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, **kw).collect()
    }
    assert got == full
    # the store now holds every document's bands exactly once
    n_docs = docs.count()
    store_df = spark.read.parquet(store)
    assert store_df.count() == n_docs * 16
    assert store_df.select("id").distinct().count() == n_docs


def test_ivf_index_parquet_roundtrip_matches_oneshot(spark, sf_dir, tmp_path):
    """ivf_index → parquet → ivf_search must equal the one-shot
    cosine_topk_ivf (same deterministic training), proving the
    persisted index is the same model."""
    from pyspark_pipeline_framework_spark.llm.similarity import (
        cosine_topk_ivf,
        ivf_index,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(dim=64, nlist=8, train_sample=256)
    cdf, assigned = ivf_index(emb, **kw)
    cdir, adir = str(tmp_path / "centroids"), str(tmp_path / "assigned")
    cdf.write.parquet(cdir)
    assigned.write.partitionBy("cell").parquet(adir)
    got = sorted(
        map(
            tuple,
            ivf_search(
                spark.read.parquet(adir),
                spark.read.parquet(cdir),
                queries,
                dim=64, k=5, nprobe=3,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            cosine_topk_ivf(
                emb, queries, dim=64, k=5, nlist=8, nprobe=3, train_sample=256,
            ).collect(),
        )
    )
    assert got == want and want


def test_ivf_add_incremental_equals_batch_assignment(spark, sf_dir, tmp_path):
    """FAISS's train-once/add-forever contract: vectors added in later
    batches under the frozen quantizer land in the same cells — and
    search over the grown store equals search over a one-shot
    assignment of everything."""
    from pyspark_pipeline_framework_spark.llm.similarity import (
        centroids_from_df,
        ivf_add,
        ivf_index,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    day0 = emb.where(F.col("vec_id") % 2 == 0)
    day1 = emb.where(F.col("vec_id") % 2 == 1)
    cdf, assigned0 = ivf_index(day0, dim=64, nlist=8, train_sample=256)
    store = str(tmp_path / "store")
    cdir = str(tmp_path / "centroids")
    cdf.write.parquet(cdir)
    assigned0.write.parquet(store)
    # the incremental step reads the persisted quantizer — no retrain
    frozen = spark.read.parquet(cdir)
    ivf_add(day1, frozen, dim=64).write.mode("append").parquet(store)

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(map(tuple, ivf_search(
        spark.read.parquet(store), frozen, queries, dim=64, k=5, nprobe=3,
    ).collect()))
    want = sorted(map(tuple, ivf_search(
        ivf_add(emb, centroids_from_df(cdf), dim=64),
        cdf, queries, dim=64, k=5, nprobe=3,
    ).collect()))
    assert got == want and want


def test_ivf_search_prune_cells_static_partition_pruning(spark, sf_dir, tmp_path):
    """prune_cells=True must (a) return identical results and (b) push
    a literal cell filter into the partitioned store's scan — static
    partition pruning, not dependent on the DPP cost heuristic."""
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_index, ivf_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, assigned = ivf_index(emb, dim=64, nlist=8, train_sample=256)
    store = str(tmp_path / "store")
    assigned.write.partitionBy("cell").parquet(store)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(dim=64, k=5, nprobe=2)
    pruned = ivf_search(spark.read.parquet(store), cdf, queries, prune_cells=True, **kw)
    plain = ivf_search(spark.read.parquet(store), cdf, queries, **kw)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, plain.collect()))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1) and (" IN " in m.group(1) or "in(" in m.group(1).lower()), m


def test_incremental_pairs_validate_catches_band_mismatch(spark, docs):
    """validate=True must reject joining stores built with different
    band counts (incompatible hash spaces → silently wrong pairs)."""
    import pytest as _pytest

    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )

    b16 = minhash_bands(docs.limit(50), num_hashes=64, bands=16)
    b8 = minhash_bands(docs.limit(50), num_hashes=64, bands=8)
    with _pytest.raises(ValueError, match="band-store mismatch"):
        incremental_candidate_pairs(b16, b8, validate=True)
    # matching stores pass validation and still work
    assert incremental_candidate_pairs(b16, b16, validate=True).count() >= 0


def test_ngram_broadcast_sizes_dial_identical(spark, docs):
    """broadcast_sizes=False (the >10^7-doc scale path) must return the
    same pairs as the default broadcast plan."""
    a = sorted(map(tuple, ngram_jaccard_pairs(
        docs, shingle_k=3, threshold=0.8, max_doc_freq=50).collect()))
    b = sorted(map(tuple, ngram_jaccard_pairs(
        docs, shingle_k=3, threshold=0.8, max_doc_freq=50,
        broadcast_sizes=False).collect()))
    assert a == b and a


def test_clear_shared_releases_pinned_blocks(spark):
    """clear_shared must release exactly the persist()-pinned caches
    the memo created — and must NOT touch persistent RDDs/caches it
    does not own. The memo is public-API only (r10 VERDICT item 7:
    no sparkContext._jsc anywhere in the suite)."""
    from pyspark_pipeline_framework_spark.suite._util import (
        clear_shared,
        shared_df,
    )

    pre = {i for i, _ in _persistent_rdds(spark)}
    foreign = spark.range(50).persist()  # not memo-owned
    foreign.count()
    foreign_ids = {i for i, _ in _persistent_rdds(spark)} - pre
    memo = shared_df(spark, ("t_clear", "x"), lambda: spark.range(100))
    assert memo.storageLevel.useMemory, "memo must be persisted"
    # tuple memo: one build call, every element persisted, memo reused
    calls = []
    def build_pair():
        calls.append(1)
        return (spark.range(10), spark.range(20))
    a, b = shared_df(spark, ("t_clear", "pair"), build_pair)
    a2, b2 = shared_df(spark, ("t_clear", "pair"), build_pair)
    assert len(calls) == 1 and a is a2 and b is b2
    assert a.storageLevel.useMemory and b.storageLevel.useMemory
    pinned = {i for i, _ in _persistent_rdds(spark)} - pre - foreign_ids
    assert pinned, "memo must pin at least one cache block"
    assert clear_shared() >= 3  # the df memo + both tuple elements
    after = {i for i, _ in _persistent_rdds(spark)}
    assert not (pinned & after), "memo-owned pins must be released"
    assert foreign_ids <= after, "foreign pins must survive"
    assert foreign.count() == 50  # still usable
    foreign.unpersist()


def test_zero_norm_vectors_excluded_from_all_cosine_ops(spark, sf_dir):
    """r8 uniform zero-norm contract (completes the r7 ADVICE
    semantic-dedup finding across the whole cosine surface): an
    all-zero vector AND a sub-fixed-point-resolution vector (every
    |x| < 1e-7) must never appear in any cosine-ranking output — as a
    neighbor, a query, or a dedup pair. Their 0/0 cosine is
    NULL-vs-NaN engine-divergent, so exclusion is the only portable
    semantic; every SQL oracle carries the matching doti(v,v) > 0
    predicate (selfcheck + the magnitude fuzz gate cross-engine
    agreement)."""
    from pyspark_pipeline_framework_spark.llm.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_lsh,
        embedding_dedup_pairs,
    )

    emb = table(spark, sf_dir, "embeddings").limit(40)
    dim = 64
    bad = spark.createDataFrame(
        [(900001, [0.0] * dim, 0), (900002, [1e-8] * dim, 0)],
        "vec_id long, embedding array<double>, label int",
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(bad)
    queries = corpus.filter(
        (F.col("vec_id") < 3) | (F.col("vec_id") > 900000)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    bad_ids = {900001, 900002}

    brute = cosine_topk_bruteforce(corpus, queries, k=5, dim=dim)
    lsh = cosine_topk_lsh(corpus, queries, dim=dim, k=5, n_planes=2, n_tables=4)
    ivf = cosine_topk_ivf(corpus, queries, dim=dim, k=5, nlist=4, nprobe=4,
                          train_sample=32)
    for name, out in (("brute", brute), ("lsh", lsh), ("ivf", ivf)):
        rows = out.collect()
        ids = {r.vec_id for r in rows} | {r.query_id for r in rows}
        assert not (ids & bad_ids), name
        assert all(r.cos_sim is not None for r in rows), name

    pairs = embedding_dedup_pairs(corpus, threshold=-1.0, block_col="label")
    pids = {i for r in pairs.collect() for i in (r.id_a, r.id_b)}
    assert not (pids & bad_ids)


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_unscorable_vectors_are_dropped_with_ansi_on_and_off(spark, sf_dir, ansi):
    """A vector with an infinite or NaN element, or whose fixed-point
    squared norm does not fit in a long (one 1e6 element), is dropped
    at the cosine boundary: brute-force top-k neither raises (ANSI
    long overflow in the norm) nor returns it, as a query or a
    neighbor, and the clean rows' result is unchanged."""
    from pyspark_pipeline_framework_spark.llm.similarity import cosine_topk_bruteforce

    dim = 64
    emb = table(spark, sf_dir, "embeddings").limit(30).select("vec_id", "embedding")
    clean = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    tail = [0.5] * (dim - 1)
    bad = [
        (900001, [float("inf")] + tail),
        (900002, [1e6] + tail),
        (900003, [float("nan")] + tail),
        (900004, tail + [float("-inf")]),
    ]
    schema = "vec_id long, embedding array<double>"
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, ansi)
    try:
        def knn(rows):
            corpus = spark.createDataFrame(rows, schema)
            queries = corpus.filter(
                (F.col("vec_id") < 3) | (F.col("vec_id") > 900000)
            ).withColumnRenamed("vec_id", "query_id")
            return sorted(map(tuple, cosine_topk_bruteforce(corpus, queries, k=5, dim=dim).collect()))

        got = knn(clean + bad)
        assert got == knn(clean)
    finally:
        spark.conf.set(key, old)
    assert len(got) == 15


def test_ivf_search_prune_cells_repeated_calls_no_accumulation(spark, sf_dir, tmp_path):
    """r8 VERDICT item 6: the prune_cells path deliberately avoids
    localCheckpoint and re-executes the (bounded) query subtree instead
    (llm/similarity.py documents why — a pinned checkpoint could never
    be safely unpersisted across the search-in-a-loop pattern). Pin the
    claimed property: >=20 repeated ivf_search(prune_cells=True) calls
    over a parquet store leave ZERO new persistent RDDs / storage
    blocks behind and do not grow the driver's post-GC JVM heap beyond
    noise."""
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_index, ivf_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cdf, assigned = ivf_index(emb, dim=64, nlist=8, train_sample=256)
    cdir, adir = str(tmp_path / "centroids"), str(tmp_path / "assigned")
    cdf.write.parquet(cdir)
    assigned.write.partitionBy("cell").parquet(adir)
    store, frozen = spark.read.parquet(adir), spark.read.parquet(cdir)

    def used_heap_after_gc() -> int:
        rt = spark._jvm.java.lang.Runtime.getRuntime()  # noqa: SLF001
        spark._jvm.System.gc()  # noqa: SLF001
        return int(rt.totalMemory() - rt.freeMemory())

    def run_once():
        return sorted(map(tuple, ivf_search(
            store, frozen, queries, dim=64, k=5, nprobe=3, prune_cells=True,
        ).collect()))

    rdds_before = {i for i, _ in _persistent_rdds(spark)}
    first = run_once()
    assert first, "search must return neighbors"
    # warm up JIT/caches before taking the heap baseline
    for _ in range(4):
        run_once()
    heap_base = used_heap_after_gc()
    for i in range(15):
        assert run_once() == first, f"iteration {i}: result drifted"
    rdds_after = {i for i, _ in _persistent_rdds(spark)}
    assert rdds_after - rdds_before == set(), (
        "prune_cells search must not pin storage blocks"
    )
    growth = used_heap_after_gc() - heap_base
    assert growth < 96 * 1024 * 1024, (
        f"post-GC driver heap grew {growth / 1e6:.0f} MB over 15 searches"
    )


def test_dedup_clusters_keep_policy(spark):
    """score_col keep policy: the kept member is the best-scoring one
    (ties -> lowest id, NULLs last), singletons keep themselves, the
    cluster label stays min-id, and an invalid keep mode raises."""
    import pytest as _pytest

    from pyspark_pipeline_framework_spark.llm.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 99), (5, 7), (6, None)],
        "doc_id: bigint, n_chars: int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a: bigint, id_b: bigint"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["canonical_id"], r["is_duplicate"])
        for r in dedup_clusters(
            docs, pairs, score_col="n_chars", keep="max"
        ).collect()
    }
    # cluster {1,2,3}: 2 and 3 tie at 30 -> lowest id 2 kept
    assert out[1] == (1, 2, True)
    assert out[2] == (1, 2, False)
    assert out[3] == (1, 2, True)
    # singleton keeps itself
    assert out[4] == (4, 4, False)
    # cluster {5,6}: 6 has NULL score -> sorts last, 5 kept
    assert out[5] == (5, 5, False)
    assert out[6] == (5, 5, True)
    # keep="min": within {1,2,3} the smallest score is doc 1 (10)
    out_min = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_clusters(
            docs, pairs, score_col="n_chars", keep="min"
        ).collect()
    }
    assert out_min[2] == 1 and out_min[6] == 5  # NULL still last
    with _pytest.raises(ValueError, match="keep"):
        dedup_clusters(docs, pairs, score_col="n_chars", keep="best")
    # default policy unchanged: no canonical_id column, min-id kept
    legacy = dedup_clusters(docs, pairs)
    assert "canonical_id" not in legacy.columns
    assert {r["doc_id"]: r["is_duplicate"] for r in legacy.collect()}[2] is True


def test_duplicated_spans_planted(spark):
    """Exact-substring span dedup on crafted docs: a 10-token sentence
    shared by two docs is returned as ONE maximal span per doc with
    exact 1-based inclusive boundaries; an 8-gram repeated WITHIN one
    doc yields two spans (self-repetition is duplication); unique text
    and sub-L docs yield nothing; validation errors are typed."""
    import pytest as _pytest

    from pyspark_pipeline_framework_spark.llm.dedup import duplicated_spans

    S = " ".join(f"shared{i}" for i in range(10))      # 10-token payload
    R = " ".join(f"rep{i}" for i in range(8))          # 8-token repeat
    docs = spark.createDataFrame(
        [
            (1, "u1 u2 u3 u4 u5 " + S + " v1 v2 v3"),   # span tokens 6..15
            (2, S + " w1 w2 w3 w4"),                     # span tokens 1..10
            (3, "x1 x2 " + R + " y1 y2 " + R + " z1"),  # spans 3..10, 13..20
            (4, "a lonely unique document with no duplicated grams at all ok"),
            (5, "too short"),
        ],
        "doc_id: bigint, text: string",
    )
    out = {
        r.doc_id: (r.start_tok, r.end_tok, r.span_tokens)
        for r in duplicated_spans(docs, min_tokens=8).collect()
        if r.doc_id in (1, 2)
    }
    assert out == {1: (6, 15, 10), 2: (1, 10, 10)}
    spans3 = sorted(
        (r.start_tok, r.end_tok)
        for r in duplicated_spans(docs, min_tokens=8)
        .where("doc_id = 3").collect()
    )
    assert spans3 == [(3, 10), (13, 20)]
    all_ids = {r.doc_id for r in duplicated_spans(docs, min_tokens=8).collect()}
    assert 4 not in all_ids and 5 not in all_ids
    with _pytest.raises(ValueError, match="min_tokens"):
        duplicated_spans(docs, min_tokens=1)
    with _pytest.raises(TypeError, match="hash_fn"):
        duplicated_spans(docs, hash_fn="sha1")

    # CUT half: exactly the covered tokens vanish, everything else
    # (order included) survives; span-less docs pass through untouched
    from pyspark_pipeline_framework_spark.llm.dedup import cut_spans

    spans = duplicated_spans(docs, min_tokens=8)
    cut = {
        r.doc_id: (r.clean_text, r.removed_tokens)
        for r in cut_spans(docs, spans).collect()
    }
    assert cut[1] == ("u1 u2 u3 u4 u5 v1 v2 v3", 10)
    assert cut[2] == ("w1 w2 w3 w4", 10)
    assert cut[3] == ("x1 x2 y1 y2 z1", 16)
    assert cut[4][1] == 0 and cut[4][0].startswith("a lonely unique")
    assert cut[5] == ("too short", 0)


def test_duplicated_spans_declarative_pipeline(spark, sf_dir):
    """op: duplicated_spans -> op: cut_spans as a config pipeline —
    the declarative exact-substring dedup shape."""
    from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
    from pyspark_pipeline_framework_spark.plans.result import PipelineStatus
    from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
    from pyspark_pipeline_framework_spark.resilience.presets import NO_RETRY

    cfg = PipelineConfig.from_dict({
        "name": "substring-dedup",
        "components": [
            {"name": "read", "op": "read", "output": "docs",
             "params": {"format": "parquet",
                        "path": f"{sf_dir}/documents.parquet"}},
            {"name": "spans", "op": "duplicated_spans", "output": "spans",
             "params": {"input": "docs", "min_tokens": 8}},
            {"name": "cut", "op": "cut_spans", "output": "clean",
             "params": {"input": "docs", "spans": "spans"}},
        ],
    })
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    clean = runner.catalog.get("clean")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert clean.count() == docs.count()
    assert clean.where("removed_tokens > 0").count() > 0
    assert {"clean_text", "removed_tokens"} <= set(clean.columns)


def test_incremental_spans_planted(spark):
    """Incremental ExactSubstr on crafted docs pins every branch of
    the hist-count logic: a new doc repeating an OLD doc's text flips
    its grams 1 -> 2 (the old doc is affected and gains a span), an
    old pair already duplicated is NOT recomputed (absent from the
    incremental output — its prior spans survive the merge), two new
    docs sharing text pair among themselves (hist==0), and the merged
    table equals a from-scratch duplicated_spans over the grown
    corpus. An empty new batch changes nothing."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        duplicated_spans,
        incremental_duplicated_spans,
        merge_span_tables,
        substring_count_partials,
        substring_gram_stream,
    )

    S = " ".join(f"s{i}" for i in range(10))   # will flip 1 -> 2
    P = " ".join(f"p{i}" for i in range(9))    # already dup in history
    N = " ".join(f"n{i}" for i in range(8))    # new-only duplication
    old_docs = spark.createDataFrame(
        [
            (1, "u1 u2 " + S + " u3 u4"),          # affected by doc 10
            (2, P + " w1"),                         # already dup with 3
            (3, "v1 " + P),                         # already dup with 2
            (4, "plain unique filler text with nothing repeated here ok"),
        ],
        "doc_id: bigint, text: string",
    )
    new_docs = spark.createDataFrame(
        [
            (10, "a1 a2 a3 " + S),                  # repeats doc 1's S
            (11, N + " b1 b2"),                     # pairs with 12
            (12, "c1 " + N),
            (13, "another fully unique new document with fresh words only"),
        ],
        "doc_id: bigint, text: string",
    )
    kw = dict(min_tokens=8)
    og = substring_gram_stream(old_docs, 8)
    oc = substring_count_partials(og)
    prior = duplicated_spans(old_docs, **kw)
    ng = substring_gram_stream(new_docs, 8)
    upd = incremental_duplicated_spans(ng, og, oc, min_tokens=8)

    by_doc = {}
    for r in upd.collect():
        by_doc.setdefault(r.doc_id, []).append((r.start_tok, r.end_tok))
    # doc 1 is AFFECTED (S flipped 1->2): span over S at tokens 3..12
    assert by_doc[1] == [(3, 12)]
    # docs 2/3 were already duplicated pre-batch: NOT recomputed
    assert 2 not in by_doc and 3 not in by_doc and 4 not in by_doc
    # new docs: 10 spans S (4..13), 11/12 span N, 13 unique
    assert by_doc[10] == [(4, 13)]
    assert by_doc[11] == [(1, 8)] and by_doc[12] == [(2, 9)]
    assert 13 not in by_doc

    merged = merge_span_tables(prior, upd)
    scratch = duplicated_spans(old_docs.union(new_docs), **kw)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, scratch.collect())
    )
    # empty new batch: no updates, merge is identity (validate must
    # tolerate an empty new side)
    empty = spark.createDataFrame([], "doc_id: bigint, text: string")
    eg = substring_gram_stream(empty, 8)
    upd0 = incremental_duplicated_spans(eg, og, oc, min_tokens=8, validate=True)
    assert upd0.count() == 0
    assert sorted(map(tuple, merge_span_tables(prior, upd0).collect())) == sorted(
        map(tuple, prior.collect())
    )
    # a gram store written by an older release (gram hash = xxhash64 as
    # a decimal string) is caught by validate: md5 digests are 32 hex
    # chars, xxhash64 decimals not
    import pytest as _pytest

    xg = og.withColumn("gh", F.xxhash64("gh").cast("string"))
    with _pytest.raises(ValueError, match="gram-store mismatch.*rebuild"):
        incremental_duplicated_spans(ng, xg, oc, min_tokens=8, validate=True)
    assert incremental_duplicated_spans(ng, og, oc, min_tokens=8, validate=True).count() > 0


def test_incremental_spans_pins_follow_session_checkpoint_dir(
    spark, sf_dir, session_checkpoint_dir
):
    """The span pins are lineage cuts like any other: with the
    session's spark.checkpoint.dir set they are reliable checkpoints
    under it (surviving executor churn), and the incremental spans and
    their merge equal the executor-local pins' result."""
    from pyspark.sql import functions as F_

    from pyspark_pipeline_framework_spark.llm.dedup import (
        duplicated_spans,
        incremental_duplicated_spans,
        merge_span_tables,
        substring_count_partials,
        substring_gram_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old_docs = docs.where(F_.col("doc_id") % 4 != 0)
    new_docs = docs.where(F_.col("doc_id") % 4 == 0)
    og = substring_gram_stream(old_docs, 8)
    oc = substring_count_partials(og)
    ng = substring_gram_stream(new_docs, 8)
    prior = duplicated_spans(old_docs, min_tokens=8)

    def spans_and_merged():
        upd = incremental_duplicated_spans(ng, og, oc, min_tokens=8)
        merged = merge_span_tables(prior, upd)
        return sorted(map(tuple, upd.collect())), sorted(map(tuple, merged.collect()))

    reliable = spans_and_merged()
    assert session_checkpoint_dir(), "no span pin written under the dir"
    spark.conf.unset("spark.checkpoint.dir")
    assert reliable == spans_and_merged()
    assert reliable[0] and reliable[1]


def test_incremental_spans_matches_batch_xxhash(spark, sf_dir):
    """Incremental == from-scratch over the real documents table with
    the default recipe (the suite case runs a different batch split),
    both with the count store and via the corpus-grams-only fallback."""
    from pyspark.sql import functions as F_

    from pyspark_pipeline_framework_spark.llm.dedup import (
        duplicated_spans,
        incremental_duplicated_spans,
        merge_span_tables,
        substring_count_partials,
        substring_gram_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.where(F_.col("doc_id") % 4 != 0)
    new = docs.where(F_.col("doc_id") % 4 == 0)
    og = substring_gram_stream(old, 8)
    ng = substring_gram_stream(new, 8)
    prior = duplicated_spans(old, min_tokens=8)
    scratch = sorted(map(tuple, duplicated_spans(docs, min_tokens=8).collect()))
    with_store = merge_span_tables(
        prior, incremental_duplicated_spans(
            ng, og, substring_count_partials(og), min_tokens=8)
    )
    assert sorted(map(tuple, with_store.collect())) == scratch
    fallback = merge_span_tables(
        prior, incremental_duplicated_spans(ng, og, min_tokens=8)
    )
    assert sorted(map(tuple, fallback.collect())) == scratch


def test_incremental_spans_declarative_pipeline(spark, sf_dir):
    """op: substring_grams (corpus store + counts_output) ->
    op: substring_grams (new batch) -> op: dedup_incremental_spans
    (prior_spans folded in) as a config pipeline — the declarative
    incremental exact-substring shape; result equals a from-scratch
    duplicated_spans over the full table."""
    from pyspark_pipeline_framework_spark.llm.dedup import duplicated_spans
    from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
    from pyspark_pipeline_framework_spark.plans.result import PipelineStatus
    from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
    from pyspark_pipeline_framework_spark.resilience.presets import NO_RETRY

    cfg = PipelineConfig.from_dict({
        "name": "substring-dedup-incremental",
        "components": [
            {"name": "read", "op": "read", "output": "docs",
             "params": {"format": "parquet",
                        "path": f"{sf_dir}/documents.parquet"}},
            {"name": "old", "op": "transform", "output": "old",
             "params": {"input": "docs", "filter": "doc_id % 4 != 0"}},
            {"name": "new", "op": "transform", "output": "new",
             "params": {"input": "docs", "filter": "doc_id % 4 = 0"}},
            {"name": "corpus_grams", "op": "substring_grams",
             "output": "cg",
             "params": {"input": "old", "counts_output": "cc"}},
            {"name": "prior", "op": "duplicated_spans", "output": "prior",
             "params": {"input": "old"}},
            {"name": "new_grams", "op": "substring_grams", "output": "ng",
             "params": {"input": "new"}},
            {"name": "incr", "op": "dedup_incremental_spans",
             "output": "spans",
             "params": {"new_grams": "ng", "corpus_grams": "cg",
                        "corpus_counts": "cc", "prior_spans": "prior"}},
        ],
    })
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    got = sorted(map(tuple, runner.catalog.get("spans").collect()))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = sorted(map(tuple, duplicated_spans(docs, min_tokens=8).collect()))
    assert got == want


def test_robust_outliers_known_values(spark):
    """Hand-checked median/MAD: values {1..5, 100} in one group have
    med=3 (disc), MAD=1 (disc over devs {2,1,0,1,2,97}) -> only 100 is
    flagged at k=3; NULLs are never flagged; zero MAD flags any
    deviation; keep_all returns every row with the flag; k<0 raises."""
    import pytest as _pytest

    from pyspark_pipeline_framework_spark.operators.events import robust_outliers

    rows = [("a", float(x)) for x in (1, 2, 3, 4, 5, 100)] + [("a", None)]
    df = spark.createDataFrame(rows, "g: string, v: double")
    out = robust_outliers(df, "v", ["g"], k=3.0).collect()
    assert [(r["v"], r["med"], r["mad"]) for r in out] == [(100.0, 3.0, 1.0)]
    allrows = robust_outliers(df, "v", ["g"], k=3.0, keep_all=True)
    assert allrows.count() == 7
    assert allrows.where("v IS NULL AND is_outlier").count() == 0
    # zero MAD: {5,5,5,9} -> med 5, MAD 0, any deviation flagged
    dz = spark.createDataFrame(
        [("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 9.0)], "g: string, v: double"
    )
    assert [r["v"] for r in robust_outliers(dz, "v", ["g"]).collect()] == [9.0]
    # global (ungrouped) mode
    assert robust_outliers(df, "v", None, k=3.0).count() == 1
    with _pytest.raises(ValueError, match="k must"):
        robust_outliers(df, "v", ["g"], k=-1)


def test_robust_outliers_quoted_value_col(spark):
    """Column names needing backticks (spaces, hyphens, dots) must
    work — the value is pre-projected into a fixed temp column, never
    interpolated into SQL text (r10 ADVICE)."""
    from pyspark_pipeline_framework_spark.operators.events import robust_outliers

    rows = [("a", float(x)) for x in (1, 2, 3, 4, 5, 100)]
    df = spark.createDataFrame(rows, ["g", "metric value-1.raw"])
    out = robust_outliers(df, "metric value-1.raw", ["g"], k=3.0).collect()
    assert len(out) == 1 and out[0]["metric value-1.raw"] == 100.0
    assert "__val" not in robust_outliers(
        df, "metric value-1.raw", ["g"], keep_all=True
    ).columns


def test_robust_outliers_broadcast_modes(spark):
    """The grouped join-back strategy is left to Catalyst/AQE — no
    forced broadcast hint survives to the optimized plan, so a
    high-cardinality group key degrades to a shuffle join instead of an
    oversized broadcast (r10 VERDICT item 6)."""
    from pyspark_pipeline_framework_spark.operators.events import robust_outliers

    rows = [(f"g{i}", float(i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "g: string, v: double")

    def optimized(out):
        return out._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            out._jdf.queryExecution(), "extended"
        )

    auto = robust_outliers(df, "v", ["g"], keep_all=True)
    plan_auto = optimized(auto)
    # no hint in the analyzed/optimized logical plan for the grouped path
    assert "UnresolvedHint broadcast" not in plan_auto
    assert "ResolvedHint (strategy=broadcast)" not in plan_auto
