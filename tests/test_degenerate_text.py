"""Degenerate-text robustness: NULL / empty / whitespace-only /
single-token documents through the LLM text+dedup surface.

Any real 100 TB corpus carries these rows (failed extractions, blank
pages, stub records), and Spark 4's default ANSI mode turns unguarded
arithmetic over them into job aborts (see the r6 empty-input sweep,
which caught exactly that class on 0-row inputs). Every operator here
must complete without raising and return defensible semantics:
degenerate docs may score NULL/NaN, be filtered, or produce no pairs —
they must never crash the pipeline or pair with each other spuriously
through empty shingle sets.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.llm.dedup import (
    exact_text_dedup,
    minhash_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)
from pyspark_pipeline_framework_spark.llm.text import (
    corpus_stats,
    language_id,
    md5_fingerprint,
    pii_redact,
    quality_features,
    quality_filter,
    repetition_stats,
    token_count_regex,
    token_count_ws,
    url_stats,
    vocab_topk,
)


@pytest.fixture(scope="module")
def degen_df(spark):
    rows = [
        (1, None, "xx", "null-text"),
        (2, "", "xx", "empty"),
        (3, "   \t\n  ", "xx", "whitespace-only"),
        (4, "word", "xx", "single-token"),
        (5, "the and of to is in that it was for", "en", "normal-en"),
        (6, "der und die das ist ein nicht mit", "de", "normal-de"),
        (7, "a a a a a a a a", "xx", "max-repetition"),
        (8, None, "xx", "null-text-2"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_scalar_text_functions_never_raise(degen_df):
    out = pii_redact(
        degen_df.select(
            "doc_id",
            "text",
            token_count_ws("text").alias("ws"),
            token_count_regex("text").alias("bpe"),
            md5_fingerprint("text").alias("fp"),
        )
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].ws is None and by_id[1].fp is None  # NULL propagates
    assert by_id[4].ws == 1
    assert by_id[5].ws == 10


def test_quality_features_and_filter(degen_df):
    feats = {r.doc_id: r for r in quality_features(degen_df).collect()}
    # NULL text: every feature NULL, never a throw
    assert feats[1].q_n_chars is None
    # empty text: split('') yields [''] so n_tokens=1, ratios well-defined
    # (0/0 double division is NaN under IEEE, not an ANSI abort)
    assert feats[2].q_n_chars == 0
    kept = {r.doc_id for r in quality_filter(degen_df, min_chars=1,
                                             min_tokens=1).collect()}
    # NULL and empty text always filtered (NULL comparisons are never
    # true; 0 chars < 1), normals survive. Whitespace-only text passes
    # a min_chars=1 gate by design (whitespace IS chars — the default
    # min_chars=50 is what screens it).
    assert 1 not in kept and 2 not in kept
    assert 5 in kept and 6 in kept
    default_kept = {r.doc_id for r in quality_filter(degen_df).collect()}
    assert default_kept.isdisjoint({1, 2, 3, 4})


def test_language_id_total(degen_df):
    out = {r.doc_id: r.lang_pred for r in language_id(degen_df).collect()}
    assert out[5] == "en" and out[6] == "de"
    # degenerate rows still get the deterministic all-zero tiebreak
    # (smallest lang code), except NULL text which scores NULL
    assert out[2] == sorted(["en", "de", "fr", "es", "zh"])[0]


def test_language_id_markers_with_quotes_and_backslashes(spark):
    """Marker words and language codes are user config that becomes SQL
    string literals: quotes and backslashes must match verbatim."""
    df = spark.createDataFrame(
        [(1, "l'été est beau"), (2, "a \\d b"), (3, "plain words")],
        "doc_id int, text string",
    )
    markers = {"fr": ["l'été", "est"], "x\\y": ["\\d"], "en": ["words"]}
    out = {r.doc_id: r.lang_pred for r in language_id(df, markers=markers).collect()}
    assert out == {1: "fr", 2: "x\\y", 3: "en"}


def test_stats_and_vocab_never_raise(degen_df):
    # one row per distinct source (all 8 sources unique)
    assert corpus_stats(degen_df, by="source").count() == 8
    # per-doc explode: docs with no words drop out of the gram counts
    assert 3 <= repetition_stats(degen_df).count() <= 8
    assert url_stats(degen_df).count() == 8
    assert vocab_topk(degen_df, k=5).count() >= 1


def test_exact_dedup_keeps_null_texts_distinct(degen_df):
    """Distinct NULL-text rows must BOTH survive: sha2(NULL) is NULL,
    and an unguarded hash key would lump every failed-extraction row
    into one dedup group — deleting data on zero content evidence
    (fixed r6: per-row key for NULL text). '' and whitespace-only
    normalize to the same canonical empty string and merge by design."""
    out = exact_text_dedup(degen_df)
    survivors = {r.doc_id for r in out.select("doc_id").collect()}
    assert 1 in survivors and 8 in survivors  # both NULL-text rows kept
    assert not {2, 3} <= survivors            # ''/ws-only merged to one
    assert {4, 5, 6, 7} <= survivors


def test_pair_generators_no_spurious_degenerate_pairs(degen_df):
    """Docs with EMPTY shingle sets (null/empty/whitespace/too-short)
    must not pair with each other: an empty set has no similarity
    evidence. No crash, and any returned pair involves real content."""
    degen_ids = {1, 2, 3, 4, 8}
    for pairs in (
        minhash_candidate_pairs(degen_df, num_hashes=16, bands=4),
        minhash_candidate_pairs(degen_df, num_hashes=16, bands=4,
                                hash_fn="md5"),
        ngram_jaccard_pairs(degen_df, shingle_k=3, threshold=0.5),
    ):
        for r in pairs.collect():
            assert not (r.id_a in degen_ids and r.id_b in degen_ids), r


def test_ann_ops_survive_corrupt_vectors(spark, sf_dir):
    """NULL and wrong-dimension embedding rows (failed encoders, schema
    drift) must be dropped at the operator boundary, not crash every
    Arrow-batched numpy stage (np.stack / matmul shape mismatch aborts
    the job — fixed r6, drop_corrupt_vectors)."""
    from pyspark_pipeline_framework_spark.io.readers import table as rtable
    from pyspark_pipeline_framework_spark.llm.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_lsh,
        embedding_dedup_pairs,
    )

    emb = rtable(spark, sf_dir, "embeddings")
    bad = spark.createDataFrame(
        [(9001, None, 0), (9002, [0.1] * 16, 0)], emb.schema)
    corpus = emb.union(bad)
    q = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding")
    assert cosine_topk_bruteforce(corpus, q, k=3, dim=64).count() == 9
    assert cosine_topk_lsh(corpus, q, dim=64, k=3).count() > 0
    assert cosine_topk_ivf(corpus, q, dim=64, k=3, nlist=4, nprobe=2).count() > 0
    pairs = embedding_dedup_pairs(corpus, threshold=0.4, block_col="label")
    assert all(r.id_a < 9001 and r.id_b < 9001 for r in pairs.collect())


def test_funnel_unknown_step_and_empty(spark, sf_dir):
    """A funnel step type absent from the data yields zero completions
    for that stage and every later stage — not an error; the degenerate
    single-step and empty-input forms also hold."""
    from pyspark_pipeline_framework_spark.io.readers import table as rtable
    from pyspark_pipeline_framework_spark.operators.events import funnel_counts

    ev = rtable(spark, sf_dir, "events")
    row = funnel_counts(ev, ["signup", "nosuch", "view"]).collect()[0]
    assert row.n_step1 > 0 and row.n_step2 == 0 and row.n_step3 == 0
    assert funnel_counts(ev.limit(0), ["signup"]).collect()[0].n_step1 == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        funnel_counts(ev, [])


def test_signatures_complete_on_degenerates(degen_df):
    # signature jobs must run to completion; degenerate docs simply
    # have no shingles/words and drop out of the aggregate
    assert minhash_signature(degen_df).count() <= 8
    assert simhash(degen_df).count() <= 8
