"""LLM-data-pipeline cases — SURVEY.md §2.8 [beyond-ref].

Exact operators (text stats, quality filter, lang-ID, fingerprints,
exact dedup, n-gram Jaccard, brute-force kNN) are oracle-checked, as
are the md5 hash operators (splits, packing via a recursive-CTE
greedy oracle, shuffle, token budget, passage and span dedup, SimHash,
md5-MinHash-LSH candidates) AND the approximate ANN paths:
md5-Rademacher LSH (full pipeline replayed in SQL), IVF and IVFPQ (the
oracle replays TRAINING — sample, Lloyd iterations, assignment — not
just the search). Only xxhash64 MinHash and HLL stay rows-only,
recall-tested in ``tests/test_llm_ops.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.io.readers import table
from pyspark_pipeline_framework_spark.llm.dedup import (
    exact_text_dedup,
    incremental_candidate_pairs,
    jaccard_verify,
    minhash_bands,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from pyspark_pipeline_framework_spark.llm.multimodal import (
    attach_binary_payload,
    extract_features,
)
from pyspark_pipeline_framework_spark.llm.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from pyspark_pipeline_framework_spark.llm.text import (
    BPE_ISH_PATTERN,
    LANG_MARKERS,
    language_id,
    md5_fingerprint,
    quality_filter,
    token_count_regex,
    token_count_ws,
)
from pyspark_pipeline_framework_spark.suite import case
from pyspark_pipeline_framework_spark.suite._util import shared_df


@case(
    "q_text_stats",
    oracle=rf"""
    SELECT doc_id,
           CAST(LENGTH(text) AS INT) AS n_chars_m,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INT) AS n_tokens_bpe
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        token_count_ws("text").alias("n_tokens_ws"),
        token_count_regex("text").alias("n_tokens_bpe"),
    )


@case(
    "q_text_filter_quality",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id, lang, LENGTH(text) AS nc,
             len(regexp_split_to_array(trim(text), '\s+')) AS nt,
             CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
               / LENGTH(text) AS symbol_ratio,
             CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')) AS uniq_ratio
      FROM documents
    )
    SELECT doc_id, lang FROM feats
    WHERE nc >= 50 AND nc <= 100000 AND nt >= 10
      AND symbol_ratio <= 0.3 AND uniq_ratio >= 0.1
    """,
)
def q_text_filter_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return quality_filter(d).select("doc_id", "lang")


def _langid_oracle() -> str:
    score_cols, case_arms = [], []
    for lang in sorted(LANG_MARKERS):
        arr = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        score_cols.append(
            f"len(list_intersect(list_distinct(regexp_split_to_array(lower(text), '\\s+')), [{arr}]))"
            f" AS s_{lang}"
        )
        case_arms.append(f"WHEN s_{lang} = mx THEN '{lang}'")
    scores = ",\n           ".join(score_cols)
    greatest = ", ".join(f"s_{lang}" for lang in sorted(LANG_MARKERS))
    arms = "\n             ".join(case_arms)
    return f"""
    WITH scored AS (
      SELECT doc_id, {scores}
      FROM documents
    ), best AS (
      SELECT *, GREATEST({greatest}) AS mx FROM scored
    )
    SELECT doc_id,
           CASE {arms} END AS lang_pred
    FROM best
    """


@case("q_text_langid", oracle=_langid_oracle())
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return language_id(d).select("doc_id", "lang_pred")


@case(
    "q_text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", md5_fingerprint("text").alias("fp"))


@case(
    "q_dedup_exact_text",
    oracle=r"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    return exact_text_dedup(d).select("doc_id", "lang", "n_chars")


_JACCARD_ORACLE_BODY = """
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
"""


@case(
    "q_dedup_ngram_jaccard",
    # cap mirrored: shingles in > 50 docs are stopworded in BOTH engines,
    # so the case stays bit-exact while exercising the bounded plan
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
    ), sh0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS shingle
      FROM words
    ), hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 50
    ), sh AS (
      SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
    ), """
    + _JACCARD_ORACLE_BODY,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, shingle_k=3, threshold=0.8, max_doc_freq=50)


def _minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 MinHash-LSH candidate pairs, shared (fixture memo)
    between q_dedup_minhash and q_dedup_minhash_verify — the signature
    DAG is identical, so it materializes once per session."""
    return shared_df(
        spark,
        ("minhash_cand", sf_dir, 64, 16, 3),
        lambda: minhash_candidate_pairs(
            table(spark, sf_dir, "documents"), num_hashes=64, bands=16, shingle_k=3
        ),
    )


@case(
    "q_dedup_minhash_verify",
    # the scale composition: MinHash-LSH candidates → exact-Jaccard
    # verify. At the registered band settings recall is 1.0 on the
    # planted near-dups (deterministic — xxhash64 is seed-free), so the
    # composed output equals the exact all-pairs Jaccard result and the
    # same SQL oracle applies.
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS shingle
      FROM words
    ), """
    + _JACCARD_ORACLE_BODY,
)
def q_dedup_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return jaccard_verify(d, _minhash_candidates(spark, sf_dir), shingle_k=3, threshold=0.8)


@case("q_dedup_minhash", oracle=None)  # xxhash64 has no DuckDB twin → rows-only
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_candidates(spark, sf_dir)


@case(
    "q_dedup_minhash_md5",
    # the ENTIRE MinHash-LSH pipeline recomputed in SQL: base md5 per
    # shingle → 64 permutation mins (min over fixed-width hex ≡ numeric
    # min; r6 scheme: permutation i = the 8-hex slice i%4 of
    # md5(i//4 || ':' || bh) — one digest per 4 permutations, disjoint
    # bit slices stay independent across shingles) → 16 band hashes →
    # bucket self-join. Bit-exact across engines, so the LSH candidate
    # set itself is oracle-gated — not just rows-only.
    oracle=r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS shingle
      FROM words
    ), base AS (
      SELECT doc_id, md5(shingle) AS bh FROM sh
    ), sig AS (
      SELECT doc_id, seed,
             MIN(substr(md5(concat(CAST(seed // 4 AS VARCHAR), ':', bh)),
                        8 * CAST(seed % 4 AS INT) + 1, 8)) AS mh
      FROM base, range(64) t(seed)
      GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band_idx,
             md5(string_agg(mh, ',' ORDER BY seed)) AS bhash
      FROM sig GROUP BY doc_id, seed // 4
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    """,
)
def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(d, num_hashes=64, bands=16, shingle_k=3, hash_fn="md5")


@case(
    "q_dedup_minhash_incr_md5",
    # Incremental LSH over a corpus split (new = doc_id % 5 == 1, a
    # 20% batch arriving against an 80% store — the incremental
    # proportions a user actually runs): the engine runs minhash_bands
    # on each side and joins the new batch against the store (new×new
    # + new×corpus, never corpus×corpus). The oracle computes the FULL
    # band table and keeps exactly the pairs that touch a new document
    # — the two must be identical, which oracle-gates the incremental
    # path's defining property (no missed new×corpus collision, no
    # stale recompute).
    oracle=r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS shingle
      FROM words
    ), base AS (
      SELECT doc_id, md5(shingle) AS bh FROM sh
    ), sig AS (
      SELECT doc_id, seed,
             MIN(substr(md5(concat(CAST(seed // 4 AS VARCHAR), ':', bh)),
                        8 * CAST(seed % 4 AS INT) + 1, 8)) AS mh
      FROM base, range(64) t(seed)
      GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band_idx,
             md5(string_agg(mh, ',' ORDER BY seed)) AS bhash
      FROM sig GROUP BY doc_id, seed // 4
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    WHERE a.doc_id % 5 = 1 OR b.doc_id % 5 = 1
    """,
)
def q_dedup_minhash_incr_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    kw = dict(num_hashes=64, bands=16, shingle_k=3, hash_fn="md5")
    # Only the CORPUS band store is a pinned fixture — the same
    # train-once/add-forever precedent as q_sim_knn_ivf_incr: in
    # production it is band parquet, built once, appended forever.
    # The NEW batch's bands are deliberately NOT pinned (r8 ADVICE):
    # every ingest tick must band its new batch, so banding the new
    # 20% stays inside the timed region on every run — the bench's
    # best-of-2 reports the honest per-tick cost (new-batch banding +
    # new×new + new×corpus bucket join, never corpus×corpus). The
    # oracle replays the ENTIRE pipeline from raw text, so the corpus
    # pin can never mask a banding bug.
    corpus = shared_df(
        spark,
        ("minhash_band_store", sf_dir, 64, 16, 3, "md5", "mod5"),
        lambda: minhash_bands(d.where(F.col("doc_id") % 5 != 1), **kw),
    )
    new = minhash_bands(d.where(F.col("doc_id") % 5 == 1), **kw)
    return incremental_candidate_pairs(new, corpus)


@case(
    "q_dedup_minhash_del_md5",
    # Tombstone deletes (r9 VERDICT item 3): the corpus band store
    # loses doc_id % 7 == 2 via compact_batch_store(remove_ids=...) —
    # ONE anti-join folded into the rewrite, no signature recompute —
    # and the next incremental tick joins against the compacted
    # baseline. The oracle replays the whole MinHash pipeline from raw
    # text over the REDUCED corpus, so the result must equal a
    # from-scratch rebuild after the deletions: a stale band surviving
    # the tombstone (or an over-deleted survivor) breaks the hash.
    # 32 hashes / 8 bands (vs the incr case's 64/16): the deletion case
    # should re-prove TOMBSTONES, not re-pay the incr case's banding
    # width — and the second hyperparameter combo widens md5-recipe
    # coverage (rows_per_band stays 4, so the one-digest-per-4-perms
    # slicing is exercised at a different band count)
    oracle=r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents WHERE doc_id % 7 != 2
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS shingle
      FROM words
    ), base AS (
      SELECT doc_id, md5(shingle) AS bh FROM sh
    ), sig AS (
      SELECT doc_id, seed,
             MIN(substr(md5(concat(CAST(seed // 4 AS VARCHAR), ':', bh)),
                        8 * CAST(seed % 4 AS INT) + 1, 8)) AS mh
      FROM base, range(32) t(seed)
      GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band_idx,
             md5(string_agg(mh, ',' ORDER BY seed)) AS bhash
      FROM sig GROUP BY doc_id, seed // 4
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    WHERE a.doc_id % 5 = 1 OR b.doc_id % 5 = 1
    """,
)
def q_dedup_minhash_del_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark_pipeline_framework_spark.io.compaction import compact_batch_store
    from pyspark_pipeline_framework_spark.suite.io_cases import _scratch

    d = table(spark, sf_dir, "documents")
    kw = dict(num_hashes=32, bands=8, shingle_k=3, hash_fn="md5")
    # corpus bands: pinned fixture (production precedent: the store is
    # built once, appended forever). The TIMED work each run: the store
    # write, the tombstone compaction (anti-join rewrite) and the
    # incremental bucket join against the compacted baseline.
    corpus = shared_df(
        spark,
        ("minhash_band_store", sf_dir, 32, 8, 3, "md5", "mod5"),
        lambda: minhash_bands(d.where(F.col("doc_id") % 5 != 1), **kw),
    )
    store = _scratch(sf_dir, "band_store_del")
    # REBALANCE: size the store's files by bytes (AQE advisory size),
    # not by the fixture's cached partition count — r12 §6 file sizing
    corpus.hint("rebalance").write.mode("overwrite").parquet(f"{store}/batch_id=0")
    out = _scratch(sf_dir, "band_store_del_c")
    shutil.rmtree(out, ignore_errors=True)  # compaction refuses overwrite
    tomb = d.where(F.col("doc_id") % 7 == 2).select(F.col("doc_id").alias("id"))
    baseline = compact_batch_store(
        spark, store, out, remove_ids=tomb, remove_id_col="id"
    )
    new = minhash_bands(
        d.where((F.col("doc_id") % 5 == 1) & (F.col("doc_id") % 7 != 2)), **kw
    )
    return incremental_candidate_pairs(new, baseline.drop("batch_id"))


@case(
    "q_dedup_minhash_ttl_md5",
    # Sliding-window retention (r10 feature, oracle-gated here for the
    # first time): the corpus band store holds two micro-batches split
    # by doc_id % 3 (batch 0 = the aged-out third, batch 1 = the rest);
    # compact_batch_store(min_batch_id=1) drops batch 0 during the
    # rewrite, and the next incremental tick joins the compacted
    # baseline. The oracle replays the whole MinHash pipeline from raw
    # text over EXACTLY the retained corpus — an aged-out band
    # surviving the cutoff (or an over-dropped retained row) breaks the
    # hash. Same 32/8 md5 recipe as the deletion case.
    oracle=r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
      WHERE doc_id % 5 = 1 OR doc_id % 3 != 0
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS shingle
      FROM words
    ), base AS (
      SELECT doc_id, md5(shingle) AS bh FROM sh
    ), sig AS (
      SELECT doc_id, seed,
             MIN(substr(md5(concat(CAST(seed // 4 AS VARCHAR), ':', bh)),
                        8 * CAST(seed % 4 AS INT) + 1, 8)) AS mh
      FROM base, range(32) t(seed)
      GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band_idx,
             md5(string_agg(mh, ',' ORDER BY seed)) AS bhash
      FROM sig GROUP BY doc_id, seed // 4
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    WHERE a.doc_id % 5 = 1 OR b.doc_id % 5 = 1
    """,
)
def q_dedup_minhash_ttl_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark_pipeline_framework_spark.io.compaction import compact_batch_store
    from pyspark_pipeline_framework_spark.suite.io_cases import _scratch

    d = table(spark, sf_dir, "documents")
    kw = dict(num_hashes=32, bands=8, shingle_k=3, hash_fn="md5")
    # same pinned band fixture as the deletion case (store built once);
    # the TIMED work: two batch writes, the retention compaction, the
    # incremental bucket join against the compacted baseline
    corpus = shared_df(
        spark,
        ("minhash_band_store", sf_dir, 32, 8, 3, "md5", "mod5"),
        lambda: minhash_bands(d.where(F.col("doc_id") % 5 != 1), **kw),
    )
    store = _scratch(sf_dir, "band_store_ttl")
    # REBALANCE both batch writes: files sized by bytes, not by the
    # fixture's cached partition count — r12 §6 file sizing
    corpus.where(F.col("id") % 3 == 0).hint("rebalance").write.mode(
        "overwrite"
    ).parquet(f"{store}/batch_id=0")
    corpus.where(F.col("id") % 3 != 0).hint("rebalance").write.mode(
        "overwrite"
    ).parquet(f"{store}/batch_id=1")
    out = _scratch(sf_dir, "band_store_ttl_c")
    shutil.rmtree(out, ignore_errors=True)  # compaction refuses overwrite
    baseline = compact_batch_store(spark, store, out, min_batch_id=1)
    new = minhash_bands(d.where(F.col("doc_id") % 5 == 1), **kw)
    return incremental_candidate_pairs(new, baseline.drop("batch_id"))


def _simhash_block_pairs(sigs: DataFrame) -> DataFrame:
    """Positional 16-bit-block LSH over simhash signatures: a pair
    within Hamming 3 must agree on at least one of the 4 blocks, which
    bounds the self-join (no N²)."""

    def blocks(h, n=4):
        return F.array(*[F.shiftright(h, 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(n)])

    banded = sigs.select(
        "doc_id", "simhash", F.posexplode(blocks(F.col("simhash"))).alias("blk_i", "blk")
    )
    # the merge hint keeps AQE from broadcasting one side, which would
    # execute the signature subtree twice (build + probe) — the hinted
    # shuffle join's identical per-side exchanges are stage-reused
    # instead (same measured rationale as minhash_candidate_pairs)
    a, b = banded.alias("a"), banded.hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk_i") == F.col("b.blk_i"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .distinct()
    )


@case(
    "q_dedup_simhash",
    # independent oracle formulation: naive per-bit majority count over
    # 60-bit md5 word hashes (cross-checks the engine's SWAR 16-lane
    # aggregation), then the same 16-bit-block LSH + hamming filter
    oracle=r"""
    WITH wh AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
            FROM documents)
    ), nw AS (
      SELECT doc_id, COUNT(*) AS n FROM wh GROUP BY doc_id
    ), bits AS (
      SELECT doc_id, j, SUM((h >> CAST(j AS INT)) & 1) AS cnt
      FROM wh, range(60) t(j) GROUP BY doc_id, j
    ), sig AS (
      SELECT b.doc_id,
             SUM(CASE WHEN b.cnt * 2 > nw.n THEN (1::BIGINT << CAST(b.j AS INT))
                      ELSE 0 END)::BIGINT AS simhash
      FROM bits b JOIN nw ON nw.doc_id = b.doc_id
      GROUP BY b.doc_id
    ), banded AS (
      SELECT doc_id, simhash, blk_i, (simhash >> (16 * blk_i)) & 65535 AS blk
      FROM sig, range(4) t(blk_i)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM banded a JOIN banded b
      ON a.blk_i = b.blk_i AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return _simhash_block_pairs(simhash(d))


def _o_dot(x: str, y: str) -> str:
    """Fixed-point dot product oracle fragment — mirrors the engine's
    ``_dot_decimal`` exactly: floor(p·1e14) as BIGINT, integer sum,
    one rescale (FLOOR because CAST(double AS BIGINT) truncates in
    Spark but rounds in DuckDB)."""
    return (
        f"CAST(list_sum(list_transform(range(1, len({x}) + 1), "
        f"i -> CAST(FLOOR(CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE) * 1e14) AS BIGINT)"
        f")) AS DOUBLE) / 1e14"
    )


def _o_doti(x: str, y: str) -> str:
    """Integer fixed-point dot (no rescale) — for exact argmax/ordering
    and the zero-norm (``doti(v,v) > 0``) exclusion predicates."""
    return (
        f"list_sum(list_transform(range(1, len({x}) + 1), "
        f"i -> CAST(FLOOR(CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE) * 1e14) AS BIGINT)))"
    )


def _o_cos(a: str, b: str) -> str:
    return f"{_o_dot(a, b)} / (SQRT({_o_dot(a, a)}) * SQRT({_o_dot(b, b)}))"


_KNN_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      WHERE vec_id < 5 AND {_o_doti("embedding", "embedding")} > 0
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             {_o_cos("q.qe", "e.embedding")} AS cos_sim
      FROM q JOIN embeddings e
        ON e.vec_id <> q.query_id
       AND {_o_doti("e.embedding", "e.embedding")} > 0
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 5
"""



def _knn_queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5, shared (fixture memo) between
    q_sim_knn and the two recall gates that compare against it."""
    emb = table(spark, sf_dir, "embeddings")
    return shared_df(
        spark,
        ("knn_exact", sf_dir, 5),
        lambda: cosine_topk_bruteforce(emb, _knn_queries(emb), k=5),
    )


def _knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return shared_df(
        spark,
        ("knn_lsh", sf_dir, 5, 4, 8),
        lambda: cosine_topk_lsh(emb, _knn_queries(emb), dim=64, k=5, n_planes=4, n_tables=8),
    )


def _knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return shared_df(
        spark,
        ("knn_ivf", sf_dir, 5, 8, 3),
        lambda: cosine_topk_ivf(emb, _knn_queries(emb), dim=64, k=5, nlist=8, nprobe=3),
    )


@case("q_sim_knn", oracle=_KNN_ORACLE)
def q_sim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_exact(spark, sf_dir).select("query_id", "vec_id", "cos_sim", "rank")


_COS_AB = _o_cos("a.embedding", "b.embedding")


@case(
    "q_dedup_embedding",
    oracle=f"""
    SELECT id_a, id_b, cos_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_AB} AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
       AND {_o_doti("a.embedding", "a.embedding")} > 0
       AND {_o_doti("b.embedding", "b.embedding")} > 0
    ) WHERE cos_sim >= 0.4
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # label-blocked exact cosine near-dup pairs (block bounds the join;
    # swap the block for an LSH bucket at scale)
    from pyspark_pipeline_framework_spark.llm.similarity import embedding_dedup_pairs

    emb = table(spark, sf_dir, "embeddings")
    return embedding_dedup_pairs(emb, threshold=0.4, block_col="label")


def _lsh_md5_oracle(dim: int = 64, n_planes: int = 4, n_tables: int = 8, k: int = 5) -> str:
    """Full ANN-pipeline oracle for the md5-Rademacher LSH: regenerates
    the ±1 planes (inlined as literals from the same md5 parity rule),
    recomputes every plane bit as exact integer arithmetic, rebuilds
    the per-table buckets, the candidate equi-join, the fixed-point
    cosine scores, and the rank filter — end to end in SQL."""
    from pyspark_pipeline_framework_spark.llm.similarity import rademacher_signs

    signs = rademacher_signs(dim, n_planes, n_tables)
    rows = ",\n      ".join(
        f"({t}, {p}, [{', '.join(str(s) for s in signs[t][p])}])"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return f"""
    WITH planes(tbl, p, s) AS (VALUES
      {rows}),
    vq AS (
      SELECT vec_id,
             list_transform(range(1, {dim + 1}),
               i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT)) AS q
      FROM embeddings
      WHERE {_o_doti("embedding", "embedding")} > 0),
    bits AS (
      SELECT v.vec_id, pl.tbl,
             CASE WHEN list_sum(list_transform(range(1, {dim + 1}), i -> v.q[i] * pl.s[i])) > 0
                  THEN 1 << pl.p ELSE 0 END AS bit
      FROM vq v CROSS JOIN planes pl),
    buckets AS (
      SELECT vec_id, tbl, CAST(SUM(bit) AS BIGINT) AS b FROM bits GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id
      FROM buckets qb
      JOIN buckets cb ON qb.tbl = cb.tbl AND qb.b = cb.b AND cb.vec_id <> qb.vec_id
      WHERE qb.vec_id < 5),
    scored AS (
      SELECT c.query_id, c.vec_id, {_o_cos("qe.embedding", "ce.embedding")} AS cos_sim
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ce ON ce.vec_id = c.vec_id)
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
      FROM scored) WHERE rank <= {k}
    """


@case("q_sim_knn_lsh", oracle=_lsh_md5_oracle())
def q_sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-Rademacher LSH ANN: the oracle replays the ENTIRE pipeline
    (plane bits -> buckets -> candidate join -> fixed-point cosine ->
    rank) in SQL, so this approximate operator is hash-gated, not just
    rows-only."""
    return _knn_lsh(spark, sf_dir).select("query_id", "vec_id", "cos_sim", "rank")


def _recall_gate(
    approx: DataFrame, exact: DataFrame, metric: str, threshold: float
) -> DataFrame:
    """One-row recall@k gate: |approx ∩ exact| / |exact| >= threshold,
    computed entirely inside Spark (two one-row aggregates, no
    collect). The planes/model behind the approximate side are
    deterministic, so ``passed`` is a stable fact the DuckDB oracle
    asserts as a literal row — turning a rows-only approximate case
    into a hash-gated assertion. Thresholds sit well under the
    measured recall at sf0.001/0.01/0.1 (LSH 0.60-0.64, IVF
    0.52-0.76) so the gate is about catching regressions, not luck."""
    hits = approx.join(exact, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    totals = exact.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("query_id").alias("n_queries"),
    )
    return hits.crossJoin(F.broadcast(totals)).select(
        F.lit(metric).alias("metric"),
        F.col("n_queries").cast("long").alias("n_queries"),
        (
            F.col("n_hit").cast("double")
            >= F.lit(threshold) * F.col("n_total").cast("double")
        ).alias("passed"),
    )


_RECALL_GATE_ORACLE = (
    "SELECT '{metric}' AS metric, CAST(5 AS BIGINT) AS n_queries, TRUE AS passed"
)


@case("q_sim_knn_lsh_recall", oracle=_RECALL_GATE_ORACLE.format(metric="lsh_recall_at_5"))
def q_sim_knn_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the LSH ANN: recall@5 vs exact brute force must
    clear 0.5."""
    exact = _knn_exact(spark, sf_dir).select("query_id", "vec_id")
    approx = _knn_lsh(spark, sf_dir).select("query_id", "vec_id")
    return _recall_gate(approx, exact, "lsh_recall_at_5", 0.5)


@case("q_sim_knn_ivf_recall", oracle=_RECALL_GATE_ORACLE.format(metric="ivf_recall_at_5"))
def q_sim_knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for IVF ANN: recall@5 vs exact brute force must
    clear 0.4 (nprobe 3 of 8)."""
    exact = _knn_exact(spark, sf_dir).select("query_id", "vec_id")
    approx = _knn_ivf(spark, sf_dir).select("query_id", "vec_id")
    return _recall_gate(approx, exact, "ivf_recall_at_5", 0.4)


def _ivf_model_ctes(
    dim: int, nlist: int, train_iters: int, n_train: int
) -> tuple[list[str], str]:
    """The SQL replay of IVF TRAINING + corpus cell
    assignment (md5-ordered sample, init centroids, each Lloyd
    iteration — exact-integer assign + fixed-point means + renormalize
    — then every corpus vector's argmax cell). Shared by the IVF ANN
    oracle and the semantic-dedup oracle; every arithmetic step mirrors
    ``ivf_train_centroids`` / ``ivf_cells_udf`` bit-for-bit, so a TRAINING bug (not just a search bug) breaks the
    hash match. Returns (ctes ending in ``corpuscell``, final centroid
    CTE name)."""
    # zero-guard mirrors similarity._normalize_rows_np: a row
    # whose fixed-point norm is 0 stays unnormalized (divide by 1) —
    # never a NaN centroid (r8 magnitude-fuzz finding)
    norm_of = lambda arr: (  # noqa: E731
        f"(CASE WHEN {_o_doti(arr, arr)} = 0 THEN 1 "
        f"ELSE SQRT(CAST({_o_doti(arr, arr)} AS DOUBLE) / 1e14) END)"
    )
    ctes = [
        f"""sample AS (
      SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM embeddings QUALIFY rn <= {n_train})""",
        f"""c0 AS (
      SELECT rn - 1 AS j, list_transform(embedding, v -> CAST(v AS DOUBLE) / nrm) AS c
      FROM (SELECT rn, embedding, {norm_of("embedding")} AS nrm
            FROM sample WHERE rn <= {nlist}))""",
    ]
    for i in range(1, train_iters + 1):
        prev = f"c{i - 1}"
        ctes += [
            f"""a{i} AS (
      SELECT vec_id, embedding, j FROM (
        SELECT s.vec_id, s.embedding, c.j,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {_o_doti("s.embedding", "c.c")} DESC, c.j) AS r
        FROM sample s CROSS JOIN {prev} c) WHERE r = 1)""",
            f"""m{i} AS (
      SELECT a.j, g.d,
             SUM(CAST(FLOOR(CAST(a.embedding[g.d] AS DOUBLE) * 1e9) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM a{i} a CROSS JOIN generate_series(1, {dim}) g(d) GROUP BY 1, 2)""",
            f"""mm{i} AS (
      SELECT j, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) ORDER BY d) AS m
      FROM m{i} GROUP BY j)""",
            f"""cm{i} AS (
      SELECT c.j, COALESCE(mm.m, c.c) AS m
      FROM {prev} c LEFT JOIN mm{i} mm ON c.j = mm.j)""",
            f"""c{i} AS (
      SELECT j, list_transform(m, v -> v / nrm) AS c
      FROM (SELECT j, m, {norm_of("m")} AS nrm FROM cm{i}))""",
        ]
    final = f"c{train_iters}"
    ctes += [
        f"""corpuscell AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.j AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_o_doti("e.embedding", "c.c")} DESC, c.j) AS r
        FROM embeddings e CROSS JOIN {final} c
        WHERE {_o_doti("e.embedding", "e.embedding")} > 0) WHERE r = 1)""",
    ]
    return ctes, final


def _ivf_exact_oracle(
    dim: int = 64,
    nlist: int = 8,
    nprobe: int = 3,
    train_iters: int = 2,
    n_train: int = 256,
    k: int = 5,
    n_query: int = 5,
    del_pred: str | None = None,
) -> str:
    """IVF ANN oracle: trained model + cell assignment from
    :func:`_ivf_model_ctes`, then query probing, candidate join,
    scoring, ranking replayed in SQL. ``del_pred`` (a SQL predicate
    over ``cc.vec_id``) replays a tombstone delete as a rebuilt store:
    the quantizer stays trained on the FULL corpus (exactly what the
    engine's frozen-model compaction preserves) and only the candidate
    rows are reduced — search-after-remove_ids must equal this."""
    ctes, final = _ivf_model_ctes(dim, nlist, train_iters, n_train)
    not_deleted = f" AND NOT ({del_pred})" if del_pred else ""
    ctes += [
        f"""probe AS (
      SELECT query_id, cell FROM (
        SELECT e.vec_id AS query_id, c.j AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_o_doti("e.embedding", "c.c")} DESC, c.j) AS r
        FROM embeddings e CROSS JOIN {final} c
        WHERE e.vec_id < {n_query}
          AND {_o_doti("e.embedding", "e.embedding")} > 0) WHERE r <= {nprobe})""",
        f"""cand AS (
      SELECT p.query_id, cc.vec_id
      FROM probe p JOIN corpuscell cc
        ON cc.cell = p.cell AND cc.vec_id <> p.query_id{not_deleted})""",
        f"""scored AS (
      SELECT c.query_id, c.vec_id, {_o_cos("qe.embedding", "ce.embedding")} AS cos_sim
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ce ON ce.vec_id = c.vec_id)""",
    ]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
      FROM scored) WHERE rank <= {k}
    """


@case("q_sim_knn_ivf", oracle=_ivf_exact_oracle(n_train=1024))
def q_sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN at the trainer's default sample (1024 rows at
    nlist 8), nprobe-cell probing; the oracle replays training and
    search."""
    return _knn_ivf(spark, sf_dir).select("query_id", "vec_id", "cos_sim", "rank")


@case("q_sim_knn_ivf_exact", oracle=_ivf_exact_oracle())
def q_sim_knn_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN on a 256-row sample: md5-ordered training sample +
    fixed-point Lloyd + integer-dot cell assignment. The oracle
    replays training AND search in SQL, so the trained model itself
    is hash-gated."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_ivf(
        emb, queries, dim=64, k=5, nlist=8, nprobe=3, train_sample=256
    ).select("query_id", "vec_id", "cos_sim", "rank")


@case("q_sim_knn_ivf_incr", oracle=_ivf_exact_oracle())
def q_sim_knn_ivf_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL IVF path under the same oracle as the one-shot:
    quantizer trained once on the full corpus, vectors then indexed in
    two separate ivf_add batches (FAISS's train-once/add-forever
    contract), searched over the unioned store. Because assignment is
    map-only and deterministic under the frozen quantizer, the grown
    index must return bit-identical results to the batch pipeline the
    SQL oracle replays."""
    from pyspark_pipeline_framework_spark.llm.similarity import (
        ivf_add,
        ivf_index,
        ivf_search,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # quantizer + assigned store are the PERSISTED artifacts of the
    # train-once/add-forever contract (in production: centroid parquet
    # + a cell-partitioned store); memoized so repeat runs time the
    # user-repeated operation — searching the grown index. First touch
    # still pays train+assign, bench's best-of-2 reports the search.
    cdf = shared_df(
        spark,
        ("ivf_centroids", sf_dir, 64, 8, 256),
        lambda: ivf_index(emb, dim=64, nlist=8, train_sample=256)[0],
    )
    store = shared_df(
        spark,
        ("ivf_store_incr", sf_dir, 64, 8, 256),
        lambda: ivf_add(
            emb.where(F.col("vec_id") % 2 == 0), cdf, dim=64
        ).union(
            ivf_add(emb.where(F.col("vec_id") % 2 == 1), cdf, dim=64)
        ),
    )
    return ivf_search(
        store, cdf, queries, dim=64, k=5, nprobe=3
    ).select("query_id", "vec_id", "cos_sim", "rank")


@case(
    "q_sim_knn_ivf_del",
    oracle=_ivf_exact_oracle(del_pred="cc.vec_id % 7 = 2"),
    category="llm",
)
def q_sim_knn_ivf_del(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone deletes for the IVF vector store (r10 VERDICT item 3,
    extending the q_dedup_minhash_del_md5 gate to ANN stores): the
    assigned store loses vec_id % 7 == 2 via
    compact_batch_store(remove_ids=...) — ONE anti-join folded into
    the compaction rewrite, no re-assignment — and the search runs
    against the compacted cell-partitioned baseline with static
    pruning. The oracle replays the FULL-corpus-trained quantizer
    (frozen, exactly what compaction preserves) and a store rebuilt on
    the reduced corpus: a stale row surviving the tombstone, or an
    over-deleted survivor, breaks the hash."""
    import shutil

    from pyspark_pipeline_framework_spark.io.compaction import compact_batch_store
    from pyspark_pipeline_framework_spark.llm.similarity import (
        ivf_add,
        ivf_index,
        ivf_search,
    )
    from pyspark_pipeline_framework_spark.suite.io_cases import _scratch

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cdf = shared_df(
        spark,
        ("ivf_centroids", sf_dir, 64, 8, 256),
        lambda: ivf_index(emb, dim=64, nlist=8, train_sample=256)[0],
    )
    # assigned store: pinned fixture under the frozen quantizer (the
    # persisted artifact of train-once/add-forever); the TIMED work is
    # the store write + tombstone compaction + pruned search
    assigned = shared_df(
        spark,
        ("ivf_store_full", sf_dir, 64, 8, 256),
        lambda: ivf_add(emb, cdf, dim=64),
    )
    store = _scratch(sf_dir, "ivf_store_del")
    # REBALANCE: r12 §6 file sizing (see q_dedup_minhash_del_md5)
    assigned.hint("rebalance").write.mode("overwrite").parquet(f"{store}/batch_id=0")
    out = _scratch(sf_dir, "ivf_store_del_c")
    shutil.rmtree(out, ignore_errors=True)  # compaction refuses overwrite
    tomb = emb.where(F.col("vec_id") % 7 == 2).select("vec_id")
    baseline = compact_batch_store(
        spark, store, out, remove_ids=tomb, remove_id_col="vec_id",
        partition_by=["cell"],
    )
    return ivf_search(
        baseline.drop("batch_id"), cdf, queries, dim=64, k=5, nprobe=3,
        prune_cells=True,
    ).select("query_id", "vec_id", "cos_sim", "rank")


@case(
    "q_llm_pipeline",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id, lang, text, LENGTH(text) AS nc,
             len(regexp_split_to_array(trim(text), '\s+')) AS nt,
             CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
               / LENGTH(text) AS symbol_ratio,
             CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')) AS uniq_ratio
      FROM documents
    ), passed AS (
      SELECT doc_id, lang, text FROM feats
      WHERE nc >= 50 AND nc <= 100000 AND nt >= 10
        AND symbol_ratio <= 0.3 AND uniq_ratio >= 0.1
    ), deduped AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               ROW_NUMBER() OVER (
                 PARTITION BY sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM passed
      ) WHERE rn = 1
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DECIMAL(38,6))) AS DOUBLE)
             AS total_tokens
    FROM deduped GROUP BY lang
    """,
)
def q_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data shape: quality filter → exact dedup
    → per-language token accounting, composed from the llm operators —
    all lazy, one Catalyst plan."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    passed = quality_filter(d).select("doc_id", "lang", "text")
    deduped = exact_text_dedup(passed)
    return (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_ws("text").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_tokens"),
        )
    )


# doc_id → shard/bucket, engine-portable: first-8-hex md5 as uint32
# (Spark conv(...,16,10) ≡ DuckDB CAST('0x'||... AS BIGINT), verified
# bit-identical)
def _o_md5_bucket(salt: str, modulus: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':{salt}')), 1, 8))"
        f" AS BIGINT) % {modulus}"
    )


# greedy packing as a recursive CTE: state (nxt_pack, nxt_used) carried
# row-to-row in doc_id order within each shard — an independent
# formulation of pack_shard's sequential fold, so agreement is strong
# evidence, not a shared-code tautology. Iterations = max rows/shard.
_PACK_ORACLE = rf"""
    WITH RECURSIVE sharded AS (
      SELECT doc_id,
             CAST({_o_md5_bucket("shard", 8)} AS INT) AS shard,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
      FROM documents
    ), docs AS (
      SELECT doc_id, shard, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM sharded
    ), rec AS (
      SELECT shard, rn, doc_id, n_tokens,
             0::BIGINT AS pack_id,
             CASE WHEN n_tokens >= 256 THEN 1 ELSE 0 END::BIGINT AS nxt_pack,
             CASE WHEN n_tokens >= 256 THEN 0 ELSE n_tokens END AS nxt_used
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN r.nxt_used > 0 AND r.nxt_used + d.n_tokens > 256
                  THEN r.nxt_pack + 1 ELSE r.nxt_pack END AS asg,
             CASE WHEN (CASE WHEN r.nxt_used > 0 AND r.nxt_used + d.n_tokens > 256
                             THEN d.n_tokens ELSE r.nxt_used + d.n_tokens END) >= 256
                  THEN asg + 1 ELSE asg END AS np,
             CASE WHEN (CASE WHEN r.nxt_used > 0 AND r.nxt_used + d.n_tokens > 256
                             THEN d.n_tokens ELSE r.nxt_used + d.n_tokens END) >= 256
                  THEN 0
                  ELSE (CASE WHEN r.nxt_used > 0 AND r.nxt_used + d.n_tokens > 256
                             THEN d.n_tokens ELSE r.nxt_used + d.n_tokens END) END AS nu
      FROM rec r JOIN docs d ON d.shard = r.shard AND d.rn = r.rn + 1
    )
    SELECT doc_id, shard, pack_id, n_tokens FROM rec
"""


@case("q_llm_pack", oracle=_PACK_ORACLE)
def q_llm_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_pipeline_framework_spark.llm.packing import pack_sequences

    d = table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tokens")
    )
    return pack_sequences(d, max_tokens=256, num_shards=8)


@case(
    "q_llm_split",
    oracle=f"""
    WITH b AS (
      SELECT lang, {_o_md5_bucket("split", 10000)} AS bucket FROM documents
    ), s AS (
      SELECT lang, CASE WHEN bucket < 8000 THEN 'train'
                        WHEN bucket < 9000 THEN 'valid'
                        ELSE 'test' END AS split
      FROM b
    )
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY split, lang
    """,
)
def q_llm_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_pipeline_framework_spark.llm.packing import split_by_hash

    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        split_by_hash(d, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1})
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@case(
    "q_mm_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, least(length(text), 16) + 1),
                  i -> ascii(substr(text, i, 1)))) AS BIGINT) AS head_checksum
    FROM documents
    """,
)
def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(d)
    return extract_features(payloads).select("doc_id", "n_bytes", "head_checksum")


@case(
    "q_mm_probe",
    oracle="""
    SELECT doc_id, 'png' AS format,
           CAST(doc_id % 1000 AS INT) AS width,
           CAST(n_chars % 800 + 1 AS INT) AS height
    FROM documents
    """,
)
def q_mm_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL decode with an exact oracle: Spark BUILDS a valid
    PNG header per document (magic + IHDR, width/height packed
    big-endian from doc_id/n_chars via hex/unhex — pure column
    expressions), then :func:`probe_media` PARSES the binary back in
    Arrow batches on executors. The oracle never touches bytes — it
    computes the expected dimensions arithmetically, so any drift in
    either the builder or the parser is a hash mismatch.
    Multimodal parity: the reference has no media ops at all
    ([beyond-ref], SURVEY §2.8); decode beyond headers stays behind the
    pluggable codec (:func:`extract_features`)."""
    from pyspark_pipeline_framework_spark.llm.multimodal import probe_media

    d = table(spark, sf_dir, "documents")
    payload = F.expr(
        "concat(X'89504E470D0A1A0A', unhex('0000000D'), encode('IHDR', 'utf-8'), "
        "unhex(lpad(hex(doc_id % 1000), 8, '0')), "
        "unhex(lpad(hex(n_chars % 800 + 1), 8, '0')), X'08')"
    )
    return (
        probe_media(d.select("doc_id", payload.alias("payload")))
        .select("doc_id", "format", "width", "height")
    )


@case(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR || 'sample'), 1, 8))::BIGINT < 1288490188
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-keyed 30% sample — bit-reproducible on any
    engine (the oracle recomputes the identical keep-set in DuckDB)."""
    from pyspark_pipeline_framework_spark.llm.packing import stratified_sample

    d = table(spark, sf_dir, "documents")
    return stratified_sample(d, rate=0.3, id_col="doc_id", strata_col="lang").select(
        "doc_id", "lang"
    )


@case(
    "q_llm_domain_mix",
    # arithmetic structure mirrored EXACTLY (parenthesization included):
    # rate = LEAST(1, ((tf·N)·w) / (S·n)), w = sqrt(n), S = decimal-sum
    # of weights, keep iff md5-uint32 < rate·2^32
    oracle="""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
    ), w AS (
      SELECT source, n, SQRT(CAST(n AS DOUBLE)) AS w FROM c
    ), t AS (
      SELECT CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS S,
             CAST(SUM(n) AS DOUBLE) AS N
      FROM w
    ), r AS (
      SELECT w.source,
             LEAST(1.0, ((0.5 * t.N) * w.w) / (t.S * CAST(w.n AS DOUBLE))) AS rate
      FROM w CROSS JOIN t
    )
    SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8))::BIGINT
               AS DOUBLE) < r.rate * 4294967296.0
    """,
)
def q_llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted domain mixing (p_d ∝ sqrt(n_d), expected
    half the corpus): deterministic md5 keep-set, exact per-domain
    rates — the oracle recomputes rates AND membership."""
    from pyspark_pipeline_framework_spark.llm.packing import domain_mix_sample

    d = table(spark, sf_dir, "documents")
    return domain_mix_sample(
        d, domain_col="source", alpha=0.5, target_fraction=0.5
    ).select("doc_id", "source")


@case(
    "q_text_repetition",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), c1 AS (
      SELECT doc_id, g, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(w) AS g FROM words) GROUP BY 1, 2
    ), s1 AS (
      SELECT doc_id, MAX(c) AS m1, SUM(c) AS t1 FROM c1 GROUP BY 1
    ), c2 AS (
      SELECT doc_id, g, COUNT(*) AS c
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                         i -> w[i] || ' ' || w[i + 1])) AS g
            FROM words) GROUP BY 1, 2
    ), s2 AS (
      SELECT doc_id, MAX(c) AS m2, SUM(c) AS t2 FROM c2 GROUP BY 1
    )
    SELECT s1.doc_id,
           CAST(s1.m1 AS DOUBLE) / CAST(s1.t1 AS DOUBLE) AS top1_frac,
           COALESCE(CAST(s2.m2 AS DOUBLE) / CAST(s2.t2 AS DOUBLE), 0.0) AS top2_frac
    FROM s1 LEFT JOIN s2 ON s1.doc_id = s2.doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition fractions (top word / top
    2-gram share) — boilerplate and degenerate-generation filters."""
    from pyspark_pipeline_framework_spark.llm.text import repetition_stats

    d = table(spark, sf_dir, "documents")
    return repetition_stats(d)


@case(
    "q_decontaminate",
    oracle=r"""
    WITH tr AS (
      SELECT doc_id AS id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS s
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
            FROM documents WHERE source <> 'src0')
    ), ev AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS s
      FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w
            FROM documents WHERE source = 'src0')
    ), m AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_matched
      FROM tr WHERE s IN (SELECT s FROM ev) GROUP BY id
    ), t AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM tr GROUP BY id
    )
    SELECT t.id, t.n_shingles,
           CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
           CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / t.n_shingles AS overlap_ratio,
           (CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / t.n_shingles) >= 0.5 AS contaminated
    FROM t LEFT JOIN m ON m.id = t.id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (source != src0) flagged
    by 3-gram overlap against the broadcast eval set (source == src0)."""
    from pyspark_pipeline_framework_spark.llm.dedup import decontaminate

    d = table(spark, sf_dir, "documents")
    return decontaminate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        shingle_k=3,
        threshold=0.5,
    )


_CLUSTER_ORACLE = r"""
    WITH RECURSIVE words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS shingle
      FROM words
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT d.doc_id,
           COALESCE(LEAST(d.doc_id, MIN(r.v)), d.doc_id) AS cluster_id,
           COALESCE(LEAST(d.doc_id, MIN(r.v)), d.doc_id) <> d.doc_id AS is_duplicate
    FROM documents d
    LEFT JOIN reach r ON r.u = d.doc_id
    GROUP BY d.doc_id
    """


def _cluster_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.8 edge list, shared (fixture memo)
    between the cluster cases."""
    return shared_df(
        spark,
        ("cluster_pairs", sf_dir, 3, 0.8),
        lambda: ngram_jaccard_pairs(
            table(spark, sf_dir, "documents"), shingle_k=3, threshold=0.8
        ),
    )


@case("q_dedup_cluster", oracle=_CLUSTER_ORACLE)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization end-to-end: exact 3-gram Jaccard
    pairs (>= 0.8) -> connected components (large-star/small-star
    contraction) -> every doc mapped to its component's smallest id.
    The oracle walks the same edges with a recursive CTE —
    transitive-closure semantics, so the iterative Spark contraction is
    checked against an independent fixpoint formulation."""
    from pyspark_pipeline_framework_spark.llm.dedup import dedup_clusters

    d = table(spark, sf_dir, "documents")
    return dedup_clusters(d, _cluster_pairs(spark, sf_dir))


def _pii_oracle() -> str:
    """Synthesizes deterministic PII-bearing text from customer keys in
    SQL (same construction as the Spark case), then replays detection
    (len(regexp_extract_all)) and the ordered redaction chain
    (regexp_replace ... 'g'). Patterns are the Java∩RE2-safe subset
    from llm/text.py — identical match semantics in both engines."""
    from pyspark_pipeline_framework_spark.llm.text import PII_RULES

    counts = ",\n      ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat, _ in PII_RULES
    )
    red = "text"
    for _, pat, token in PII_RULES:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return f"""
    WITH base AS (
      SELECT c_custkey AS doc_id,
             'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
             || '@example.com or +1-555-'
             || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
             || ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR)
             || '.17 ssn 123-45-6789 done' AS text
      FROM customer
    )
    SELECT doc_id,
      {counts},
      {red} AS redacted
    FROM base
    """


@case("q_text_pii", oracle=_pii_oracle())
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (email / IPv4 / SSN / phone) over
    deterministic synthesized contact strings: counts on the original
    text, then the ordered digit-free-token redaction chain. Map-only
    regexp expressions — a single scan at any scale."""
    from pyspark_pipeline_framework_spark.llm.text import pii_redact, pii_stats

    c = table(spark, sf_dir, "customer")
    txt = F.concat(
        F.lit("reach "),
        F.col("c_name"),
        F.lit(" at user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".17 ssn 123-45-6789 done"),
    )
    base = c.select(F.col("c_custkey").alias("doc_id"), txt.alias("text"))
    out = pii_redact(pii_stats(base))
    return out.select("doc_id", "n_email", "n_ipv4", "n_ssn", "n_phone", "redacted")


@case(
    "q_text_urls",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             text || ' see https://' || source || '.example.com/p/'
                  || CAST(doc_id AS VARCHAR) || ' and http://mirror.net/' || source AS text
      FROM documents
    ), u AS (
      SELECT doc_id,
             regexp_extract_all(text, 'https?://[^\s]+') AS urls
      FROM base
    )
    SELECT doc_id,
           CAST(len(urls) AS INT) AS n_urls,
           CAST(len(list_distinct(list_transform(urls,
                x -> regexp_extract(x, 'https?://([^/\s]+)', 1)))) AS INT) AS n_domains,
           list_min(list_transform(urls,
                x -> regexp_extract(x, 'https?://([^/\s]+)', 1))) AS first_domain
    FROM u
    """,
)
def q_text_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction stats (count, distinct domains, lexicographic
    first domain) over documents with deterministic appended URLs —
    array expressions only, no explode, no shuffle."""
    from pyspark_pipeline_framework_spark.llm.text import url_stats

    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://"),
            F.col("source"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://mirror.net/"),
            F.col("source"),
        ).alias("text"),
    )
    return url_stats(base)


@case(
    "q_text_vocab",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS tf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_docs
    FROM w GROUP BY term ORDER BY tf DESC, term LIMIT 50
    """,
)
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-50 words by total term frequency with
    document frequency; deterministic tie-break by term. Map-side
    partial aggregation + TakeOrderedAndProject top-k."""
    from pyspark_pipeline_framework_spark.llm.text import vocab_topk

    d = table(spark, sf_dir, "documents")
    return vocab_topk(d, k=50)


@case(
    "q_dedup_passages",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), p AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(w) - 19, 1) + 1, 20)) AS pos,
             w
      FROM words
    )
    SELECT doc_id,
           CAST(pos AS BIGINT) AS pos,
           md5(array_to_string(list_slice(w, pos, pos + 19), ' ')) AS passage_hash,
           ROW_NUMBER() OVER (
             PARTITION BY md5(array_to_string(list_slice(w, pos, pos + 19), ' '))
             ORDER BY doc_id, pos) > 1 AS is_duplicate
    FROM p
    """,
)
def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (20-word windows, stride 20, md5):
    every passage occurrence after the corpus-wide first is flagged.
    The oracle recuts, rehashes, and re-ranks every passage in SQL."""
    from pyspark_pipeline_framework_spark.llm.dedup import passage_dedup

    d = table(spark, sf_dir, "documents")
    return passage_dedup(d, window=20, stride=20)


@case(
    "q_dedup_substring",
    # ExactSubstr span dedup (r11): grams, corpus-wide counts and the
    # gaps-and-islands span merge all replayed in SQL — a span boundary
    # off by one token breaks the hash
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), gx AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 7, 0) + 1),
               i -> {'p': CAST(i AS BIGINT),
                     'gh': md5(array_to_string(list_slice(w, i, i + 7), ' '))})) AS u
      FROM toks
    ), g AS (
      SELECT doc_id, u.p AS p, u.gh AS gh FROM gx
    ), d AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2
    ), dp AS (
      SELECT g.doc_id, g.p,
             ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.p) AS rn
      FROM g JOIN d USING (gh)
    )
    SELECT doc_id, MIN(p) AS start_tok, MAX(p) + 7 AS end_tok,
           MAX(p) + 7 - MIN(p) + 1 AS span_tokens
    FROM dp GROUP BY doc_id, p - rn
    """,
    category="llm",
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (the ExactSubstr shape,
    llm/dedup.py duplicated_spans): maximal token spans whose every
    8-gram occurs at least twice corpus-wide — the regions a pipeline
    CUTS while keeping the unique remainder, finer-grained than
    document- or passage-level dedup. One gram explode, one hash-count
    shuffle, one equi-join back, one per-doc islands window — never
    all-pairs."""
    from pyspark_pipeline_framework_spark.llm.dedup import duplicated_spans

    d = table(spark, sf_dir, "documents")
    return duplicated_spans(d, min_tokens=8)


@case(
    "q_dedup_substring_cut",
    # detect + CUT composed: the oracle recomputes the spans (same CTEs
    # as q_dedup_substring) and applies them with the same 1-based
    # indexed token filter — clean_text is value-hashed verbatim, so a
    # single surviving/dropped token breaks the gate
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), gx AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 7, 0) + 1),
               i -> {'p': CAST(i AS BIGINT),
                     'gh': md5(array_to_string(list_slice(w, i, i + 7), ' '))})) AS u
      FROM toks
    ), g AS (
      SELECT doc_id, u.p AS p, u.gh AS gh FROM gx
    ), d AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2
    ), dp AS (
      SELECT g.doc_id, g.p,
             ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.p) AS rn
      FROM g JOIN d USING (gh)
    ), sp AS (
      SELECT doc_id, MIN(p) AS s, MAX(p) + 7 AS e
      FROM dp GROUP BY doc_id, p - rn
    ), agg AS (
      SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM sp GROUP BY doc_id
    ), cut AS (
      SELECT t.doc_id,
             list_filter(COALESCE(t.w, []),
               (x, i) -> len(list_filter(COALESCE(a.spans, []),
                              spn -> i >= spn.s AND i <= spn.e)) = 0) AS kept,
             len(COALESCE(t.w, [])) AS n_all
      FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
    )
    SELECT doc_id,
           COALESCE(array_to_string(kept, ' '), '') AS clean_text,
           CAST(n_all - len(kept) AS BIGINT) AS removed_tokens
    FROM cut
    """,
    category="llm",
)
def q_dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """detect → cut composed: duplicated_spans finds the maximal
    duplicated regions, cut_spans drops exactly those tokens and keeps
    each document's unique remainder — the full exact-substring dedup
    treatment as one lazy plan."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        cut_spans,
        duplicated_spans,
    )

    d = table(spark, sf_dir, "documents")
    spans = duplicated_spans(d, min_tokens=8)
    return cut_spans(d, spans).select("doc_id", "clean_text", "removed_tokens")


@case(
    "q_dedup_substring_incr",
    # Incremental ExactSubstr (r12): the corpus is split 80/20
    # (new = doc_id % 5 == 1), the 80% side's gram-position store,
    # partial-count store and span table are pinned fixtures (in
    # production they are parquet, built once, appended forever); the
    # timed region grams the NEW batch, joins it against the stores
    # (new-batch vocabulary lookups + the affected-doc re-read, never
    # a corpus re-hash) and folds the updated docs into the prior span
    # table. The oracle computes spans FROM SCRATCH over the full
    # corpus — equality gates the incremental path's defining property:
    # no missed newly-duplicated gram (hist==1 crossing), no stale
    # span on an affected old doc, no spurious recompute elsewhere.
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ), gx AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 7, 0) + 1),
               i -> {'p': CAST(i AS BIGINT),
                     'gh': md5(array_to_string(list_slice(w, i, i + 7), ' '))})) AS u
      FROM toks
    ), g AS (
      SELECT doc_id, u.p AS p, u.gh AS gh FROM gx
    ), d AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2
    ), dp AS (
      SELECT g.doc_id, g.p,
             ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.p) AS rn
      FROM g JOIN d USING (gh)
    )
    SELECT doc_id, MIN(p) AS start_tok, MAX(p) + 7 AS end_tok,
           MAX(p) + 7 - MIN(p) + 1 AS span_tokens
    FROM dp GROUP BY doc_id, p - rn
    """,
    category="llm",
)
def q_dedup_substring_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-substring dedup: the 20% new batch's spans
    plus the re-spanned affected old docs, merged into the pinned
    prior span table — must equal a from-scratch duplicated_spans over
    the grown corpus (llm/dedup.py incremental_duplicated_spans)."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        duplicated_spans,
        incremental_duplicated_spans,
        merge_span_tables,
        substring_count_partials,
        substring_gram_stream,
    )

    d = table(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 5 != 1)
    corpus_grams = shared_df(
        spark,
        ("substr_gram_store", sf_dir, 8, "mod5"),
        lambda: substring_gram_stream(old, 8),
    )
    corpus_counts = shared_df(
        spark,
        ("substr_count_store", sf_dir, 8, "mod5"),
        lambda: substring_count_partials(substring_gram_stream(old, 8)),
    )
    prior = shared_df(
        spark,
        ("substr_prior_spans", sf_dir, 8, "mod5"),
        lambda: duplicated_spans(old, min_tokens=8),
    )
    new_grams = substring_gram_stream(d.where(F.col("doc_id") % 5 == 1), 8)
    upd = incremental_duplicated_spans(
        new_grams, corpus_grams, corpus_counts, min_tokens=8
    )
    return merge_span_tables(prior, upd)


@case(
    "q_emb_centroids",
    oracle="""
    SELECT label,
           CAST(g.d - 1 AS INT) AS d,
           CAST(SUM(CAST(FLOOR(CAST(embedding[g.d] AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1e9) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM embeddings CROSS JOIN generate_series(1, 64) g(d)
    GROUP BY label, g.d
    """,
)
def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form — fixed-point integer
    sums (order-independent, partitioning-proof), one double division;
    the oracle replays the identical arithmetic per (label, dim)."""
    from pyspark_pipeline_framework_spark.llm.similarity import embedding_centroids

    e = table(spark, sf_dir, "embeddings")
    return embedding_centroids(e, key_col="label")


@case(
    "q_corpus_stats",
    oracle=r"""
    WITH per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
             CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
      FROM documents GROUP BY source
    ), t AS (SELECT CAST(SUM(total_tokens) AS DOUBLE) AS ct FROM per)
    SELECT source, n_docs, total_tokens, total_chars,
           CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
           CAST(total_tokens AS DOUBLE) / t.ct AS token_share
    FROM per CROSS JOIN t
    """,
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus accounting (docs, tokens, chars, mean tokens,
    token share) — exact integer counts, two IEEE divisions."""
    from pyspark_pipeline_framework_spark.llm.text import corpus_stats

    d = table(spark, sf_dir, "documents")
    return corpus_stats(d, by="source")


@case(
    "q_text_chunks",
    # Spark sequence(1,G,48) inclusive-stop ≡ DuckDB range(1,G+1,48)
    # exclusive-stop; chunk_id recovered arithmetically from the start
    # offset; slice/list_slice clamp identically at the tail
    oracle=r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    ), starts AS (
      SELECT doc_id, w, unnest(range(1, greatest(len(w) - 16, 1) + 1, 48)) AS s
      FROM words
    )
    SELECT doc_id,
           CAST((s - 1) // 48 AS INT) AS chunk_id,
           CAST(len(list_slice(w, s, s + 63)) AS INT) AS n_chunk_tokens,
           array_to_string(list_slice(w, s, s + 63), ' ') AS chunk_text
    FROM starts
    """,
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, 16-token
    overlap) — the RAG / long-context prep step. Map-only codegen
    expressions; the oracle recuts every chunk."""
    from pyspark_pipeline_framework_spark.llm.packing import chunk_documents

    d = table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=64, overlap=16)


@case(
    "q_emb_quantize",
    # abs/max/divide/multiply/floor are correctly-rounded IEEE ops —
    # bit-equal across engines; FLOOR before the int cast (DuckDB CAST
    # rounds, Spark truncates)
    oracle="""
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS mx
      FROM embeddings
    )
    SELECT vec_id,
           CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0)
                ELSE list_transform(embedding,
                       x -> GREATEST(-127, LEAST(127,
                              CAST(FLOOR(CAST(x AS DOUBLE) / mx * 127.0) AS INT))))
           END AS q_embedding,
           mx / 127.0 AS q_scale
    FROM m
    """,
)
def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embeddings table
    (~4x storage shrink ahead of a sink); oracle replays every
    component exactly."""
    from pyspark_pipeline_framework_spark.llm.similarity import quantize_embeddings

    emb = table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb).select("vec_id", "q_embedding", "q_scale")


# ------------------------------------------------------------------ retrieval

#: the three fixed benchmark queries of the BM25 suite case
_BM25_QUERIES = [(0, "hash join"), (1, "vector scan filter"), (2, "slow batch merge")]
_BM25_QUERY_VALUES = ", ".join(f"({i}, '{q}')" for i, q in _BM25_QUERIES)


def _bm25_oracle(query_values: str, top_k: int = 10) -> str:
    """The FULL BM25 pipeline replayed in SQL: tokenize -> postings ->
    doc length -> corpus stats -> query-term df -> rational-idf
    fixed-point score (exact wide-integer numerators/denominators —
    HUGEINT here mirroring Spark's DECIMAL(38,0), both overflow-safe
    past BIGINT and correctly rounded on the double cast — one
    exactly-rounded double division each; see llm/retrieval.py module
    docstring for the k1=1.2,b=0.75 algebra) -> per-query rank. Every
    arithmetic step mirrors bm25_topk(idf_mode="rational") bit-for-bit.
    Parameterized over the query set and k for the fuzzer."""
    return rf"""
    WITH q(query_id, query) AS (VALUES {query_values}),
    toks AS (
      SELECT id, unnest(tt) AS term, len(tt) AS dl
      FROM (SELECT doc_id AS id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                               x -> x <> '') AS tt
            FROM documents)
    ), post AS (
      SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(MIN(dl) AS BIGINT) AS dl
      FROM toks GROUP BY 1, 2
    ), stats AS (
      SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
             CAST(SUM(tf) AS BIGINT) AS s_total FROM post
    ), qt AS (
      SELECT DISTINCT query_id,
             unnest(regexp_split_to_array(trim(lower(query)), '\s+')) AS term
      FROM q
    ), dfreq AS (
      SELECT p.term, CAST(COUNT(*) AS BIGINT) AS dfreq
      FROM post p WHERE p.term IN (SELECT term FROM qt) GROUP BY 1
    ), sc AS (
      SELECT qt.query_id, p.id,
             CAST(SUM(CAST(FLOOR(1000000.0
               * (CAST(2 * st.n_docs - 2 * d.dfreq + 1 AS DOUBLE)
                  / CAST(2 * d.dfreq + 1 AS DOUBLE))
               * (CAST(22 * CAST(st.s_total AS HUGEINT) * p.tf AS DOUBLE)
                  / CAST(10 * CAST(st.s_total AS HUGEINT) * p.tf
                         + 3 * CAST(st.s_total AS HUGEINT)
                         + 9 * CAST(p.dl AS HUGEINT) * st.n_docs AS DOUBLE))) AS BIGINT))
             AS BIGINT) AS score_fp
      FROM qt
      JOIN post p ON p.term = qt.term
      JOIN dfreq d ON d.term = qt.term
      CROSS JOIN stats st
      GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, id AS doc_id, score_fp, rank
    FROM (SELECT query_id, id, score_fp,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY score_fp DESC, id) AS INT) AS rank
          FROM sc)
    WHERE rank <= {top_k}
    """


@case("q_text_bm25", oracle=_bm25_oracle(_BM25_QUERY_VALUES, 10), category="llm")
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 keyword search for three fixed queries over the
    documents corpus (rational-idf fixed-point mode — the oracle-exact
    variant; classic ln-idf mode is pytest-covered)."""
    from pyspark_pipeline_framework_spark.llm.retrieval import bm25_topk

    d = table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return bm25_topk(d, queries, top_k=10, idf_mode="rational")


def _tfidf_oracle(top_n: int = 3) -> str:
    """Top-n characteristic terms per doc under the log-free monotone
    idf surrogate tf*N/df (documented variant for cross-engine
    exactness; ranking key = floor(1e6 * (tf*N)/df), one exactly
    rounded division). Parameterized over n for the fuzzer."""
    return rf"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ), post AS (
      SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE term <> '' GROUP BY 1, 2
    ), stats AS (
      SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs FROM post
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS dfreq FROM post GROUP BY 1
    ), keyed AS (
      SELECT p.id, p.term, p.tf, d.dfreq,
             CAST(FLOOR(1000000.0 * (CAST(p.tf * st.n_docs AS DOUBLE)
                                     / CAST(d.dfreq AS DOUBLE))) AS BIGINT) AS tfidf_fp
      FROM post p JOIN dfreq d ON d.term = p.term CROSS JOIN stats st
    )
    SELECT id AS doc_id, term, tf, dfreq, tfidf_fp, rank
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id
                                            ORDER BY tfidf_fp DESC, term) AS INT) AS rank
          FROM keyed)
    WHERE rank <= {top_n}
    """


@case("q_text_tfidf", oracle=_tfidf_oracle(3), category="llm")
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (rational surrogate ranking —
    oracle-exact; ln mode pytest-covered)."""
    from pyspark_pipeline_framework_spark.llm.retrieval import tfidf_topk_terms

    d = table(spark, sf_dir, "documents")
    return tfidf_topk_terms(d, top_n=3, idf_mode="rational")


def _semantic_dedup_oracle(
    dim: int = 64,
    nlist: int = 64,
    train_iters: int = 2,
    n_train: int = 256,
    threshold: float = 0.4,
) -> str:
    """Semantic-dedup oracle: the shared IVF training/assignment replay
    (:func:`_ivf_model_ctes` — the trained model is hash-gated), then
    within-cell pairs scored with the decimal-exact cosine and
    thresholded. Exact doubles on both sides, so the >= compare can't
    straddle engines."""
    ctes, _ = _ivf_model_ctes(dim, nlist, train_iters, n_train)
    joined = ",\n    ".join(ctes)
    # zero-fixed-point-norm vectors are excluded from pair scoring in
    # the engine (0/0 is NULL in Spark, NaN>anything in DuckDB — the
    # filter is the only portable semantic); the doti(v,v)>0 predicate
    # replays the engine's norm>0 exactly (norm = sqrt(doti/1e14))
    return f"""
    WITH {joined}
    SELECT id_a, id_b, cos_sim, cell FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_o_cos("ea.embedding", "eb.embedding")} AS cos_sim,
             CAST(a.cell AS INT) AS cell
      FROM corpuscell a
      JOIN corpuscell b ON b.cell = a.cell AND b.vec_id > a.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE {_o_doti("ea.embedding", "ea.embedding")} > 0
        AND {_o_doti("eb.embedding", "eb.embedding")} > 0)
    WHERE cos_sim >= {threshold}
    """


@case("q_dedup_semantic", oracle=_semantic_dedup_oracle(), category="llm")
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: IVF
    kmeans clustering (64 cells, the scale knob — cells must grow
    with the corpus), within-cell pairwise decimal-exact cosine,
    threshold 0.4 (data-dependent: this synthetic corpus has no true
    semantic dups — max pair cosine ~0.5-0.6; real corpora run 0.9+).
    The oracle replays TRAINING, assignment, pairing, and scoring."""
    from pyspark_pipeline_framework_spark.llm.similarity import semantic_dedup_pairs

    emb = table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        emb, dim=64, threshold=0.4, nlist=64, train_sample=256
    )


def _bloom_oracle(
    m_bits: int = 65536,
    k_hashes: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    train_pred: str = "source <> 'src0'",
    eval_pred: str = "source = 'src0'",
) -> str:
    """Bloom decontamination oracle: replays filter CONSTRUCTION (eval
    shingles -> k md5-derived bit positions mod m, distinct) and
    PROBING (a training shingle is maybe-hit when all k positions are
    set). Parameterized over every knob for the fuzzer; the suite pins
    (65536, 4, 3, 0.5) — m deliberately small at suite sf so the case
    exercises real false positives (cross-checked against exact
    q_decontaminate in tests). One-sided: flagged ratio is an upper
    bound on true overlap."""
    km1 = shingle_k - 1
    pos = (
        "CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', s)),"
        f" 1, 15)) AS BIGINT) % {m_bits}"
    )
    return rf"""
    WITH tr AS (
      SELECT id, s FROM (
        SELECT doc_id AS id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(w) - {km1}, 1) + 1),
                 i -> array_to_string(list_slice(w, i, i + {km1}), ' ')))) AS s
        FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
              FROM documents WHERE {train_pred})) WHERE s <> ''
    ), ev AS (
      SELECT DISTINCT s FROM (
        SELECT unnest(list_distinct(list_transform(
                 range(1, greatest(len(w) - {km1}, 1) + 1),
                 i -> array_to_string(list_slice(w, i, i + {km1}), ' ')))) AS s
        FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w
              FROM documents WHERE {eval_pred})) WHERE s <> ''
    ), bits AS (
      SELECT DISTINCT {pos} AS pos
      FROM ev, range({k_hashes}) t(j)
    ), probes AS (
      -- occurrence-aware: a duplicated source row yields nk = occ*k
      -- probe rows per (id, s); all occurrences share positions, so
      -- hits = nk <=> every hash position is set, and nk/k recovers
      -- the occurrence count (mirrors the engine's per-row grouping
      -- even when one id spans several train rows)
      SELECT id, s, COUNT(*) AS nk,
             SUM(CASE WHEN {pos}
                      IN (SELECT pos FROM bits) THEN 1 ELSE 0 END) AS hits
      FROM tr, range({k_hashes}) t(j) GROUP BY id, s
    )
    SELECT id, n_shingles, n_maybe,
           CAST(n_maybe AS DOUBLE) / n_shingles AS overlap_ratio_ub,
           (CAST(n_maybe AS DOUBLE) / n_shingles) >= {threshold} AS maybe_contaminated
    FROM (SELECT id, CAST(SUM(nk) // {k_hashes} AS BIGINT) AS n_shingles,
                 CAST(SUM(CASE WHEN hits = nk THEN nk ELSE 0 END) // {k_hashes} AS BIGINT) AS n_maybe
          FROM probes GROUP BY id)
    """


@case("q_decontaminate_bloom", oracle=_bloom_oracle(), category="llm")
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (bounded-memory variant of
    q_decontaminate): same train/eval split, 65536-bit filter with 4
    md5-derived hashes — construction and probing both hash-gated."""
    from pyspark_pipeline_framework_spark.llm.dedup import bloom_decontaminate

    d = table(spark, sf_dir, "documents")
    return bloom_decontaminate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        shingle_k=3,
        threshold=0.5,
        m_bits=65536,
        k_hashes=4,
    )


@case(
    "q_llm_shuffle",
    # deterministic global shuffle: shard = md5-bucket, pos = rank of
    # an independent md5 within the shard — the oracle recomputes the
    # whole permutation (hex-string ordering is plain lexicographic in
    # both engines)
    oracle=r"""
    WITH b AS (
      SELECT doc_id,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                    ':shuffle')), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
             md5(concat(CAST(doc_id AS VARCHAR), ':shuffle:pos')) AS h
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM b
    """,
    category="llm",
)
def q_llm_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training order (md5-portable
    mode): one exchange + S parallel per-shard sorts, never a global
    window."""
    from pyspark_pipeline_framework_spark.llm.packing import global_shuffle

    d = table(spark, sf_dir, "documents")
    return global_shuffle(d, num_shards=8, salt="shuffle").select(
        "doc_id", "shard", "pos"
    )


@case(
    "q_llm_token_budget",
    # distributed prefix-sum subsample: per-shard running token totals
    # in hash order, keep while <= budget/num_shards (3000 here); the
    # oracle replays bucketing, ordering, cumsum, and the cutoff
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
      FROM documents
    ), b AS (
      SELECT doc_id, n_tokens,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                    ':budget')), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
             md5(concat(CAST(doc_id AS VARCHAR), ':budget:pos')) AS h
      FROM t
    ), c AS (
      SELECT doc_id, shard,
             SUM(CAST(n_tokens AS BIGINT)) OVER (
               PARTITION BY shard ORDER BY h, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM b
    )
    SELECT doc_id, shard, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 3000
    """,
    category="llm",
)
def q_llm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subsample (md5-portable mode): ~24k tokens kept as
    8 per-shard hash-ordered prefixes of 3k tokens each."""
    from pyspark_pipeline_framework_spark.llm.packing import sample_to_token_budget

    d = table(spark, sf_dir, "documents").withColumn("n_tokens", token_count_ws("text"))
    return sample_to_token_budget(
        d, budget_tokens=24_000, num_shards=8, salt="budget"
    ).select("doc_id", "shard", "cum_tokens")


# --------------------------------------------------------------------------
# Product quantization (PQ) ANN — train + encode + ADC search, all replayed
# in SQL (llm/pq.py; beyond-ref like the rest of §2.8's vector surface)
# --------------------------------------------------------------------------


def _pq_model_ctes(
    dim: int, m_sub: int, ksub: int, train_iters: int, n_train: int
) -> list[str]:
    """SQL replay of exact PQ TRAINING + corpus encoding, mirroring
    ``pq_train_codebooks_exact`` / ``pq_encode_udf`` bit-for-bit:
    md5-ordered sample, fixed-point unit normalization (zero-norm
    guard), per-subspace init from the first ksub subvectors, each
    Lloyd iteration (integer-L2-surrogate argmin with ties to the
    lowest codeword, fixed-point means, empty codewords carried
    forward), then every corpus vector's per-subspace code. Ends with
    CTEs ``codes`` (vec_id, s, j) and ``csub`` (normalized corpus
    subvectors) over the final codebook CTE ``pc{train_iters}``."""
    dsub = dim // m_sub
    # fixed-point unit norm with the zero-norm guard (stay unnormalized)
    norm_of = lambda arr: (  # noqa: E731
        f"(CASE WHEN {_o_doti(arr, arr)} = 0 THEN 1 "
        f"ELSE SQRT(CAST({_o_doti(arr, arr)} AS DOUBLE) / 1e14) END)"
    )
    dist = lambda x, c: f"({_o_doti(c, c)} - 2 * {_o_doti(x, c)})"  # noqa: E731
    ctes = [
        f"""psample AS (
      SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM embeddings QUALIFY rn <= {n_train})""",
        f"""pnsamp AS (
      SELECT vec_id, rn,
             list_transform(embedding, v -> CAST(v AS DOUBLE) / nrm) AS nv
      FROM (SELECT vec_id, rn, embedding, {norm_of("embedding")} AS nrm
            FROM psample))""",
        f"""pssub AS (
      SELECT vec_id, rn, g.s, nv[g.s * {dsub} + 1 : (g.s + 1) * {dsub}] AS x
      FROM pnsamp CROSS JOIN generate_series(0, {m_sub - 1}) g(s))""",
        f"""pkeff AS (
      SELECT LEAST(COUNT(*), {ksub}) AS k_eff FROM psample)""",
        # init = first k_eff subvectors; when the sample is smaller than
        # ksub the engine pads deterministic unit-basis codewords
        # (pq.py pq_train_codebooks_exact: pad row p -> 1.0 at p % dsub)
        # — replayed here so the sub-ksub corpus region is hash-gated too
        f"""pc0 AS (
      SELECT s, rn - 1 AS j, x AS c FROM pssub WHERE rn <= {ksub}
      UNION ALL
      SELECT g.s, j.j,
             list_transform(generate_series(1, {dsub}),
                            d -> CASE WHEN (d - 1) = (j.j - pkeff.k_eff) % {dsub}
                                 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS c
      FROM generate_series(0, {m_sub - 1}) g(s)
      CROSS JOIN generate_series(0, {ksub - 1}) j(j)
      CROSS JOIN pkeff
      WHERE j.j >= pkeff.k_eff)""",
    ]
    for i in range(1, train_iters + 1):
        prev = f"pc{i - 1}"
        ctes += [
            f"""pa{i} AS (
      SELECT vec_id, s, x, j FROM (
        SELECT a.vec_id, a.s, a.x, c.j,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.s
                                  ORDER BY {dist("a.x", "c.c")} ASC, c.j) AS r
        FROM pssub a JOIN {prev} c ON c.s = a.s) WHERE r = 1)""",
            f"""pm{i} AS (
      SELECT a.s, a.j, g.d,
             SUM(CAST(FLOOR(CAST(a.x[g.d] AS DOUBLE) * 1e9) AS BIGINT)) AS sm,
             COUNT(*) AS n
      FROM pa{i} a CROSS JOIN generate_series(1, {dsub}) g(d) GROUP BY 1, 2, 3)""",
            f"""pmm{i} AS (
      SELECT s, j, list(CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) ORDER BY d) AS m
      FROM pm{i} GROUP BY s, j)""",
            f"""pc{i} AS (
      SELECT c.s, c.j, COALESCE(mm.m, c.c) AS c
      FROM {prev} c LEFT JOIN pmm{i} mm ON c.s = mm.s AND c.j = mm.j)""",
        ]
    final = f"pc{train_iters}"
    ctes += [
        f"""pncorp AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE) / nrm) AS nv
      FROM (SELECT vec_id, embedding, {norm_of("embedding")} AS nrm
            FROM embeddings
            WHERE {_o_doti("embedding", "embedding")} > 0))""",
        f"""csub AS (
      SELECT vec_id, g.s, nv[g.s * {dsub} + 1 : (g.s + 1) * {dsub}] AS x
      FROM pncorp CROSS JOIN generate_series(0, {m_sub - 1}) g(s))""",
        f"""codes AS (
      SELECT vec_id, s, j FROM (
        SELECT cs.vec_id, cs.s, c.j,
               ROW_NUMBER() OVER (PARTITION BY cs.vec_id, cs.s
                                  ORDER BY {dist("cs.x", "c.c")} ASC, c.j) AS r
        FROM csub cs JOIN {final} c ON c.s = cs.s) WHERE r = 1)""",
    ]
    return ctes


def _pq_adc_oracle(
    dim: int = 64,
    m_sub: int = 8,
    ksub: int = 16,
    train_iters: int = 2,
    n_train: int = 256,
    k: int = 5,
    n_query: int = 5,
) -> str:
    """PQ-ADC ANN oracle: trained codebooks + corpus codes from
    :func:`_pq_model_ctes`, then the per-query distance tables, the
    lookup-sum scoring and the rank filter replayed in SQL. Ranking
    compares the INTEGER lookup sums (exactly like the engine), so
    near-ties cannot diverge across engines."""
    ctes = _pq_model_ctes(dim, m_sub, ksub, train_iters, n_train)
    final = f"pc{train_iters}"
    ctes += [
        f"""dtab AS (
      SELECT q.vec_id AS query_id, c.s, c.j, {_o_doti("q.x", "c.c")} AS dt
      FROM csub q JOIN {final} c ON c.s = q.s
      WHERE q.vec_id < {n_query})""",
        """pscored AS (
      SELECT d.query_id, co.vec_id, SUM(d.dt) AS adc_int
      FROM codes co
      JOIN dtab d ON d.s = co.s AND d.j = co.j AND co.vec_id <> d.query_id
      GROUP BY 1, 2)""",
    ]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, vec_id, adc_dot, rank FROM (
      SELECT query_id, vec_id,
             CAST(adc_int AS DOUBLE) / 1e14 AS adc_dot,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_int DESC, vec_id) AS BIGINT) AS rank
      FROM pscored) WHERE rank <= {k}
    """


def _knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_pipeline_framework_spark.llm.pq import cosine_topk_pq

    emb = table(spark, sf_dir, "embeddings")
    return shared_df(
        spark,
        ("knn_pq", sf_dir, 64, 32, 32, 256),
        lambda: cosine_topk_pq(
            emb, _knn_queries(emb), dim=64, k=5, m_sub=32, ksub=32,
            train_iters=2, train_sample=256,
        ),
    )


@case("q_sim_knn_pq", oracle=_pq_adc_oracle(m_sub=32, ksub=32), category="llm")
def q_sim_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC ANN (FAISS IndexPQ semantics,
    llm/pq.py): 64-dim vectors → 32 codes of 32 codewords (8×
    compression at one byte per code), searched by summing broadcast
    distance-table lookups. The oracle replays TRAINING (md5 sample, normalization,
    per-subspace integer Lloyd), ENCODING and the ADC SEARCH in SQL —
    the whole model is hash-gated, like the IVF cases."""
    return _knn_pq(spark, sf_dir).select("query_id", "vec_id", "adc_dot", "rank")


@case(
    "q_sim_knn_pq_recall",
    oracle=_RECALL_GATE_ORACLE.format(metric="pq_recall_at_5"),
    category="llm",
)
def q_sim_knn_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for PQ-ADC vs exact brute-force cosine: 32
    subspaces × 32 codewords on this (worst-case: uniform random)
    64-dim data must keep recall@5 above 0.4 — measured 0.64-0.72 at
    sf0.001/0.01/0.1 — the quantization-error analogue of the LSH/IVF
    recall gates."""
    exact = _knn_exact(spark, sf_dir).select("query_id", "vec_id")
    approx = _knn_pq(spark, sf_dir).select("query_id", "vec_id")
    return _recall_gate(approx, exact, "pq_recall_at_5", 0.4)


@case(
    "q_sim_knn_pq_pad",
    oracle=_pq_adc_oracle(m_sub=8, ksub=16, n_train=8),
    category="llm",
)
def q_sim_knn_pq_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-ksub training-corpus edge (r10 ADVICE): train_sample=8 <
    ksub=16, so half the initial codewords are the engine's
    deterministic unit-basis PAD (pq.py pq_train_codebooks_exact) —
    the oracle replays the same pad in SQL, closing the previously
    untested region where encode/search could silently diverge."""
    from pyspark_pipeline_framework_spark.llm.pq import cosine_topk_pq

    emb = table(spark, sf_dir, "embeddings")
    out = shared_df(
        spark,
        ("knn_pq_pad", sf_dir, 64, 8, 16, 8),
        lambda: cosine_topk_pq(
            emb, _knn_queries(emb), dim=64, k=5, m_sub=8, ksub=16,
            train_iters=2, train_sample=8,
        ),
    )
    return out.select("query_id", "vec_id", "adc_dot", "rank")


def _ivfpq_oracle(
    dim: int = 64,
    nlist: int = 8,
    nprobe: int = 3,
    m_sub: int = 32,
    ksub: int = 32,
    train_iters: int = 2,
    n_train: int = 256,
    k: int = 5,
    n_query: int = 5,
    del_pred: str | None = None,
) -> str:
    """IVFPQ ANN oracle — the two model replays COMPOSED: IVF training
    + cell assignment from :func:`_ivf_model_ctes`, PQ training +
    corpus codes from :func:`_pq_model_ctes` (disjoint CTE
    namespaces), then cell probing, the candidate join, and ADC
    scoring of only the candidates, all in SQL. ``del_pred`` replays a
    tombstone delete (see :func:`_ivf_exact_oracle`): both models stay
    trained on the FULL corpus, only candidates are reduced."""
    ivf_ctes, ivf_final = _ivf_model_ctes(dim, nlist, train_iters, n_train)
    pq_ctes = _pq_model_ctes(dim, m_sub, ksub, train_iters, n_train)
    pq_final = f"pc{train_iters}"
    not_deleted = f" AND NOT ({del_pred})" if del_pred else ""
    ctes = ivf_ctes + pq_ctes + [
        f"""iprobe AS (
      SELECT query_id, cell FROM (
        SELECT e.vec_id AS query_id, c.j AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_o_doti("e.embedding", "c.c")} DESC, c.j) AS r
        FROM embeddings e CROSS JOIN {ivf_final} c
        WHERE e.vec_id < {n_query}
          AND {_o_doti("e.embedding", "e.embedding")} > 0) WHERE r <= {nprobe})""",
        f"""icand AS (
      SELECT p.query_id, cc.vec_id
      FROM iprobe p JOIN corpuscell cc
        ON cc.cell = p.cell AND cc.vec_id <> p.query_id{not_deleted})""",
        f"""idtab AS (
      SELECT q.vec_id AS query_id, c.s, c.j, {_o_doti("q.x", "c.c")} AS dt
      FROM csub q JOIN {pq_final} c ON c.s = q.s
      WHERE q.vec_id < {n_query})""",
        """iscored AS (
      SELECT ca.query_id, ca.vec_id, SUM(d.dt) AS adc_int
      FROM icand ca
      JOIN codes co ON co.vec_id = ca.vec_id
      JOIN idtab d ON d.query_id = ca.query_id AND d.s = co.s AND d.j = co.j
      GROUP BY 1, 2)""",
    ]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, vec_id, adc_dot, rank FROM (
      SELECT query_id, vec_id,
             CAST(adc_int AS DOUBLE) / 1e14 AS adc_dot,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_int DESC, vec_id) AS BIGINT) AS rank
      FROM iscored) WHERE rank <= {k}
    """


def _ivfpq_artifacts(spark: SparkSession, sf_dir: str):
    """The persisted IVFPQ model pair + assigned code store (FAISS's
    train-once/add-forever contract: in production these are parquet
    artifacts built once) — shared by the search, recall and
    tombstone-deletion cases, so repeat runs time the user-repeated
    operations (search / compaction), not retraining."""
    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_index

    emb = table(spark, sf_dir, "embeddings")
    return shared_df(
        spark,
        ("ivfpq_artifacts", sf_dir, 64, 8, 32, 32, 256),
        lambda: ivfpq_index(
            emb, dim=64, nlist=8, m_sub=32, ksub=32, train_iters=2,
            train_sample=256,
        ),
    )


def _knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_search

    emb = table(spark, sf_dir, "embeddings")
    cent, cb, store = _ivfpq_artifacts(spark, sf_dir)
    return shared_df(
        spark,
        ("knn_ivfpq", sf_dir, 64, 8, 3, 32, 32, 256),
        lambda: ivfpq_search(
            store, cent, cb, _knn_queries(emb), dim=64, k=5, nprobe=3,
        ),
    )


@case("q_sim_knn_ivfpq", oracle=_ivfpq_oracle(), category="llm")
def q_sim_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ ANN (FAISS IndexIVFPQ semantics, llm/pq.py): coarse cells
    bound the candidates, PQ codes replace the raw vectors in scoring
    — the store holds a few bytes per vector and the search reads
    nothing else. The oracle replays BOTH trained models (IVF Lloyd +
    per-subspace PQ Lloyd), the cell probe, the candidate join and
    the ADC scoring in SQL."""
    return _knn_ivfpq(spark, sf_dir).select("query_id", "vec_id", "adc_dot", "rank")


@case(
    "q_sim_knn_ivfpq_recall",
    oracle=_RECALL_GATE_ORACLE.format(metric="ivfpq_recall_at_5"),
    category="llm",
)
def q_sim_knn_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the composed index: IVF pruning (nprobe 3 of 8)
    × PQ quantization on worst-case uniform data — the two error
    sources multiply, so the bound sits lower than either alone
    (measured 0.32–0.40 at sf0.001/0.01/0.1; gate at 0.25)."""
    exact = _knn_exact(spark, sf_dir).select("query_id", "vec_id")
    approx = _knn_ivfpq(spark, sf_dir).select("query_id", "vec_id")
    return _recall_gate(approx, exact, "ivfpq_recall_at_5", 0.25)


@case(
    "q_sim_knn_ivfpq_del",
    oracle=_ivfpq_oracle(del_pred="cc.vec_id % 7 = 2"),
    category="llm",
)
def q_sim_knn_ivfpq_del(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone deletes for the IVFPQ code store (r10 VERDICT item 3,
    completing the deletion-parity family: band store → IVF store →
    IVFPQ store): the (vec_id, cell, codes) store loses
    vec_id % 7 == 2 via compact_batch_store(remove_ids=...) — the
    surviving rows' cells AND codes are reused verbatim — and the ADC
    search runs against the compacted cell-partitioned baseline with
    static pruning. The oracle replays BOTH full-corpus-trained models
    (frozen under compaction) over a store rebuilt on the reduced
    corpus."""
    import shutil

    from pyspark_pipeline_framework_spark.io.compaction import compact_batch_store
    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_search
    from pyspark_pipeline_framework_spark.suite.io_cases import _scratch

    emb = table(spark, sf_dir, "embeddings")
    # models + code store: pinned fixture (train-once contract, same
    # precedent as q_dedup_minhash_del_md5's band store). The TIMED
    # work each run: the store write, the tombstone compaction and the
    # pruned ADC search over the compacted baseline.
    cent, cb, full_store = _ivfpq_artifacts(spark, sf_dir)
    store = _scratch(sf_dir, "ivfpq_store_del")
    # REBALANCE: r12 §6 file sizing (see q_dedup_minhash_del_md5)
    full_store.hint("rebalance").write.mode("overwrite").parquet(f"{store}/batch_id=0")
    out = _scratch(sf_dir, "ivfpq_store_del_c")
    shutil.rmtree(out, ignore_errors=True)  # compaction refuses overwrite
    tomb = emb.where(F.col("vec_id") % 7 == 2).select("vec_id")
    baseline = compact_batch_store(
        spark, store, out, remove_ids=tomb, remove_id_col="vec_id",
        partition_by=["cell"],
    )
    return ivfpq_search(
        baseline.drop("batch_id"), cent, cb, _knn_queries(emb), dim=64,
        k=5, nprobe=3, prune_cells=True,
    ).select("query_id", "vec_id", "adc_dot", "rank")


def _int8_knn_oracle(k: int = 5, n_query: int = 5, levels: int = 127) -> str:
    """Int8-quantized kNN oracle: quantization replayed exactly (same
    fragment as q_emb_quantize), then pure-integer dots and the cosine
    ratio — no fixed-point machinery needed because the codes ARE
    integers and the per-vector scales cancel in the ratio."""
    doti8 = lambda a, b: (  # noqa: E731
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT)))"
    )
    return f"""
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS mx
      FROM embeddings
    ), qv AS (
      SELECT vec_id,
             CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> GREATEST(-{levels}, LEAST({levels},
                                CAST(FLOOR(CAST(x AS DOUBLE) / mx * {levels}.0) AS INT))))
             END AS q
      FROM m
    ), nn AS (
      SELECT vec_id, q, {doti8("q", "q")} AS n2 FROM qv
    ), scored AS (
      SELECT qs.vec_id AS query_id, cs.vec_id,
             CAST({doti8("qs.q", "cs.q")} AS DOUBLE)
               / (SQRT(CAST(qs.n2 AS DOUBLE)) * SQRT(CAST(cs.n2 AS DOUBLE))) AS cos_sim_q
      FROM nn qs JOIN nn cs
        ON cs.vec_id <> qs.vec_id AND qs.n2 > 0 AND cs.n2 > 0
      WHERE qs.vec_id < {n_query}
    )
    SELECT query_id, vec_id, cos_sim_q, rank FROM (
      SELECT query_id, vec_id, cos_sim_q,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim_q DESC, vec_id) AS BIGINT) AS rank
      FROM scored) WHERE rank <= {k}
    """


@case("q_sim_knn_int8", oracle=_int8_knn_oracle(), category="llm")
def q_sim_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine kNN over int8-QUANTIZED vectors (the search
    half of q_emb_quantize's 4x storage shrink): scoring is pure
    integer dots of the codes — scales cancel in the cosine ratio —
    so the oracle replays quantization + ranking with no fixed-point
    scaffolding at all."""
    from pyspark_pipeline_framework_spark.llm.similarity import cosine_topk_int8

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_int8(emb, queries, k=5).select(
        "query_id", "vec_id", "cos_sim_q", "rank"
    )


_CLUSTER_KEEP_ORACLE = r"""
    WITH RECURSIVE words AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS shingle
      FROM words
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ), clusters AS (
      SELECT d.doc_id,
             COALESCE(LEAST(d.doc_id, MIN(r.v)), d.doc_id) AS cluster_id
      FROM documents d
      LEFT JOIN reach r ON r.u = d.doc_id
      GROUP BY d.doc_id
    ), canon AS (
      SELECT cluster_id, doc_id AS canonical_id FROM (
        SELECT c.cluster_id, c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC NULLS LAST, c.doc_id) AS rn
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id) WHERE rn = 1
    )
    SELECT c.doc_id, c.cluster_id, cn.canonical_id,
           c.doc_id <> cn.canonical_id AS is_duplicate
    FROM clusters c JOIN canon cn ON cn.cluster_id = c.cluster_id
    """


@case("q_dedup_cluster_keep", oracle=_CLUSTER_KEEP_ORACLE, category="llm")
def q_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization with a KEEP POLICY: same exact-Jaccard pairs
    and connected components as q_dedup_cluster, but the kept member
    of each cluster is the LONGEST document (n_chars, ties to lowest
    id) instead of the min-id one — the usual curation choice. The
    oracle extends the recursive-CTE closure with the same scored
    ROW_NUMBER selection."""
    from pyspark_pipeline_framework_spark.llm.dedup import dedup_clusters

    d = table(spark, sf_dir, "documents")
    return dedup_clusters(
        d, _cluster_pairs(spark, sf_dir), score_col="n_chars", keep="max"
    )


@case(
    "q_sample_weighted",
    # arithmetic structure mirrored EXACTLY (parenthesization included):
    # rate = LEAST(1, ((tf·N)·w) / S), S = decimal-summed weights,
    # keep iff md5-uint32(id||':wsample') < rate·2^32
    oracle="""
    WITH pos AS (
      SELECT * FROM documents
      WHERE CAST(n_chars AS DOUBLE) > 0 AND NOT isnan(CAST(n_chars AS DOUBLE))
    ), t AS (
      SELECT CAST(SUM(CAST(n_chars AS DECIMAL(38,9))) AS DOUBLE) AS wsum,
             CAST(COUNT(*) AS DOUBLE) AS ntot
      FROM pos
    )
    SELECT doc_id, lang FROM pos, t
    WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR || ':wsample'), 1, 8))::BIGINT AS DOUBLE)
        < LEAST(1.0, ((0.4 * ntot) * CAST(n_chars AS DOUBLE)) / wsum) * 4294967296.0
    """,
    category="llm",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted importance sampling at an expected 40% of the
    corpus: keep probability proportional to n_chars (long documents
    oversampled — the token-weighted mixing shape), deterministic
    md5 keep-set, per-row rates replayed bit-exactly by the oracle."""
    from pyspark_pipeline_framework_spark.llm.packing import weighted_sample

    d = table(spark, sf_dir, "documents")
    return weighted_sample(
        d, weight_col="n_chars", target_fraction=0.4, id_col="doc_id"
    ).select("doc_id", "lang")


@case(
    "q_sample_weighted_renorm",
    # CUBED lengths make the cap bind (max raw rate 1.55 at tf=0.4);
    # two fixed renormalization iterations redistribute the clipped
    # mass (sum of rates: 0.373·N → 0.4000·N exactly). Every
    # iteration's scalar aggregate and every IEEE expression
    # (parenthesization included) is mirrored in the oracle.
    oracle="""
    WITH pos AS (
      SELECT doc_id, lang, (CAST(n_chars AS DOUBLE) * n_chars) * n_chars AS wv
      FROM documents
      WHERE (CAST(n_chars AS DOUBLE) * n_chars) * n_chars > 0
        AND NOT isnan((CAST(n_chars AS DOUBLE) * n_chars) * n_chars)
    ), s0 AS (
      SELECT 0.4 * CAST(COUNT(*) AS DOUBLE) AS budget,
             CAST(SUM(CAST(wv AS DECIMAL(38,9))) AS DOUBLE) AS wsum,
             CAST(COUNT(*) AS DOUBLE) AS ntot
      FROM pos
    ), s1 AS (
      SELECT 0.4 * MAX(s.ntot)
               - CAST(SUM(CASE WHEN (s.budget * p.wv) / s.wsum >= 1.0
                                THEN 1 ELSE 0 END) AS DOUBLE) AS budget,
             CAST(SUM(CASE WHEN (s.budget * p.wv) / s.wsum < 1.0
                            THEN CAST(p.wv AS DECIMAL(38,9)) END) AS DOUBLE) AS wsum,
             MAX(s.ntot) AS ntot
      FROM pos p CROSS JOIN s0 s
    ), s2 AS (
      SELECT 0.4 * MAX(s.ntot)
               - CAST(SUM(CASE WHEN (s.budget * p.wv) / s.wsum >= 1.0
                                THEN 1 ELSE 0 END) AS DOUBLE) AS budget,
             CAST(SUM(CASE WHEN (s.budget * p.wv) / s.wsum < 1.0
                            THEN CAST(p.wv AS DECIMAL(38,9)) END) AS DOUBLE) AS wsum,
             MAX(s.ntot) AS ntot
      FROM pos p CROSS JOIN s1 s
    )
    SELECT doc_id, lang FROM pos p CROSS JOIN s2 s
    WHERE CAST(('0x' || substr(md5(p.doc_id::VARCHAR || ':wsample'), 1, 8))::BIGINT AS DOUBLE)
        < (CASE WHEN s.wsum IS NULL THEN 1.0
                ELSE LEAST(1.0, (s.budget * p.wv) / s.wsum) END) * 4294967296.0
    """,
    category="llm",
)
def q_sample_weighted_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling with the clipped-mass redistribution ON
    (renormalize_iters=2): under heavily skewed weights (cubed
    lengths) the single-pass rates undershoot the 40% target by ~7%
    relative; two fixed iterations of the classic rate normalization
    close that gap to <0.1% (exactly 0 at full fixpoint convergence) —
    still one deterministic md5 keep-set, zero corpus shuffles, and
    the whole iteration chain replayed bit-exactly in SQL."""
    from pyspark_pipeline_framework_spark.llm.packing import weighted_sample

    d = table(spark, sf_dir, "documents").withColumn(
        "w3",
        (F.col("n_chars").cast("double") * F.col("n_chars")) * F.col("n_chars"),
    )
    return weighted_sample(
        d, weight_col="w3", target_fraction=0.4, id_col="doc_id",
        renormalize_iters=2,
    ).select("doc_id", "lang")


@case(
    "q_events_anomaly",
    # disc quantiles are actual data elements with integer-position
    # semantics — identical in any engine, no interpolation to drift
    oracle="""
    WITH meds AS (
      SELECT event_type, quantile_disc(CAST(value AS DOUBLE), 0.5) AS med
      FROM events GROUP BY event_type
    ), devs AS (
      SELECT e.event_id, e.event_type, CAST(e.value AS DOUBLE) AS value, m.med,
             ABS(CAST(e.value AS DOUBLE) - m.med) AS dev
      FROM events e JOIN meds m ON m.event_type = e.event_type
    ), mads AS (
      SELECT event_type, quantile_disc(dev, 0.5) AS mad FROM devs GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.value, d.med, md.mad
    FROM devs d JOIN mads md ON md.event_type = d.event_type
    WHERE COALESCE(d.dev > 3.0 * md.mad, FALSE)
    """,
    category="llm",
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier screen over the events value stream,
    grouped by event type (|x - med| > 3·MAD, both medians discrete
    elements): the metric-stream data-quality primitive, oracle-exact
    because disc quantiles carry no interpolation arithmetic."""
    from pyspark_pipeline_framework_spark.operators.events import robust_outliers

    e = table(spark, sf_dir, "events")
    return robust_outliers(e, "value", ["event_type"], k=3.0).select(
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        "med",
        "mad",
    )
