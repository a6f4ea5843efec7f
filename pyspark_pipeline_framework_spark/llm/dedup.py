"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

100 TB design rules: candidate generation is always a *band/bucket
equi-join* (shuffle bounded by bucket sizes), never an all-pairs cross
join; hashes are JVM built-ins (``xxhash64``/``sha2``/``md5``) so
results are deterministic across executors, sessions, and retries.
The one Python stage is the md5 MinHash signature
(``hash_fn="md5"``): its per-group digests and mins run in an Arrow
``mapInPandas`` stage over JVM-computed base hashes (see
:func:`_md5_signature_arrow`); the xxhash64 family and every other
operator here stay in the JVM.

Wide per-column projections (the signature's ``num_hashes`` mins, the
band hashes) are built as parsed SQL expression strings, not one
Column builder per column: each builder call is several py4j
round-trips, thousands per plan.
"""

from __future__ import annotations

import logging
import os
import posixpath as _posixpath
from urllib.parse import urlparse as _urlparse

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.llm.text import normalize_text
from pyspark_pipeline_framework_spark.operators.partitioning import ensure_parallelism

logger = logging.getLogger(__name__)


def exact_text_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized text: keep the row with the smallest
    id per sha256(normalized text). One shuffle on the 256-bit hash —
    never on the text payload itself (the scale-critical trick: at
    100 TB you shuffle 32-byte keys, not documents)."""
    # NULL text gets a per-row key: sha2(NULL) is NULL, which would
    # lump every failed-extraction row into ONE dedup group and
    # silently drop all but one — at corpus scale that deletes data on
    # zero content evidence (r6 degenerate-text tests). NULL ≠ NULL.
    # The id inside the sentinel is coalesced AND salted with a
    # monotonic row id: concat(.., NULL) is itself NULL, so without
    # this a NULL-id + NULL-text row would re-create the exact
    # collapse the sentinel exists to prevent (r6 ADVICE), and two
    # distinct rows sharing one non-NULL id with NULL text must also
    # both survive (ids are caller data, not a verified PK).
    hashed = df.withColumn(
        "__h",
        F.when(
            F.col(text_col).isNull(),
            F.concat(
                F.lit("\x00null:"),
                F.coalesce(F.col(id_col).cast("string"), F.lit("\x00")),
                F.lit(":"),
                F.monotonically_increasing_id().cast("string"),
            ),
        ).otherwise(F.sha2(normalize_text(text_col), 256)),
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return hashed.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__h", "__rn")


def _truncate(df: DataFrame, checkpoint_dir: str | None, eager: bool = False) -> DataFrame:
    """Lineage truncation for iterative loops.

    Default (``checkpoint_dir=None``): ``localCheckpoint`` — blocks
    live on executors, no extra I/O, but an executor loss mid-loop
    kills the job because truncated lineage cannot be recomputed.

    With ``checkpoint_dir``: reliable ``checkpoint()`` into that
    fault-tolerant path (HDFS/S3/DBFS on a real cluster) — every
    round's state survives executor loss and preemption, the right
    tradeoff for 100 TB runs where a multi-hour contraction must not
    restart from zero. Costs one write+read of the (tiny: two longs
    per edge) loop state per round."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    try:
        sc = df.sparkSession.sparkContext
    except Exception:
        # Spark Connect: no client-side SparkContext / setCheckpointDir.
        # The server honors the spark.checkpoint.dir conf (Spark 4);
        # reliable_checkpoint sets-or-verifies it and raises a typed
        # ConnectUnsupportedError with the server-side fix otherwise
        # (r9 VERDICT item 1; reference runtime/session/wrapper.py:99-115)
        from pyspark_pipeline_framework_spark.connect_compat import (
            reliable_checkpoint,
        )

        return reliable_checkpoint(df, checkpoint_dir, eager=eager)
    try:
        current = sc.getCheckpointDir()
    except Exception:
        current = None
    # setCheckpointDir creates a fresh random SUBDIR under the given
    # path and getCheckpointDir returns that subdir (often with a
    # file:/ scheme) — compare the subdir's PARENT path components
    # against the requested root (a substring test would false-match
    # /data/ck against /data/ck-old or /data/ck2/..., silently landing
    # checkpoints in the wrong directory), or every round would spawn a
    # new directory tree. Note: setCheckpointDir is global SparkContext
    # state — callers sharing a context share the checkpoint root.
    if current is None or not _same_checkpoint_root(current, checkpoint_dir):
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


def _same_checkpoint_root(current_subdir: str, requested: str) -> bool:
    """True when ``current_subdir`` (the random subdir returned by
    ``getCheckpointDir``, possibly ``file:/``-schemed) lives DIRECTLY
    under the ``requested`` checkpoint root — exact path-component
    comparison of the subdir's parent, never substring matching."""
    cur = _urlparse(current_subdir)
    req = _urlparse(requested)
    cur_parent = _posixpath.dirname(cur.path.rstrip("/"))
    req_path = req.path.rstrip("/") or "/"
    if req.scheme in ("", "file"):
        return cur.scheme in ("", "file") and os.path.abspath(
            cur_parent
        ) == os.path.abspath(req_path)
    # remote FS (hdfs/s3a/...): scheme + authority + exact parent path
    return (cur.scheme, cur.netloc, cur_parent) == (req.scheme, req.netloc, req_path)


def _word_array(text_col: str) -> Column:
    """Lower/trim/whitespace-split — the shared tokenization of every
    shingle operator (oracles replicate it with the same regex)."""
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def _shingles_from_words(words: Column, k: int) -> Column:
    """Distinct k-word shingles over an ALREADY-MATERIALIZED word-array
    column. ``words`` must reference a real column, not an inline
    ``split``: ``transform`` is an interpreted HigherOrderFunction
    (no whole-stage codegen / no subexpression elimination), so a split
    embedded in the lambda re-runs the regex once per shingle —
    measured 3.9× slower on the scalecheck ×10 corpus. CollapseProject
    keeps the materialized column separate because it is referenced
    more than once (size + every slice)."""
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    # Drop the empty shingle: NULL / empty / whitespace-only text all
    # reduce to [''] (split of '' → ['']; for NULL, greatest() skips
    # the NULL size and concat_ws renders the NULL slice as '') — so
    # without this filter every blank document shares ONE identical
    # shingle set, hence identical MinHash signatures, hence the same
    # LSH bucket in every band: m blank docs → O(m²) spurious candidate
    # pairs at corpus scale. Blank docs carry no similarity evidence;
    # they drop out of the shingle stream entirely (r6
    # degenerate-text tests). Real words can never be '' (\s+ split of
    # trimmed text), so only degenerate docs are affected.
    return F.filter(
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))
        ),
        lambda s: s != "",
    )


def _shingles(text_col: str, k: int) -> Column:
    """Distinct k-word shingles as strings (single-expression form —
    prefer :func:`_exploded_shingles` in operators; see
    :func:`_shingles_from_words` for why)."""
    return _shingles_from_words(_word_array(text_col), k)


def _exploded_shingles(df: DataFrame, keep: list, text_col: str, k: int,
                       alias: str = "__s") -> DataFrame:
    """(keep..., exploded shingle) rows with the word split materialized
    once per input row."""
    return (
        df.withColumn("__words", _word_array(text_col))
        .select(*keep, F.explode(_shingles_from_words(F.col("__words"), k)).alias(alias))
    )


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures. One base hash per shingle, then
    ``num_hashes`` permutations hashed over the small base value — far
    cheaper than re-hashing every shingle string per permutation, and
    overflow-free under ANSI mode (Spark 4 default; affine a·h+b
    permutations would throw on long overflow). Map-only — no shuffle.

    ``hash_fn="xxhash64"`` (scale default): permutation i =
    ``xxhash64(base, i)``; signature is ``array<bigint>``.
    ``hash_fn="md5"`` (engine-portable): permutation i = the 8 hex
    chars ``md5((i//4) || ':' || md5(shingle))[8*(i%4) : 8*(i%4)+8]``
    — ONE md5 per group of 4 permutations, sliced into 4 disjoint
    32-bit words (r6: 17 md5s per shingle occurrence instead of 65,
    measured 1.5-2× faster end-to-end with an identical LSH candidate
    profile). Slicing one digest keeps permutations INDEPENDENT ACROSS
    SHINGLES — for two shingles, which one wins slice j is independent
    of slice j' because the bits are disjoint — unlike the rejected
    Kirsch-Mitzenmacher arithmetic double hashing, whose constant
    per-shingle offsets let one dominant shingle win whole bands (7×
    candidate blowup, see below). Signature is ``array<string>`` —
    MIN over fixed-width lowercase hex equals numeric min, and any
    engine with md5 (DuckDB, Python, warehouses) recomputes the
    identical signature, making LSH candidates oracle-checkable."""
    # explode → 64 min-aggregates: flat columns keep whole-stage
    # codegen tight (64 nested array transforms per row do not), and the
    # partial agg collapses shingle rows before the doc_id shuffle
    # key-aware spread: the signature ends in groupBy(id_col), so an
    # under-split scan is hash-partitioned by id up front — the
    # aggregate's distribution is pre-satisfied and the whole
    # signature runs with ONE exchange instead of two (r7: one fewer
    # stage wave; the dominant cost of small incremental batches is
    # wave latency, not compute)
    exploded = _exploded_shingles(
        ensure_parallelism(df, key=id_col), [F.col(id_col)], text_col, shingle_k
    )
    if hash_fn == "xxhash64":
        hashed = exploded.select(F.col(id_col), F.xxhash64("__s").alias("__h"))
        # the num_hashes mins and the array over them are ONE parsed
        # expression string (as in simhash): built from Column ops they
        # cost ~3k py4j round-trips per call; CollapseProject folds
        # the array into the aggregate either way, so the plan is the same
        mins = ", ".join(f"min(xxhash64(__h, {i}))" for i in range(num_hashes))
        return hashed.groupBy(id_col).agg(F.expr(f"array({mins})").alias("signature"))
    if hash_fn == "md5":
        # r7: base md5 JVM-side, group digests + mins in one Arrow
        # stage — see _md5_signature_arrow for why pure SQL loses here
        # (string-min SortAggregate fallback) and why the output is
        # bit-identical. The digest-slicing SCHEME is unchanged from
        # r6 (one md5 per group of 4 permutations, disjoint 8-hex
        # slices — correlation-free, unlike the rejected
        # Kirsch-Mitzenmacher double hashing whose constant per-shingle
        # offsets let one dominant shingle win whole bands: 7×
        # candidate blowup measured at sf0.01).
        return _md5_signature_arrow(exploded, id_col, num_hashes)
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


#: distinct-digest cache cap per python worker for the arrow md5
#: signature path: 2^18 rows × num_hashes × 8 B ≈ 128 MB at 64 hashes —
#: bounded regardless of corpus size (the cache resets past the cap;
#: resets only cost recomputation, never correctness)
_MD5_SIG_CACHE_CAP = 1 << 18


def _md5_signature_arrow(exploded, id_col: str, num_hashes: int):
    """The md5-portable signature's min-compute, as one Arrow
    ``mapInPandas`` stage over the JVM-side base hashes.

    Why not pure SQL: 64 ``min(<hex word>)`` aggregates are STRING
    buffers, which Spark's HashAggregate cannot hold in its fixed-width
    UnsafeRow — the plan silently degrades to SortAggregate, whose
    interpreted per-row buffer updates (rows × 64 substring+compare)
    dominate the whole LSH pipeline (measured 4.5 s of a 6.6 s
    signature stage at bench ×10; parsing hex→long JVM-side with
    ``conv`` to re-enable HashAggregate costs MORE than it saves —
    conv + cast are three string ops per word). The Arrow stage
    computes the same mins vectorized: one md5 per DISTINCT base hash
    (a per-partition cache the JVM plan cannot express — measured ~10×
    duplication in the shingle stream), words unpacked straight from
    the raw digest bytes (``np.frombuffer`` of big-endian u32 ≡ the
    hex-slice ``int(x, 16)`` parses), per-doc partial mins via
    ``np.minimum.reduceat`` over id change-points (explode emits each
    doc's shingles contiguously; non-contiguous recurrence would only
    add partial rows the final agg merges anyway). Measured 6.6 s →
    1.9 s on the ×10 signature stage vs pure SQL in r7, and the
    r13 rewrite of the per-batch body (frombuffer + reduceat replacing
    per-word int() parses + pandas groupby-min) another 4.7× on the
    Python time, bit-identical output.

    Rejected again (ROADMAP 4a): a pure-SQL signature that computes
    the group digests per shingle occurrence and parses each word
    with ``conv`` to keep long buffers lost end-to-end — 3.51 s vs
    2.66 s for the ``verified`` component of the curation benchmark
    (4-core host). Do not judge such a variant with a ``.count()``
    microbenchmark: column pruning drops the unused 64 aggregates
    from a count's plan, so it times the shingle scan only.

    Bit-exactness: tokenization, shingling and the base ``md5(shingle)``
    stay JVM-side, so Python only ever sees 32-hex ASCII digests — no
    locale/unicode divergence is possible. ``md5(f"{g}:{h}")`` over
    ASCII equals the JVM's ``md5(concat(g:, __h))``; min over uint32 ≡
    min over fixed-width lowercase hex; the final projection restores
    the exact hex words via lower(lpad(hex(min))).

    Scale shape: map-only partials (one row per doc per batch), then
    one tiny HashAggregate (long buffers) merges across batches and
    partitions — correct even when a document's shingles span
    partitions, so no co-location assumption. Python memory is bounded
    by the cache cap; the emitted partials are ~docs-per-batch rows."""
    import pandas as pd  # local: keep the module import-light
    from pyspark.sql.types import LongType, StructField, StructType

    n_groups = (num_hashes + 3) // 4
    base = exploded.select(F.col(id_col), F.md5("__s").alias("__h"))
    id_field = base.schema[id_col]
    cols = [f"__m{i}" for i in range(num_hashes)]
    out_schema = StructType(
        [StructField(id_field.name, id_field.dataType, True)]
        + [StructField(c, LongType(), True) for c in cols]
    )

    def compute(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        groups = list(range(n_groups))
        cache: dict = {}
        mat = np.empty((1024, num_hashes), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            hs = pdf["__h"].to_numpy()
            if len(cache) > _MD5_SIG_CACHE_CAP:
                cache.clear()
            new = [h for h in pd.unique(hs) if h not in cache]
            if new:
                need = len(cache) + len(new)
                if need > mat.shape[0]:
                    grown = np.empty(
                        (max(need, 2 * mat.shape[0]), num_hashes), dtype=np.int64
                    )
                    grown[: len(cache)] = mat[: len(cache)]
                    mat = grown
                pos = len(cache)
                for h in new:
                    # raw digest bytes ARE the four big-endian u32 words
                    # int(hexdigest[0:8], 16) parses — one frombuffer
                    # replaces n_groups*4 hex-slice int() parses
                    # (microbenched with the reduceat below: 4.7x on a
                    # realistic 280k-row/28k-distinct task batch,
                    # bit-identical partial mins)
                    hb = h.encode()
                    buf = b"".join(
                        md5(b"%d:%s" % (g, hb)).digest() for g in groups
                    )
                    mat[pos] = np.frombuffer(buf, dtype=">u4")[:num_hashes]
                    cache[h] = pos
                    pos += 1
            idx = pd.Series(hs).map(cache).to_numpy(dtype=np.int64)
            ids = pdf[id_field.name].to_numpy()
            # per-doc partial mins via reduceat over id change-points:
            # explode emits each doc's shingles contiguously, so
            # change-point segments ARE per-doc groups; if an id ever
            # recurred non-contiguously it would just emit one partial
            # row per segment — the JVM-side final groupBy(id).min
            # merges partials either way, so correctness never depends
            # on contiguity (only this stage's output row count does)
            starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
            W = pd.DataFrame(
                np.minimum.reduceat(mat[idx], starts, axis=0), columns=cols
            )
            W.insert(0, id_field.name, ids[starts])
            yield W

    # min over the long partials (long buffers → HashAggregate), then
    # lower(lpad(hex)) restores the exact 8-hex word a string min would
    # have produced — the signature (and every downstream band hash /
    # oracle) is bit-identical to the pre-r7 pure-JVM form. One parsed
    # expression string, not num_hashes Column builders (~1.9k py4j
    # round-trips per call)
    words = ", ".join(f"lower(lpad(hex(min({c})), 8, '0'))" for c in cols)
    partial = base.mapInPandas(compute, out_schema)
    return partial.groupBy(id_col).agg(F.expr(f"array({words})").alias("signature"))


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature (rows_per_band =
    num_hashes/bands), hash each band, self-join on (band_idx,
    band_hash). Pair count is bounded by bucket collisions — the
    classic no-N² shape. Returns distinct (id_a < id_b) pairs.
    ``hash_fn="md5"`` selects the engine-portable signature/banding
    (see :func:`minhash_signature`) — identical pairs are derivable in
    any md5-capable engine."""
    banded = minhash_bands(df, id_col, text_col, num_hashes, bands, shingle_k, hash_fn)
    # merge hint: without it AQE broadcasts one side of the self-join,
    # which executes the whole shingle→md5→signature subtree TWICE
    # (build side + probe side) — measured 1.6-1.8× slower at ×10 scale
    # than the hinted shuffle join, whose identical per-side exchanges
    # let AQE reuse the shuffle stage. On a real cluster the band store
    # exceeds any broadcast threshold anyway; the hint makes the small-
    # and mid-scale plan match the at-scale one.
    a = banded.alias("a")
    b = banded.hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The persistable LSH **band store**: ``(id, band_idx,
    band_hash)`` — ``bands`` rows per document, each hashing
    ``num_hashes/bands`` consecutive signature words. This is the
    artifact an incremental 100 TB dedup pipeline keeps BETWEEN runs:
    write it partitioned/bucketed by ``band_hash`` (e.g.
    ``writers.write_table(..., bucket_by=("band_hash", N))``) and each
    day's batch joins its (small) new bands against the store without
    ever re-hashing the historical corpus — see
    :func:`incremental_candidate_pairs`. Map-only after the signature's
    single doc-level shuffle."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(df, id_col, text_col, num_hashes, shingle_k, hash_fn)
    if hash_fn == "md5":
        band = "md5(concat_ws(',', slice(signature, {start}, {n})))"
    else:
        band = ("xxhash64(concat_ws(',', transform(slice(signature, {start}, {n}), "
                "v -> CAST(v AS STRING))))")
    # one parsed expression string for all band hashes (see
    # minhash_signature)
    hashes = ", ".join(
        band.format(start=b * rows_per_band + 1, n=rows_per_band) for b in range(bands)
    )
    return sigs.select(
        F.col(id_col).alias("id"),
        F.expr(f"posexplode(array({hashes}))").alias("band_idx", "band_hash"),
    )


def incremental_candidate_pairs(
    new_bands: DataFrame,
    corpus_bands: DataFrame,
    validate: bool = False,
    broadcast_new: bool = False,
) -> DataFrame:
    """Incremental MinHash-LSH: candidate pairs that TOUCH the new
    batch — new×new (bucket self-join) plus new×corpus (two-sided
    bucket join) — and never corpus×corpus, which a daily run over an
    append-only corpus must not recompute. Both inputs are band stores
    from :func:`minhash_bands` (the corpus side typically read back
    from parquet).

    Scale shape: the corpus store is |corpus|·bands rows but the join
    output is bounded by bucket collisions against the (small) new
    side; with the store bucketed by ``band_hash`` the big side never
    shuffles, and AQE broadcasts the new side when it fits. The union
    of the two inputs is the next run's store — append ``new_bands``
    to the store's table and the loop closes with zero re-hashing.

    Returns distinct ``(id_a, id_b)``, ``id_a < id_b``; ids present in
    both stores (a re-ingested document) never pair with themselves.

    Both stores MUST be built with identical ``(num_hashes, bands,
    shingle_k, hash_fn)`` — the band schema cannot carry that, and a
    mismatch joins incompatible hash spaces, silently missing or
    fabricating pairs. ``validate=True`` adds a cheap structural check
    (two 1-row aggregates: the stores' band counts must agree) that
    catches the most common drift, a changed ``bands``; hash-scheme
    drift at equal band count is undetectable from the store — version
    your store paths.
    """
    if validate:
        nb_new = new_bands.agg(F.max("band_idx")).first()[0]
        nb_old = corpus_bands.agg(F.max("band_idx")).first()[0]
        if nb_new is not None and nb_old is not None and nb_new != nb_old:
            raise ValueError(
                f"band-store mismatch: new side has {nb_new + 1} bands, "
                f"corpus store has {nb_old + 1} — both sides must be built "
                "with identical (num_hashes, bands, shingle_k, hash_fn)"
            )
    on = ["band_idx", "band_hash"]
    # merge hint: same self-join double-compute guard as
    # minhash_candidate_pairs (the new batch's band subtree would
    # otherwise run twice when AQE broadcasts one side)
    n1, n2 = new_bands.alias("a"), new_bands.hint("merge").alias("b")
    new_new = (
        n1.join(n2, on)
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    # default: merge-hint the corpus side so BOTH joins are shuffle
    # joins on the same keys — the new-band subtree then sits behind
    # ONE hash exchange reused by all three references (new_new a/b +
    # new_old n; AQE's alternative of broadcasting the new side
    # re-executes the banding subtree as a separate broadcast build —
    # measured 1.5s -> 1.25s on the sf0.1 bench case). With the store
    # bucketed by the band keys the merge join is exchange-free on the
    # big side, which is the 100 TB recipe anyway. ``broadcast_new``
    # opts into broadcasting the new batch instead (fastest when the
    # batch is SMALL and the store is neither bucketed nor worth
    # shuffling — the hint is hard, so the caller asserts the batch
    # fits in executor memory).
    n_side = F.broadcast(new_bands) if broadcast_new else new_bands
    c_side = corpus_bands if broadcast_new else corpus_bands.hint("merge")
    new_old = (
        n_side.alias("n")
        .join(c_side.alias("c"), on)
        .where(F.col("n.id") != F.col("c.id"))
        .select(
            F.least("n.id", "c.id").alias("id_a"),
            F.greatest("n.id", "c.id").alias("id_b"),
        )
    )
    return new_new.union(new_old).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    log_dropped: bool = False,
    broadcast_sizes: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted index:
    explode distinct shingles (as 8-byte xxhash64 keys — shuffle hashes,
    never shingle strings), group to posting lists, drop singleton
    shingles (can't pair), emit in-list id pairs, count intersections,
    Jaccard = |∩|/(|A|+|B|-|∩|).

    ``max_doc_freq`` bounds the quadratic in-list pair explosion: a
    shingle appearing in more than that many documents (boilerplate,
    headers — the 100 TB hot keys) is treated as a stopword and removed
    from BOTH the index and the per-doc sizes, so the Jaccard stays a
    true set similarity over the kept shingle universe. Pair count per
    shingle is then ≤ max_doc_freq²/2 — deterministic worst-case work.
    ``log_dropped`` runs one extra count job to report how many shingle
    keys the cap removed.

    Without a cap this is exact over all shingles (oracle-checkable;
    hash-collision risk ~|shingles|²/2^64) but quadratic in
    posting-list length: at 100 TB set the cap, or run
    :func:`minhash_candidate_pairs` first and :func:`jaccard_verify`
    on candidates only."""
    sh = _exploded_shingles(
        ensure_parallelism(df), [F.col(id_col).alias("id")], text_col, shingle_k,
        alias="shingle",
    ).select("id", F.xxhash64("shingle").alias("sh"))
    if max_doc_freq is not None:
        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        hot = freq.filter(F.col("df") > max_doc_freq).select("sh")
        # hot.count() is a full extra Spark job — only pay for it when
        # the log line would actually be emitted.
        if log_dropped and logger.isEnabledFor(logging.INFO):
            logger.info(
                "ngram_jaccard_pairs: max_doc_freq=%d dropped %d hot shingles",
                max_doc_freq,
                hot.count(),
            )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    # one inverted-index aggregation feeds BOTH the pair stream and the
    # per-doc sizes: sizes re-derived by exploding the (hot-capped, so
    # bounded) posting lists instead of a second groupBy(id) over the
    # exploded shingles. The two branches shuffle `sh` with IDENTICAL
    # exchanges, so AQE reuses the shuffle stage and the whole
    # split→shingle→hash subtree executes once, not once per branch —
    # measured 1.33× end-to-end at ×10 (6.0s → 4.5s), identical output.
    postings_all = sh.groupBy("sh").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    sizes = (
        postings_all.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    postings = postings_all.filter(
        F.size("ids") > 1  # singleton shingles never create pairs
    )
    # all in-list (a < b) pairs: one explode instead of a self-join
    pairs = postings.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    inter = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common"))
    # join the SAME sizes plan twice with the projection applied AFTER
    # the join (not inside it) — the two sides' plans are canonically
    # identical, so one broadcast (or one pair of reusable exchanges)
    # serves both size lookups. broadcast_sizes trades a measured 1.7×
    # at bench scale (interleaved A/B at ×10: 5.6s vs 9.8s — AQE did
    # NOT convert the shuffle plan at runtime) against driver memory:
    # sizes is ~16 bytes/document, fine through ~10^7 docs; beyond
    # that pass broadcast_sizes=False for the shuffle-join plan.
    s = F.broadcast(sizes) if broadcast_sizes else sizes
    with_a = inter.join(s, F.col("id_a") == s["id"]).select(
        "id_a", "id_b", "n_common", F.col("sz").alias("sz_a")
    )
    with_b = with_a.join(s, F.col("id_b") == s["id"]).select(
        "id_a", "id_b", "n_common", "sz_a", F.col("sz").alias("sz_b")
    )
    return (
        with_b.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    method: str = "array",
    materialize_candidates: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (id_a, id_b): the
    scale-correct composition is :func:`minhash_candidate_pairs` →
    this. Work is bounded by the candidate list, never the corpus:
    shingle sets are materialized only for documents that appear in a
    candidate pair (left-semi prune), and the text payload is never
    shuffled. Returns (id_a, id_b, n_common, jaccard) for pairs
    at/above ``threshold`` — same schema and semantics as
    :func:`ngram_jaccard_pairs`, restricted to candidates.

    ``method="array"`` (default): each side's distinct shingle-hash
    set travels as one ``array<bigint>`` row; two equi-joins, then
    ``array_intersect`` per pair — no explode, no per-shingle shuffle.
    Right when document length is bounded (the normal case after a
    length-capped quality filter). ``method="join"``: per-shingle
    explode + (doc, hash) equi-join + count — rows stay tiny no matter
    how long one document is; use when lengths are unbounded.

    ``materialize_candidates``: the candidate DataFrame feeds three
    branches of the plan (the touched-id semi-join prune on each side
    and the pair join itself); without materialization Spark recomputes
    the whole candidate-generation DAG — typically a full MinHash-LSH
    pass — once per branch. An eager ``localCheckpoint`` computes it
    exactly once; candidates are bounded by construction (that is the
    point of LSH), so the checkpointed footprint is two longs per
    pair. ``checkpoint_dir`` upgrades it to a reliable ``checkpoint()``
    (see :func:`_truncate`)."""
    cand = candidates.select(
        F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b")
    ).distinct()
    if materialize_candidates:
        cand = _truncate(cand, checkpoint_dir, eager=True)
    touched = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    pruned = (
        ensure_parallelism(df)
        .select(F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("__t"))
        .join(touched, "id", "left_semi")
    )
    if method == "array":
        sets = pruned.withColumn("__words", _word_array("__t")).select(
            "id",
            F.array_distinct(
                F.transform(
                    _shingles_from_words(F.col("__words"), shingle_k),
                    lambda s: F.xxhash64(s),
                )
            ).alias("__set"),
        )
        return (
            cand.join(sets.select(F.col("id").alias("id_a"), F.col("__set").alias("__sa")), "id_a")
            .join(sets.select(F.col("id").alias("id_b"), F.col("__set").alias("__sb")), "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__sa", "__sb")).cast("long").alias("n_common"),
                F.size("__sa").alias("__za"),
                F.size("__sb").alias("__zb"),
            )
            .withColumn(
                "jaccard",
                F.col("n_common") / (F.col("__za") + F.col("__zb") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "n_common", "jaccard")
        )
    if method != "join":
        raise ValueError(f"method must be 'array' or 'join', got {method!r}")
    sh = _exploded_shingles(pruned, ["id"], "__t", shingle_k, alias="shingle").select(
        "id", F.xxhash64("shingle").alias("sh")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("__idb"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, (F.col("id_b") == F.col("__idb")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash signature: per word, take word-hash bits; sum ±1 per bit
    position over all words; signature bit = sign. Near-dup docs have
    small Hamming distance. Pure array expressions — map-only.

    ``hash_fn="md5"`` (engine-portable): word hash = first 15 hex chars
    of md5 as a 60-bit int — the top 4 signature bits are always 0 and
    every engine with md5 recomputes the identical signature (the SWAR
    lane aggregation below is unchanged; an oracle can cross-check it
    with a naive per-bit majority count)."""
    if bits != 64:
        raise ValueError("simhash is fixed at 64 bits (word-hash width)")
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    # SWAR bit-slicing: sum ((h >> j) & 0x0001000100010001) for j=0..15
    # — each of the 16 sums carries FOUR bit-position counts in its
    # 16-bit lanes (positions j, j+16, j+32, j+48), so the aggregate is
    # 16 long-sums instead of 64 (4× less partial-agg work, same
    # shuffle rows). Lanes are overflow-safe to 65,535 words per doc
    # (sum ≤ 0xFFFF per lane → < 2^63 total, no ANSI overflow). The
    # 64-term unpack runs on one row per doc — free. Shift amounts are
    # Python literals (shiftleft/right require them). Signature bit b
    # set iff the majority of word-hashes set bit b (2·count > n_words,
    # the ±1-sum > 0 rule rewritten in counts).
    lane_mask = 0x0001000100010001
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    if hash_fn == "md5":
        word_hash = F.conv(F.substring(F.md5(F.col("__w")), 1, 15), 16, 10).cast("long")
    else:
        word_hash = F.xxhash64("__w")
    # filter the '' word (blank/NULL text reduces to ['']): otherwise
    # every blank document gets the IDENTICAL signature — one LSH block
    # bucket shared by all of them, O(m²) spurious pairs at scale (same
    # rationale as the shingle-level filter in _shingles_from_words)
    exploded = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode(words).alias("__w"))
        .filter(F.col("__w") != "")
        .select(F.col(id_col), word_hash.alias("__h"))
    )
    sums = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.expr(f"sum(shiftright(__h, {j}) & {lane_mask})").alias(f"__l{j}")
            for j in range(16)
        ],
    )
    # the 64-term unpack is ONE JVM-parsed expr string: building it
    # from Column ops costs ~400 py4j round-trips (~1.5s of pure
    # driver-client latency per invocation); parsing is two calls.
    # Balanced OR parenthesization keeps the analyzer's tree shallow
    # (a 64-deep left chain costs ~1s of depth-sensitive analysis).
    terms = [
        # bit 63 as a literal (2^63) overflows BIGINT under ANSI —
        # emit every bit as a shift of 1L instead
        f"IF((shiftright(__l{j}, {16 * k}) & 65535) * 2 > __n, "
        f"shiftleft(CAST(1 AS BIGINT), {j + 16 * k}), CAST(0 AS BIGINT))"
        for j in range(16)
        for k in range(4)
    ]
    while len(terms) > 1:
        terms = [
            f"({terms[i]} | {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return sums.select(F.col(id_col), F.expr(terms[0]).alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))

def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose k-gram
    shingle set overlaps ANY document of the (small) evaluation set by
    at least ``threshold`` of the training doc's shingles.

    Shape: the eval set's distinct shingle hashes are a bounded side —
    broadcast them and tag each training shingle occurrence with a hit
    marker via a broadcast LEFT join (ev is distinct on the hash, so no
    row multiplication), then compute total AND matched counts in ONE
    per-doc aggregation. The 100 TB contract: training text is scanned,
    exploded, and hashed exactly once; the only wide op is a single
    shuffle of (doc_id, counts) — never the payload; eval shingles
    (benchmarks are ~MBs) broadcast. (The previous two-branch shape —
    semi-join count joined against a separate total count — scanned the
    training side twice and shuffled three times; it measured ~2× this
    plan's wall at the ×10 scalecheck point.)

    Returns (id, n_shingles, n_matched, overlap_ratio, contaminated).
    """
    tr = _exploded_shingles(
        ensure_parallelism(train), [F.col(id_col).alias("id")], text_col, shingle_k
    ).select("id", F.xxhash64("__s").alias("sh"))
    ev = (
        _exploded_shingles(eval_set, [], text_col, shingle_k)
        .select(F.xxhash64("__s").alias("sh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        tr.join(F.broadcast(ev), "sh", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_matched"),
        )
        .select(
            "id",
            "n_shingles",
            "n_matched",
            (F.col("n_matched") / F.col("n_shingles")).alias("overlap_ratio"),
        )
        .withColumn("contaminated", F.col("overlap_ratio") >= threshold)
    )


def _star_components(
    edges: DataFrame, max_iters: int, checkpoint_dir: str | None = None
) -> tuple[DataFrame, int]:
    """Two-phase star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", §3): alternate

    - **large-star**: every node connects its strictly-larger
      neighbors to the minimum of its closed neighborhood, and
    - **small-star**: every node (oriented hi→lo) connects its
      smaller neighbors and itself to that minimum,

    until the edge set is a fixpoint — a forest of stars whose centers
    are the component minima. Worst-case O(log² n) rounds on any graph
    (vs O(diameter) for label propagation), each round two shuffles of
    (long, long) edges. Input must be oriented (u > v), self-loop-free,
    distinct. Returns (star edges as (u=node, v=root), rounds run)."""
    prev_stats = None
    prev_edges: DataFrame | None = None
    converged = False
    rounds = 0
    for rounds in range(1, max_iters + 1):
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
        # large-star: emit (v, min(Γ⁺(u))) for every neighbor v > u —
        # each undirected edge is emitted exactly once, from its
        # smaller endpoint, so the output is already hi→lo oriented.
        # NO distinct here (r13): duplicates cannot change the round —
        # ``mins`` is a min-aggregate (dup-insensitive, and its partial
        # agg collapses dups map-side before the exchange) and the
        # small-star join's dup output rows vanish in ``small``'s final
        # distinct — so deduping large only traded one full (u, v)
        # exchange of the edge set PER ROUND for slightly fatter join
        # input (dup multiplicity is bounded by neighbors sharing a
        # least(u, mn); on the long-chain graphs this algorithm is the
        # escape hatch for, degree ≤ 2 means near-zero dups).
        large = (
            sym.join(nbr_min, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.least(F.col("u"), F.col("mn")).alias("v"))
        )
        large = _truncate(large, checkpoint_dir)
        # small-star on the oriented output: for each hub u, attach u
        # and all its (smaller) neighbors to their minimum
        mins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .distinct()
        )
        small = _truncate(small, checkpoint_dir)
        stats = small.agg(
            F.count(F.lit(1)),
            F.sum(F.col("u").cast("decimal(38,0)")),
            F.sum(F.col("v").cast("decimal(38,0)")),
        ).first()
        edges = small
        if prev_stats is not None and tuple(stats) == tuple(prev_stats):
            # the (count, Σu, Σv) match is a cheap necessary condition;
            # confirm the fixpoint EXACTLY before declaring convergence
            # so a sum collision can never yield wrong clusters (counts
            # are equal, so one-sided multiset containment suffices)
            if prev_edges is not None and small.exceptAll(prev_edges).isEmpty():
                converged = True
                break
        prev_stats = stats
        prev_edges = small
    if not converged:
        logger.warning(
            "star-contraction did not reach a fixpoint within max_iters=%d "
            "rounds; cluster assignments may be incomplete — raise max_iters",
            max_iters,
        )
    return edges, rounds


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 25,
    algorithm: str = "label",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a candidate-pair edge list.

    ``algorithm="label"`` (default) is min-label propagation: every
    node starts labeled with its own id; each round takes the min of
    its label and its neighbors' labels; fixpoint = components labeled
    by their smallest member id.

    Scale notes (the dedup use case): near-dup components are
    near-cliques, so the diameter — and the round count — is tiny
    (2-4); each round is one shuffle of (node, label) longs, never
    payloads. Convergence is detected from the monotone global label
    sum (labels only ever decrease), a one-row aggregate per round
    instead of a change-count join. Per-round ``localCheckpoint``
    truncates the lineage so the plan doesn't grow with iterations;
    pass ``checkpoint_dir`` (a fault-tolerant path — HDFS/S3 on a
    cluster) to switch every per-round truncation to a RELIABLE
    ``checkpoint()`` that survives executor loss — see
    :func:`_truncate` for the tradeoff.

    ``algorithm="star"`` is two-phase large-star/small-star contraction
    (Kiveris et al.) — O(log² n) rounds on ANY graph shape, the escape
    hatch for adversarial long-chain graphs where label propagation
    needs O(diameter) rounds. Identical output contract.

    Returns (id, cluster_id) for every node that appears in ``pairs``.
    Reference parity: the reference has no graph operators at all —
    this is [beyond-ref] plumbing required by LLM dedup (SURVEY §2.8).
    """
    if algorithm not in ("label", "star"):
        raise ValueError(f"algorithm must be 'label' or 'star', got {algorithm!r}")
    e1 = pairs.select(F.col(src_col).cast("long").alias("u"), F.col(dst_col).cast("long").alias("v"))
    if algorithm == "star":
        oriented = _truncate(
            e1.where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct(),
            checkpoint_dir,
        )
        stars, _ = _star_components(oriented, max_iters, checkpoint_dir)
        nodes = (
            e1.select("u").union(e1.select(F.col("v").alias("u"))).distinct()
        )
        parents = stars.groupBy("u").agg(F.min("v").alias("root"))
        return (
            nodes.join(parents, "u", "left")
            .select(F.col("u").alias("id"), F.coalesce("root", F.col("u")).alias("cluster_id"))
        )
    edges = _truncate(
        e1.union(e1.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct(),
        checkpoint_dir,
    )
    # fused round 1: with labels initialized to own ids, the first
    # propagation is just min(id, min neighbor id) — one groupBy over
    # the edge list instead of a join round. Seeding prev_sum with the
    # init labels' sum lets near-clique dedup graphs (diameter ≤ 2)
    # terminate after a single join round instead of three.
    labels = _truncate(
        edges.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select(F.col("u").alias("id"), F.least("u", "__mn").alias("label")),
        checkpoint_dir,
    )
    prev_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = _truncate(
            labels.join(nbr_min, labels.id == nbr_min.u, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
            ),
            checkpoint_dir,
        )
        cur_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    algorithm: str = "label",
    checkpoint_dir: str | None = None,
    score_col: str | None = None,
    keep: str = "max",
) -> DataFrame:
    """Canonicalize near-dup candidate pairs into keep/drop decisions:
    every document maps to the smallest id in its connected component
    (itself if unpaired), ``is_duplicate`` marks the non-canonical
    members — the rows an LLM-data pipeline drops.

    ``score_col`` switches the KEEP POLICY from min-id to
    best-scoring: within each cluster the kept row is the one with the
    ``keep`` ("max"/"min") value of ``score_col`` (ties → lowest id,
    NULL scores last under either direction — engine-portable), and
    the result gains a ``canonical_id`` column naming it. Keeping the
    longest / highest-quality member instead of the arbitrary min-id
    one is the usual curation policy (the cluster label itself stays
    min-id — stable under re-runs regardless of score drift).

    One left join of the corpus against the (tiny relative to corpus)
    component labels; the corpus itself is never shuffled on anything
    but the join key. The scoring window runs over cluster MEMBERS
    only (rows that appear in ``pairs``), never the whole corpus."""
    cc = connected_components(pairs, algorithm=algorithm, checkpoint_dir=checkpoint_dir)
    base = (
        df.select(F.col(id_col))
        .join(cc, F.col(id_col) == cc.id, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )
    if score_col is None:
        return base.select(
            id_col,
            "cluster_id",
            (F.col("cluster_id") != F.col(id_col)).alias("is_duplicate"),
        )
    if keep not in ("max", "min"):
        raise ValueError(f"keep must be 'max' or 'min', got {keep!r}")
    members = df.select(
        F.col(id_col).alias("__mid"), F.col(score_col).alias("__score")
    ).join(cc.select(F.col("id").alias("__mid"), "cluster_id"), "__mid")
    # explicit NULLS LAST both directions: Spark's ASC default is
    # nulls-first, DuckDB's is nulls-last — pin the portable order
    order = (
        F.col("__score").desc_nulls_last()
        if keep == "max"
        else F.col("__score").asc_nulls_last()
    )
    w = Window.partitionBy("cluster_id").orderBy(order, F.col("__mid").asc())
    canon = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("cluster_id", F.col("__mid").alias("canonical_id"))
    )
    return base.join(canon, "cluster_id", "left").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
        (F.coalesce("canonical_id", F.col(id_col)) != F.col(id_col)).alias(
            "is_duplicate"
        ),
    )


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    stride: int = 20,
    hash_fn: str = "md5",
) -> DataFrame:
    """Passage-level exact dedup (boilerplate removal): cut each
    document into ``window``-word passages every ``stride`` words,
    hash each passage, and mark every occurrence after the corpus-wide
    first (ordered by doc id, then position) as a duplicate. Returns
    (id, pos, passage_hash, is_duplicate) — callers drop flagged
    passages or route docs with high duplicate share to review.

    ``hash_fn="md5"`` is engine-portable (SQL oracles recompute it);
    ``"xxhash64"`` is the cheaper scale default inside Spark.

    Scale: passages are map-side column expressions (no UDF); the only
    shuffle is the window partition on the passage hash — 16-to-32-byte
    keys plus two ints, never the text. A hot passage (the classic
    boilerplate header) lands in one partition but carries only its
    tiny rows, and the first-occurrence rule needs exactly that
    grouping."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    # words materialized as a column — see _shingles_from_words: an
    # inline split would re-run the regex once per passage inside the
    # interpreted transform()
    words = F.col("__words")
    n = F.size(words)
    starts = F.sequence(
        F.lit(1), F.greatest(n - (window - 1), F.lit(1)), F.lit(stride)
    )
    text_of = lambda i: F.concat_ws(" ", F.slice(words, i, window))  # noqa: E731
    if hash_fn == "md5":
        hash_of = lambda i: F.md5(text_of(i))  # noqa: E731
    else:
        hash_of = lambda i: F.xxhash64(text_of(i)).cast("string")  # noqa: E731
    passages = F.transform(
        starts,
        lambda i: F.struct(
            i.cast("long").alias("pos"), hash_of(i).alias("passage_hash")
        ),
    )
    ex = (
        ensure_parallelism(df)
        .withColumn("__words", _word_array(text_col))
        .select(F.col(id_col), F.explode(passages).alias("__p"))
        .select(F.col(id_col), F.col("__p.pos").alias("pos"), F.col("__p.passage_hash").alias("passage_hash"))
    )
    w = Window.partitionBy("passage_hash").orderBy(F.col(id_col), F.col("pos"))
    return ex.withColumn("is_duplicate", F.row_number().over(w) > 1)


def duplicated_spans(
    df: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Exact-substring (span-level) dedup — the ExactSubstr shape from
    the training-data dedup literature: find every MAXIMAL token span
    whose every ``min_tokens``-gram occurs at least twice in the
    corpus (another document, or another position in the same one —
    self-repetition is duplication too). Document-level dedup throws
    away whole documents; this returns the (id, start_tok, end_tok)
    spans a pipeline can CUT, keeping the unique remainder — the
    standard treatment for boilerplate headers, license blocks and
    quoted passages.

    Algorithm (all relational, no suffix array needed for the
    fixed-minimum-length contract): every overlapping
    ``min_tokens``-gram is hashed; grams whose corpus-wide hash count
    is ≥ 2 mark their start position as duplicated; per document,
    maximal runs of consecutive duplicated positions become spans
    (gaps-and-islands: position minus its per-doc rank is constant
    within a run). A span of ``S`` consecutive duplicated grams covers
    ``S + min_tokens - 1`` tokens, every window of which is duplicated
    — exactly the region ExactSubstr would cut at this granularity.

    Returns (id, start_tok, end_tok, span_tokens), token positions
    1-based inclusive over the ``\\s+``-split lowercased text (the
    family's tokenization). Spans from DIFFERENT islands may overlap
    in token range (islands are disjoint in gram-START positions, but
    each expands by ``min_tokens - 1`` tokens to the right, so starts
    separated by a gap of <= min_tokens-2 intersect) — consumers
    summing ``span_tokens`` per doc would double-count; ``cut_spans``
    uses an exists() coverage test and is overlap-safe. ``hash_fn="md5"`` is engine-portable (the
    suite oracle replays grams, counts and islands in SQL);
    ``"xxhash64"`` is the cheaper in-Spark default. Hash collisions
    conflate distinct grams with negligible probability (64-bit/128-bit
    keyspace) — acceptable for a dedup screen, as with the rest of the
    hash family.

    Scale: the gram stream is one map-side explode (~one row per
    corpus token: a hash + doc id + int position, never the text); the
    only shuffles are the gram-hash count aggregate, the hash
    equi-join back, and the per-doc islands window — all keyed, all
    linear. A hot gram (the classic boilerplate line) is one heavy
    count cell but its join-back fans out only to its own occurrences.

    Reference point: passage_dedup (above) flags fixed windows at a
    stride; this finds exact maximal duplicated REGIONS at token
    granularity."""
    grams = substring_gram_stream(df, min_tokens, id_col, text_col, hash_fn)
    dup_hashes = grams.groupBy("gh").count().where(F.col("count") >= 2).select("gh")
    # merge hint (same rationale as minhash_candidate_pairs): the dup
    # set GROWS with the corpus, so an AQE broadcast is a runtime
    # gamble that re-executes the gram subtree for the build side and
    # ships an unbounded table (observed 380 MiB at a ×10 probe); the
    # sort-merge join shuffles both sides on the 32-byte hash key and
    # keeps AQE's skew-splitting available for hot boilerplate grams
    dup_pos = grams.join(dup_hashes.hint("merge"), "gh").select(id_col, "p")
    return _spans_from_dup_positions(dup_pos, min_tokens, id_col)


def substring_gram_stream(
    df: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The persistable **gram-position store** behind exact-substring
    dedup: ``(id, p, gh)`` — one row per overlapping ``min_tokens``-gram
    of the ``\\s+``-split lowercased text, ``p`` the 1-based start
    position, ``gh`` the gram hash. This is the artifact an incremental
    span-dedup pipeline keeps BETWEEN runs (the analogue of
    :func:`minhash_bands`' band store): write it partitioned by
    ``batch_id`` (and ideally bucketed by ``gh``) and each day's batch
    joins against the store without re-hashing the historical corpus —
    see :func:`incremental_duplicated_spans`. Map-side only (one
    explode, no shuffle)."""
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    L = int(min_tokens)
    words = F.col("__words")
    n = F.size(words)
    # no partial grams: a doc shorter than L tokens emits nothing
    # (sequence(1, 0) would DESCEND [1, 0], so the guard is load-bearing)
    starts = F.when(n >= L, F.sequence(F.lit(1), n - (L - 1))).otherwise(
        F.array().cast("array<int>")
    )
    text_of = lambda i: F.concat_ws(" ", F.slice(words, i, L))  # noqa: E731
    if hash_fn == "md5":
        hash_of = lambda i: F.md5(text_of(i))  # noqa: E731
    else:
        hash_of = lambda i: F.xxhash64(text_of(i)).cast("string")  # noqa: E731
    return (
        ensure_parallelism(df)
        .withColumn("__words", _word_array(text_col))
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    starts,
                    lambda i: F.struct(
                        i.cast("long").alias("p"), hash_of(i).alias("gh")
                    ),
                )
            ).alias("__g"),
        )
        .select(F.col(id_col), F.col("__g.p").alias("p"), F.col("__g.gh").alias("gh"))
    )


def substring_count_partials(grams: DataFrame) -> DataFrame:
    """Per-batch **partial gram counts** ``(gh, cnt)`` for the count
    store beside the gram-position store. Partials are MERGEABLE: the
    corpus-wide count of a gram is the SUM of its partial rows across
    batch partitions, so appending a batch's partials keeps the store
    correct without touching history, compaction may either union rows
    (already correct) or fold them with a groupBy-sum, and a tombstone
    delete is expressible as appending NEGATIVE partials for the
    removed documents' grams."""
    return grams.groupBy("gh").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def _spans_from_dup_positions(
    dup_pos: DataFrame, min_tokens: int, id_col: str
) -> DataFrame:
    """Gaps-and-islands merge: duplicated gram-START positions →
    maximal (start_tok, end_tok, span_tokens) spans per document."""
    L = int(min_tokens)
    w = Window.partitionBy(id_col).orderBy("p")
    islands = dup_pos.withColumn("__grp", F.col("p") - F.row_number().over(w))
    return (
        islands.groupBy(id_col, "__grp")
        .agg(
            F.min("p").alias("start_tok"),
            (F.max("p") + F.lit(L - 1)).alias("end_tok"),
        )
        .withColumn(
            "span_tokens", (F.col("end_tok") - F.col("start_tok") + 1).cast("long")
        )
        .drop("__grp")
    )


def incremental_duplicated_spans(
    new_grams: DataFrame,
    corpus_grams: DataFrame,
    corpus_counts: DataFrame | None = None,
    *,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    validate: bool = False,
    pin_intermediates: bool = True,
) -> DataFrame:
    """Incremental exact-substring dedup: spans for the documents a
    new batch TOUCHES — the new documents themselves PLUS the old
    documents whose duplication status the batch changed — computed
    against the persisted gram stores, never by re-hashing the corpus
    (the span analogue of :func:`incremental_candidate_pairs`).

    Inputs: ``new_grams`` is :func:`substring_gram_stream` over the
    arriving batch; ``corpus_grams`` is the historical position store
    ``(id, p, gh)``; ``corpus_counts`` the mergeable partial-count
    store ``(gh, cnt)`` (derived from ``corpus_grams`` when None — the
    no-count-store fallback, correct but O(corpus) per tick; keep the
    count store to make ticks batch-proportional).

    Key property (what the oracle gates): duplication is MONOTONE — a
    batch only ever ADDS occurrences, so an old document's spans
    change iff it contains a gram whose corpus count crossed 1 → >=2
    because of this batch (``hist == 1``; its single historical
    occurrence pinpoints exactly one affected document). Spans are
    recomputed for new ∪ affected documents only; every other old
    document's spans are provably unchanged, so

        merge_span_tables(prior_spans, incremental_output)

    equals a from-scratch :func:`duplicated_spans` over the grown
    corpus. Every affected old document appears in the output (it
    gained at least one duplicated position).

    Scale shape: the newly-duplicated gram set is bounded by the NEW
    batch's vocabulary (broadcastable); history lookups are equi-joins
    on ``gh`` whose shuffle is bounded by matching rows (bucket the
    stores by ``gh`` and the store side never shuffles); the affected
    re-read is a semi-join on ``id``; the final dup-position join is
    merge-hinted exactly like the batch path. Nothing is ever
    corpus×corpus, and no text is re-tokenized.

    Both stores MUST be built with identical ``(min_tokens, hash_fn)``
    — the schema cannot carry that, and a mismatch joins incompatible
    hash spaces. ``validate=True`` adds a cheap structural check (two
    1-row probes: an md5 gram hash is 32 hex chars, an xxhash64 one a
    signed decimal string — the same drift the band-store validate
    catches); ``min_tokens`` drift at equal hash_fn is undetectable
    from the store — version your store paths. Document ids must be
    unique across batches (re-ingest of an existing id would double
    its positions; delete it from the stores first — see
    :func:`substring_count_partials` on negative partials).

    ``pin_intermediates`` (default True) pins the batch-proportional
    intermediates (``tot_new``, ``affected``, ``old_pos``) with lazy
    ``localCheckpoint`` so each executes once per action instead of
    once per downstream consumer (the gram/count subtrees are
    referenced up to 6×). The trade: local checkpoints live in
    executor-local storage, NOT reliable storage — on a cluster,
    losing an executor after a pin materializes fails the job instead
    of recomputing the lineage, and the pinned blocks anchor their
    executors against aggressive dynamic deallocation. The pinned data
    is bounded by the new batch's size by contract, so the default is
    right for batch-sized ticks; pass ``False`` on deployments with
    executor churn (spot/preemptible nodes, aggressive downscaling)
    where a recomputable-but-slower plan is the better trade."""
    if validate:
        probes = [new_grams.select("gh").first(), corpus_grams.select("gh").first()]
        # an md5 digest is exactly 32 hex chars; an xxhash64 rendered
        # as a signed decimal string is at most 20 chars
        kinds = [
            None if p is None else ("md5" if len(p[0]) == 32 else "xxhash64")
            for p in probes
        ]
        if None not in kinds and kinds[0] != kinds[1]:
            raise ValueError(
                f"gram-store mismatch: new side hashes look like {kinds[0]}, "
                f"corpus store like {kinds[1]} — both sides must be built "
                "with identical (min_tokens, hash_fn)"
            )
    if corpus_counts is None:
        corpus_counts = substring_count_partials(corpus_grams)
    _pin = (lambda d: d.localCheckpoint(eager=False)) if pin_intermediates \
        else (lambda d: d)
    # new_grams is consumed twice (count partials + dup-position union)
    # but is deliberately NOT pinned (r13, measured): the gram stream is
    # the LARGEST batch-derived intermediate (one row per token, ~50 B
    # each — several times the raw text), while recomputing it is a
    # map-only tokenize+explode from the batch; pinning traded nothing
    # at the bench point (3.23s vs 3.19s best-of-6, inside noise) and
    # at scale would hold gram-sized executor storage to save a cheap
    # narrow recompute. Only JOIN-REDUCED, batch-vocabulary-bounded
    # intermediates are pinned below.
    new_counts = substring_count_partials(new_grams).withColumnRenamed("cnt", "__n")
    # history counts for the NEW batch's vocabulary only (never the
    # whole store vocabulary): ONE right join keeps exactly the store
    # partials matching the batch vocabulary, and grouping on (gh, __n)
    # folds them — __n is functionally dependent on gh, so this is the
    # same per-gram (hist, new) pair the previous two-join formulation
    # produced, with half the references to the new-batch subtree.
    # The result is batch-vocabulary-bounded by contract, so pinning it
    # (lazy localCheckpoint) makes every downstream consumer read the
    # computed blocks instead of re-executing the gram/count subtrees —
    # the DAG references tot_new twice and its ancestors up to 6 times.
    tot_new = (
        corpus_counts.join(new_counts, "gh", "right")
        .groupBy("gh", "__n")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("__h"))
        .select("gh", "__h", "__n")
    )
    tot_new = _pin(tot_new)
    # grams this batch flipped to duplicated: exactly one historical
    # occurrence (hist==1; with n>=1 the total is now >=2). hist==0 is
    # new-only (no old doc affected); hist>=2 was already duplicated
    # (its docs' spans already include it).
    newly_dup = tot_new.where(F.col("__h") == 1).select("gh")
    # dup grams among the new batch's grams (for the new docs' spans)
    dup_new = tot_new.where(F.col("__h") + F.col("__n") >= 2).select("gh")
    # affected old docs: each newly-dup gram has exactly ONE historical
    # position — the broadcast is bounded by the new batch's vocabulary.
    # affected (ids only) and old_pos (the affected docs' gram
    # positions) are batch-proportional and each referenced twice —
    # pinned for the same reason as tot_new.
    affected = _pin(
        corpus_grams.join(F.broadcast(newly_dup), "gh")
        .select(id_col)
        .distinct()
    )
    old_pos = _pin(corpus_grams.join(affected, id_col, "left_semi"))
    # dup grams appearing ONLY in affected docs' history: n==0 there,
    # so duplicated iff hist >= 2 — a pure store property (grams the
    # new batch also carries are covered by dup_new; union distinct)
    dup_hist = (
        corpus_counts.join(old_pos.select("gh").distinct(), "gh")
        .groupBy("gh")
        .agg(F.sum("cnt").cast("long").alias("__h"))
        .where(F.col("__h") >= 2)
        .select("gh")
    )
    dup_all = dup_new.union(dup_hist).distinct()
    pos = new_grams.select(id_col, "p", "gh").unionByName(
        old_pos.select(id_col, "p", "gh")
    )
    # merge hint: same unbounded-dup-set rationale as duplicated_spans
    dup_pos = pos.join(dup_all.hint("merge"), "gh").select(id_col, "p")
    return _spans_from_dup_positions(dup_pos, min_tokens, id_col)


def merge_span_tables(
    prior_spans: DataFrame,
    updated_spans: DataFrame,
    id_col: str = "doc_id",
    pin_intermediates: bool = True,
) -> DataFrame:
    """Fold an :func:`incremental_duplicated_spans` output into the
    prior span table: every document present in ``updated_spans`` is
    REPLACED wholesale (its prior rows dropped — span sets change as
    units, never row-by-row), every other document's prior spans are
    kept. The result equals a from-scratch :func:`duplicated_spans`
    over the grown corpus. One anti-join on the id + a union — the
    updated side is batch-proportional, so AQE broadcasts it. The
    updated side is referenced twice (anti-join key + union payload);
    pinning it (lazy localCheckpoint, batch-proportional by contract)
    runs the incremental DAG once instead of twice.
    ``pin_intermediates=False`` skips the pin — same executor-churn
    trade as :func:`incremental_duplicated_spans`."""
    if pin_intermediates:
        updated_spans = updated_spans.localCheckpoint(eager=False)
    changed = updated_spans.select(id_col).distinct()
    return prior_spans.join(changed, id_col, "left_anti").unionByName(updated_spans)


def current_span_table(
    spans_store: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The corpus-current span table from a ``batch_id``-partitioned
    per-batch UPDATE store (the ``spans_path`` side of
    ``streaming.stateful.incremental_spans_batch``): each batch wrote
    the full new span set for the documents it touched, so the current
    spans of a document are the rows of its LATEST update — one
    aggregate for the per-doc max batch and one equi-join back
    (partition-pruned by the ``batch_id`` column Spark derives from
    the directory layout)."""
    latest = spans_store.groupBy(id_col).agg(F.max("batch_id").alias("batch_id"))
    return spans_store.join(latest, [id_col, "batch_id"]).drop("batch_id")


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_col: str = "start_tok",
    end_col: str = "end_tok",
) -> DataFrame:
    """Apply :func:`duplicated_spans` (or any 1-based-inclusive token
    span table): drop every token covered by one of the document's
    spans and rebuild the text from the survivors — the CUT half of
    exact-substring dedup, keeping each document's unique remainder
    instead of discarding whole documents.

    Returns the input columns plus ``clean_text`` (space-joined
    surviving tokens of the ``\\s+``-split lowercased text — the
    family's tokenization; original whitespace is not preserved) and
    ``removed_tokens``. Documents with no spans pass through with
    ``removed_tokens = 0``.

    Scale: spans aggregate per doc (tiny rows), one join back on the
    id, then a purely map-side indexed filter over the token array —
    per-token work is O(spans-in-this-doc). Note spans MAY overlap:
    only duplicated-gram-START islands are disjoint, so two islands
    whose starts are separated by a gap of <= min_tokens-2 positions
    expand to token ranges that intersect (e.g. min_tokens=8, starts
    at p=1 and p=5 give spans 1-8 and 5-12). Coverage here is an
    exists() test, so overlap is harmless — but span counts per doc
    stay bounded by the island count, which IS small."""
    agg = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col(start_col).alias("s"), F.col(end_col).alias("e"))
        ).alias("__spans")
    )
    # exists() is order-insensitive, so collect_list's nondeterministic
    # order cannot change the result
    covered = lambda i: F.exists(  # noqa: E731 — Spark's transform index is 0-based
        F.col("__spans"), lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"])
    )
    out = (
        df.join(agg, id_col, "left")
        .withColumn(
            "__spans",
            F.coalesce(
                F.col("__spans"),
                F.array().cast("array<struct<s:bigint,e:bigint>>"),
            ),
        )
        .withColumn("__words", F.coalesce(_word_array(text_col), F.array()))
        .withColumn(
            "__kept", F.filter(F.col("__words"), lambda w, i: ~covered(i))
        )
    )
    return (
        out.withColumn("clean_text", F.array_join(F.col("__kept"), " "))
        .withColumn(
            "removed_tokens",
            (F.size("__words") - F.size("__kept")).cast("long"),
        )
        .drop("__spans", "__words", "__kept")
    )


def _bloom_pos(shingle: Column, j: int, m_bits: int) -> Column:
    """Bloom bit position j of a shingle: the top 15 hex chars of
    md5(j ':' shingle) as a 60-bit non-negative int, mod ``m_bits`` —
    engine-portable (DuckDB replays it with the same CAST/substr)."""
    h = F.md5(F.concat(F.lit(f"{j}:"), shingle))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % F.lit(m_bits)


def bloom_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Benchmark decontamination against a BLOOM FILTER of the eval
    set's shingles — the bounded-memory variant of
    :func:`decontaminate` for when the eval/blocklist side is too big
    to broadcast as an exact shingle set (multi-benchmark unions,
    contractual blocklists): the broadcast side is AT MOST ``m_bits``
    distinct bit positions (8 B each; 2^20 bits ≈ 8 MB worst-case as a
    join table) no matter how many eval shingles exist.

    A training shingle is *maybe-contaminated* when all ``k_hashes``
    of its bit positions are set — one-sided error: every true overlap
    is flagged (no false negatives, the property decontamination
    needs); false-positive rate ≈ (1 - e^{-kE/m})^k for E distinct
    eval shingles, so flagged ratios are an UPPER BOUND on true
    overlap. Size ``m_bits`` ≥ ~10·E for ~1e-4 fp; positions are
    md5-derived (engine-portable — the suite oracle replays filter
    construction AND probing in SQL).

    Plan shape (mirrors :func:`decontaminate`): train text exploded
    and hashed once; the k membership probes are k broadcast LEFT
    joins against the SAME distinct-position table (map-side, no
    shuffle — AQE reuses the broadcast exchange); the only wide op is
    the final (id, counts) shuffle. Never collects — the filter lives
    as a distinct DataFrame, not a driver-side bitmap.

    Returns ``(id, n_shingles, n_maybe, overlap_ratio_ub,
    maybe_contaminated)``.
    """
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")
    if m_bits < 2:
        raise ValueError(f"m_bits must be >= 2, got {m_bits}")
    tr = _exploded_shingles(
        ensure_parallelism(train), [F.col(id_col).alias("id")], text_col, shingle_k
    )
    bits = (
        _exploded_shingles(eval_set, [], text_col, shingle_k)
        .select(
            F.explode(
                F.array(*[_bloom_pos(F.col("__s"), j, m_bits) for j in range(k_hashes)])
            ).alias("pos")
        )
        .distinct()
    )
    probed = tr.select(
        "id", *[_bloom_pos(F.col("__s"), j, m_bits).alias(f"__p{j}") for j in range(k_hashes)]
    )
    for j in range(k_hashes):
        probed = probed.join(
            F.broadcast(bits.select(F.col("pos").alias(f"__p{j}"), F.lit(1).alias(f"__h{j}"))),
            f"__p{j}",
            "left",
        )
    maybe = F.when(
        sum((F.col(f"__h{j}").isNotNull().cast("int") for j in range(k_hashes)), F.lit(0))
        == k_hashes,
        1,
    ).otherwise(0)
    return (
        probed.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(maybe).cast("long").alias("n_maybe"),
        )
        .select(
            "id",
            "n_shingles",
            "n_maybe",
            (F.col("n_maybe").cast("double") / F.col("n_shingles")).alias("overlap_ratio_ub"),
        )
        .withColumn("maybe_contaminated", F.col("overlap_ratio_ub") >= F.lit(threshold))
    )
