"""Operator registry: names → callables ``(spark, catalog, **params) ->
DataFrame | None``. Replaces the reference's importlib class-path
loading (runtime/loader.py:15-137) as the primary lookup; the dotted
``class_path`` escape hatch is kept for user extensions."""

from __future__ import annotations

import importlib
import logging
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark_pipeline_framework_spark.io.readers import Catalog, SourceConfig, read_source
from pyspark_pipeline_framework_spark.io.writers import SinkConfig, write_sink

logger = logging.getLogger(__name__)

Operator = Callable[..., "DataFrame | None"]


def operator(name: str):
    """Mark a function as a discoverable operator for
    :meth:`OperatorRegistry.scan_package` — usable in user packages
    without importing any registry instance."""

    def deco(f: Operator) -> Operator:
        f.__operator_name__ = name  # type: ignore[attr-defined]
        return f

    return deco


class OperatorRegistry:
    def __init__(self) -> None:
        self._ops: dict[str, Operator] = {}

    def register(self, name: str, fn: Operator | None = None):
        if fn is not None:
            self._ops[name] = fn
            return fn

        def deco(f: Operator) -> Operator:
            self._ops[name] = f
            return f

        return deco

    def get(self, name: str) -> Operator:
        if name not in self._ops:
            raise KeyError(f"unknown operator {name!r}; known: {sorted(self._ops)}")
        return self._ops[name]

    def names(self) -> list[str]:
        return sorted(self._ops)

    def scan_package(self, package: str) -> list[str]:
        """Import every module under ``package`` and register all
        callables marked with :func:`operator` — package-scan component
        discovery (reference runtime/loader.py:114-137), so users drop
        operator modules into a package instead of listing dotted paths.
        Returns the newly registered names; a name already registered
        to a DIFFERENT callable raises (silent override would mask
        collisions between scanned modules)."""
        import pkgutil

        pkg = importlib.import_module(package)
        modules = [pkg]
        if hasattr(pkg, "__path__"):
            for info in pkgutil.walk_packages(pkg.__path__, prefix=pkg.__name__ + "."):
                modules.append(importlib.import_module(info.name))
        found: list[str] = []
        for mod in modules:
            for attr in list(vars(mod).values()):
                name = getattr(attr, "__operator_name__", None)
                if not name or not callable(attr):
                    continue
                existing = self._ops.get(name)
                if existing is attr:
                    continue  # same function re-exported elsewhere
                if existing is not None:
                    raise ValueError(
                        f"operator {name!r} from {mod.__name__} conflicts with an "
                        f"already-registered operator"
                    )
                self._ops[name] = attr
                found.append(name)
        return sorted(found)


def load_class_path(path: str) -> Any:
    """Dotted-path import (``pkg.mod.attr``) — the escape hatch."""
    mod_path, _, attr = path.rpartition(".")
    if not mod_path:
        raise ValueError(f"class_path {path!r} must be dotted")
    mod = importlib.import_module(mod_path)
    try:
        return getattr(mod, attr)
    except AttributeError as e:
        raise ImportError(f"{attr!r} not found in {mod_path!r}") from e


# ---------------------------------------------------------------------------
# built-in operator vocabulary (reference §2.1 components, Spark-first)
# ---------------------------------------------------------------------------

default_registry = OperatorRegistry()


@default_registry.register("read")
def op_read(spark: SparkSession, catalog: Catalog, *, output: str, **params) -> DataFrame:
    """Read a source (parquet/csv/json/orc/delta/iceberg/table) into the catalog."""
    df = read_source(spark, SourceConfig(**params))
    return catalog.put(output, df)


@default_registry.register("sql")
def op_sql(spark: SparkSession, catalog: Catalog, *, output: str, sql: str, **_) -> DataFrame:
    """SqlTransform parity: SQL over registered datasets; stays lazy so
    chained SQL stages fuse into one Catalyst plan."""
    return catalog.put(output, catalog.sql(sql))


@default_registry.register("transform")
def op_transform(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str,
    filter: str | None = None, select: list[str] | None = None,
    with_columns: dict[str, str] | None = None, **_,
) -> DataFrame:
    """Declarative projection/filter/computed-columns stage."""
    from pyspark.sql import functions as F

    df = catalog.get(input)
    if filter:
        df = df.filter(filter)
    for name, expr in (with_columns or {}).items():
        df = df.withColumn(name, F.expr(expr))
    if select:
        df = df.selectExpr(*select)
    return catalog.put(output, df)


@default_registry.register("write")
def op_write(spark: SparkSession, catalog: Catalog, *, input: str, **params) -> None:
    """Write a dataset to a sink (format/mode/partitioning per SinkConfig)."""
    write_sink(catalog.get(input), SinkConfig(**params))
    return None


# -- config-declarable LLM-data operators (SURVEY §2.8) ---------------------


@default_registry.register("quality_filter")
def op_quality_filter(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Length/symbol/uniqueness text-quality gate -- llm.text.quality_filter."""
    from pyspark_pipeline_framework_spark.llm.text import quality_filter

    return catalog.put(output, quality_filter(catalog.get(input), **params))


@default_registry.register("dedup_exact")
def op_dedup_exact(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Exact text dedup by sha256 content key -- llm.dedup.exact_text_dedup."""
    from pyspark_pipeline_framework_spark.llm.dedup import exact_text_dedup

    return catalog.put(output, exact_text_dedup(catalog.get(input), **params))


@default_registry.register("dedup_minhash_pairs")
def op_dedup_minhash_pairs(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs -- llm.dedup.minhash_candidate_pairs."""
    from pyspark_pipeline_framework_spark.llm.dedup import minhash_candidate_pairs

    return catalog.put(output, minhash_candidate_pairs(catalog.get(input), **params))


@default_registry.register("minhash_bands")
def op_minhash_bands(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """The persistable LSH band store — pair with ``op: write``
    (bucketed by band_hash) to keep it between incremental runs."""
    from pyspark_pipeline_framework_spark.llm.dedup import minhash_bands

    return catalog.put(output, minhash_bands(catalog.get(input), **params))


@default_registry.register("dedup_incremental_pairs")
def op_dedup_incremental_pairs(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    new_bands: str,
    corpus_bands: str,
    **params,
) -> DataFrame:
    """Incremental MinHash-LSH: new-batch bands (``minhash_bands``
    output) vs the persisted corpus band store — candidate pairs that
    touch the new batch, never corpus×corpus."""
    from pyspark_pipeline_framework_spark.llm.dedup import incremental_candidate_pairs

    return catalog.put(
        output,
        incremental_candidate_pairs(
            catalog.get(new_bands), catalog.get(corpus_bands), **params
        ),
    )


@default_registry.register("dedup_ngram_pairs")
def op_dedup_ngram_pairs(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Exact n-gram Jaccard pairs via inverted index -- llm.dedup.ngram_jaccard_pairs.

    Declarative contract (r9 VERDICT item 2): ``max_doc_freq`` is
    REQUIRED — without a hot-shingle cap the in-list pair emission is
    quadratic in posting-list length, which on a production corpus is
    an unbounded-shuffle outage, not a default anyone should inherit
    silently. Opting out of the cap must be explicit:
    ``max_doc_freq: null`` (logged as a warning). The Python API
    (``llm.dedup.ngram_jaccard_pairs``) keeps ``None`` as its default
    for oracle-exact small-corpus use."""
    from pyspark_pipeline_framework_spark.llm.dedup import ngram_jaccard_pairs

    if "max_doc_freq" not in params:
        raise ValueError(
            "op dedup_ngram_pairs requires max_doc_freq: the uncapped "
            "inverted index emits O(posting_list^2) pairs per shingle "
            "(boilerplate shingles make this an unbounded shuffle at "
            "corpus scale). Set max_doc_freq: <N> — or opt out "
            "EXPLICITLY with max_doc_freq: null for exact small-corpus "
            "runs."
        )
    if params["max_doc_freq"] is None:
        logger.warning(
            "op dedup_ngram_pairs: max_doc_freq=null — running the "
            "UNCAPPED quadratic inverted index; acceptable only on "
            "small corpora or pre-filtered candidates"
        )
    return catalog.put(output, ngram_jaccard_pairs(catalog.get(input), **params))


@default_registry.register("jaccard_verify")
def op_jaccard_verify(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    input: str,
    candidates: str,
    **params,
) -> DataFrame:
    """The scale composition's verify stage: exact Jaccard over the
    candidate pairs from ``dedup_minhash_pairs`` /
    ``dedup_incremental_pairs``."""
    from pyspark_pipeline_framework_spark.llm.dedup import jaccard_verify

    return catalog.put(
        output,
        jaccard_verify(catalog.get(input), catalog.get(candidates), **params),
    )


@default_registry.register("dedup_clusters")
def op_dedup_clusters(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    input: str,
    pairs: str,
    **params,
) -> DataFrame:
    """Near-dup canonicalization: connected components over the pair
    edge list, keep the smallest id per cluster."""
    from pyspark_pipeline_framework_spark.llm.dedup import dedup_clusters

    return catalog.put(
        output, dedup_clusters(catalog.get(input), catalog.get(pairs), **params)
    )


@default_registry.register("duplicated_spans")
def op_duplicated_spans(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params,
) -> DataFrame:
    """Exact-substring span dedup (maximal token spans whose every
    min_tokens-gram occurs >= 2x corpus-wide) --
    llm.dedup.duplicated_spans; cut the spans, keep the remainder."""
    from pyspark_pipeline_framework_spark.llm.dedup import duplicated_spans

    return catalog.put(output, duplicated_spans(catalog.get(input), **params))


@default_registry.register("cut_spans")
def op_cut_spans(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str,
    spans: str, **params,
) -> DataFrame:
    """Apply a duplicated-span table: drop covered tokens, rebuild
    clean_text from the unique remainder -- llm.dedup.cut_spans."""
    from pyspark_pipeline_framework_spark.llm.dedup import cut_spans

    return catalog.put(
        output, cut_spans(catalog.get(input), catalog.get(spans), **params)
    )


@default_registry.register("substring_grams")
def op_substring_grams(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params,
) -> DataFrame:
    """The persistable gram-position store behind incremental
    exact-substring dedup: (id, p, gh) per overlapping min_tokens-gram
    -- llm.dedup.substring_gram_stream. Pass counts_output to also
    emit the mergeable partial-count store (gh, cnt)."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        substring_count_partials,
        substring_gram_stream,
    )

    counts_output = params.pop("counts_output", None)
    grams = substring_gram_stream(catalog.get(input), **params)
    if counts_output is not None:
        catalog.put(counts_output, substring_count_partials(grams))
    return catalog.put(output, grams)


@default_registry.register("dedup_incremental_spans")
def op_dedup_incremental_spans(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    new_grams: str,
    corpus_grams: str,
    corpus_counts: str | None = None,
    prior_spans: str | None = None,
    **params,
) -> DataFrame:
    """Incremental ExactSubstr: spans for the documents the new batch
    touches (new + affected old), computed against the persisted gram
    stores — llm.dedup.incremental_duplicated_spans. With
    ``prior_spans`` set, the updated docs are folded into the prior
    span table (merge_span_tables), yielding the full corpus-current
    span table."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_duplicated_spans,
        merge_span_tables,
    )

    upd = incremental_duplicated_spans(
        catalog.get(new_grams),
        catalog.get(corpus_grams),
        catalog.get(corpus_counts) if corpus_counts is not None else None,
        **params,
    )
    if prior_spans is not None:
        upd = merge_span_tables(
            catalog.get(prior_spans), upd,
            id_col=params.get("id_col", "doc_id"),
        )
    return catalog.put(output, upd)


@default_registry.register("decontaminate")
def op_decontaminate(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    input: str,
    eval_set: str,
    **params,
) -> DataFrame:
    """Drop training docs sharing shingles with a (broadcast) eval set."""
    from pyspark_pipeline_framework_spark.llm.dedup import decontaminate

    return catalog.put(
        output, decontaminate(catalog.get(input), catalog.get(eval_set), **params)
    )


@default_registry.register("global_shuffle")
def op_global_shuffle(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Deterministic global shuffle into (shard, pos) training order --
    llm.packing.global_shuffle."""
    from pyspark_pipeline_framework_spark.llm.packing import global_shuffle

    return catalog.put(output, global_shuffle(catalog.get(input), **params))


@default_registry.register("token_budget_sample")
def op_token_budget_sample(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str,
    budget_tokens: int, **params,
) -> DataFrame:
    """Deterministic ~N-token subsample (per-shard prefix sums) --
    llm.packing.sample_to_token_budget."""
    from pyspark_pipeline_framework_spark.llm.packing import sample_to_token_budget

    return catalog.put(
        output, sample_to_token_budget(catalog.get(input), budget_tokens, **params)
    )


@default_registry.register("bloom_decontaminate")
def op_bloom_decontaminate(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    input: str,
    eval_set: str,
    **params,
) -> DataFrame:
    """Bounded-memory bloom-filter decontamination --
    llm.dedup.bloom_decontaminate (one-sided: no false negatives)."""
    from pyspark_pipeline_framework_spark.llm.dedup import bloom_decontaminate

    return catalog.put(
        output, bloom_decontaminate(catalog.get(input), catalog.get(eval_set), **params)
    )


@default_registry.register("ivf_train")
def op_ivf_train(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, dim: int, **params
) -> DataFrame:
    """Train the IVF coarse quantizer once; persist the (nlist-row)
    centroid table and grow the index forever with ``op: ivf_add``."""
    from pyspark_pipeline_framework_spark.llm.similarity import (
        centroids_to_df,
        drop_corrupt_vectors,
        ivf_train_centroids,
        ivf_train_centroids_exact,
    )

    mode = params.pop("mode", "fast")
    trainer = ivf_train_centroids_exact if mode == "exact" else ivf_train_centroids
    vec_col = params.get("vec_col", "embedding")
    corpus = drop_corrupt_vectors(catalog.get(input), vec_col, dim)
    return catalog.put(output, centroids_to_df(spark, trainer(corpus, dim, **params)))


@default_registry.register("ivf_add")
def op_ivf_add(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    input: str,
    centroids: str,
    dim: int,
    **params,
) -> DataFrame:
    """Map-only assignment of an embedding batch under the frozen
    quantizer — append the result to the assigned store."""
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_add

    return catalog.put(
        output, ivf_add(catalog.get(input), catalog.get(centroids), dim, **params)
    )


@default_registry.register("ivf_search")
def op_ivf_search(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    assigned: str,
    centroids: str,
    queries: str,
    dim: int,
    **params,
) -> DataFrame:
    """Top-k cosine search over the assigned IVF store."""
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_search

    return catalog.put(
        output,
        ivf_search(
            catalog.get(assigned),
            catalog.get(centroids),
            catalog.get(queries),
            dim,
            **params,
        ),
    )


@default_registry.register("pq_train")
def op_pq_train(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, dim: int, **params
) -> DataFrame:
    """Train PQ codebooks once (exact-integer Lloyd per subspace);
    persist the (m_sub*ksub)-row codebook table and encode batches
    forever with ``op: pq_encode`` -- llm.pq.pq_train_codebooks_exact."""
    from pyspark_pipeline_framework_spark.llm.pq import (
        codebooks_to_df,
        pq_train_codebooks_exact,
    )
    from pyspark_pipeline_framework_spark.llm.similarity import drop_corrupt_vectors

    vec_col = params.get("vec_col", "embedding")
    corpus = drop_corrupt_vectors(catalog.get(input), vec_col, dim)
    return catalog.put(
        output, codebooks_to_df(spark, pq_train_codebooks_exact(corpus, dim, **params))
    )


@default_registry.register("pq_encode")
def op_pq_encode(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    input: str,
    codebooks: str,
    dim: int,
    **params,
) -> DataFrame:
    """Map-only PQ encoding of an embedding batch under frozen
    codebooks -- append the (id, codes) result to the code store."""
    from pyspark_pipeline_framework_spark.llm.pq import pq_encode

    return catalog.put(
        output, pq_encode(catalog.get(input), catalog.get(codebooks), dim, **params)
    )


@default_registry.register("pq_search")
def op_pq_search(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    codes: str,
    codebooks: str,
    queries: str,
    dim: int,
    **params,
) -> DataFrame:
    """ADC top-k over a PQ code store (broadcast per-query lookup
    tables, one generated lookup sum per code) -- llm.pq.pq_search_adc."""
    from pyspark_pipeline_framework_spark.llm.pq import pq_search_adc

    return catalog.put(
        output,
        pq_search_adc(
            catalog.get(codes),
            catalog.get(codebooks),
            catalog.get(queries),
            dim,
            **params,
        ),
    )


@default_registry.register("ivfpq_add")
def op_ivfpq_add(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    input: str,
    centroids: str,
    codebooks: str,
    dim: int,
    **params,
) -> DataFrame:
    """One map-only pass assigning + PQ-encoding an embedding batch
    under a frozen quantizer pair (train via op: ivf_train mode=exact
    + op: pq_train) -- append the (id, cell, codes) rows to the IVFPQ
    store; no raw vector is stored."""
    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_add

    return catalog.put(
        output,
        ivfpq_add(
            catalog.get(input), catalog.get(centroids), catalog.get(codebooks),
            dim, **params,
        ),
    )


@default_registry.register("ivfpq_search")
def op_ivfpq_search(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    store: str,
    centroids: str,
    codebooks: str,
    queries: str,
    dim: int,
    **params,
) -> DataFrame:
    """Cell-pruned ADC top-k over an IVFPQ store --
    llm.pq.ivfpq_search."""
    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_search

    return catalog.put(
        output,
        ivfpq_search(
            catalog.get(store),
            catalog.get(centroids),
            catalog.get(codebooks),
            catalog.get(queries),
            dim,
            **params,
        ),
    )


@default_registry.register("sample_stratified")
def op_sample_stratified(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Deterministic md5-keyed sampling (keep iff hash(id) < rate) --
    llm.packing.stratified_sample."""
    from pyspark_pipeline_framework_spark.llm.packing import stratified_sample

    return catalog.put(output, stratified_sample(catalog.get(input), **params))


@default_registry.register("sample_domain_mix")
def op_sample_domain_mix(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Temperature-reweighted per-domain sampling (p_d proportional to
    n_d^alpha) -- llm.packing.domain_mix_sample."""
    from pyspark_pipeline_framework_spark.llm.packing import domain_mix_sample

    return catalog.put(output, domain_mix_sample(catalog.get(input), **params))


@default_registry.register("sample_weighted")
def op_sample_weighted(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Per-row importance sampling (keep probability proportional to a
    weight column, expected fraction pinned) --
    llm.packing.weighted_sample."""
    from pyspark_pipeline_framework_spark.llm.packing import weighted_sample

    return catalog.put(output, weighted_sample(catalog.get(input), **params))


@default_registry.register("language_id")
def op_language_id(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """N-gram-marker language identification -- llm.text.language_id."""
    from pyspark_pipeline_framework_spark.llm.text import language_id

    return catalog.put(output, language_id(catalog.get(input), **params))


@default_registry.register("split_by_hash")
def op_split_by_hash(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Deterministic train/valid/test split -- llm.packing.split_by_hash."""
    from pyspark_pipeline_framework_spark.llm.packing import split_by_hash

    return catalog.put(output, split_by_hash(catalog.get(input), **params))


@default_registry.register("pack_sequences")
def op_pack_sequences(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Greedy sequence packing into token budgets -- llm.packing.pack_sequences."""
    from pyspark_pipeline_framework_spark.llm.packing import pack_sequences

    return catalog.put(output, pack_sequences(catalog.get(input), **params))


@default_registry.register("chunk_documents")
def op_chunk_documents(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Overlapping token-window chunking -- llm.packing.chunk_documents."""
    from pyspark_pipeline_framework_spark.llm.packing import chunk_documents

    return catalog.put(output, chunk_documents(catalog.get(input), **params))


@default_registry.register("media_probe")
def op_media_probe(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Magic-byte media probing over a binary `payload` column
    (format + dimensions/duration) — see llm/multimodal.py."""
    from pyspark_pipeline_framework_spark.llm.multimodal import probe_media

    return catalog.put(output, probe_media(catalog.get(input), **params))


@default_registry.register("compact_store")
def op_compact_store(
    spark: SparkSession, catalog: Catalog, *, store: str, out: str,
    output: str | None = None, remove_ids_input: str | None = None, **params,
) -> DataFrame | None:
    """Fold a batch_id-per-micro-batch incremental store (MinHash band
    store, IVF vector store) into one baseline partition at a NEW path
    — the small-files fix; see io.compaction.compact_batch_store.
    Tombstones (``remove_ids``/``remove_id_col``) and retention
    (``min_batch_id``) pass through; ``remove_ids_input`` instead
    resolves the tombstone set from the pipeline CATALOG (an id frame
    computed by an earlier stage — the declarative
    right-to-be-forgotten shape), mutually exclusive with
    ``remove_ids``."""
    from pyspark_pipeline_framework_spark.io.compaction import compact_batch_store

    if remove_ids_input is not None:
        if "remove_ids" in params:
            raise ValueError(
                "compact_store: pass remove_ids (a path/list) OR "
                "remove_ids_input (a catalog name), not both"
            )
        params["remove_ids"] = catalog.get(remove_ids_input)
    df = compact_batch_store(spark, store, out, **params)
    return catalog.put(output, df) if output else None


@default_registry.register("quantize_embeddings")
def op_quantize_embeddings(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Symmetric int8 embedding quantization -- llm.similarity.quantize_embeddings."""
    from pyspark_pipeline_framework_spark.llm.similarity import quantize_embeddings

    return catalog.put(output, quantize_embeddings(catalog.get(input), **params))


@default_registry.register("semantic_dedup_pairs")
def op_semantic_dedup_pairs(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, dim: int, **params
) -> DataFrame:
    """SemDeDup-style within-cluster cosine pairs --
    llm.similarity.semantic_dedup_pairs (feed into dedup_clusters)."""
    from pyspark_pipeline_framework_spark.llm.similarity import semantic_dedup_pairs

    return catalog.put(output, semantic_dedup_pairs(catalog.get(input), dim, **params))


@default_registry.register("bm25_topk")
def op_bm25_topk(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    input: str,
    queries: str,
    **params,
) -> DataFrame:
    """Top-k BM25 keyword search (queries = small catalog frame) --
    llm.retrieval.bm25_topk. Default idf_mode='ln' (classic
    Robertson); 'rational' is the cross-engine-exact variant."""
    from pyspark_pipeline_framework_spark.llm.retrieval import bm25_topk

    params.setdefault("idf_mode", "ln")
    return catalog.put(
        output, bm25_topk(catalog.get(input), catalog.get(queries), **params)
    )


@default_registry.register("tfidf_terms")
def op_tfidf_terms(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Top-n characteristic terms per doc -- llm.retrieval.tfidf_topk_terms."""
    from pyspark_pipeline_framework_spark.llm.retrieval import tfidf_topk_terms

    params.setdefault("idf_mode", "ln")
    return catalog.put(output, tfidf_topk_terms(catalog.get(input), **params))


@default_registry.register("robust_outliers")
def op_robust_outliers(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Median/MAD robust outlier screen (|x - med| > k*MAD, discrete
    quantiles) -- operators.events.robust_outliers."""
    from pyspark_pipeline_framework_spark.operators.events import robust_outliers

    return catalog.put(output, robust_outliers(catalog.get(input), **params))


@default_registry.register("funnel")
def op_funnel(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Ordered event-funnel step counts -- operators.events.funnel_counts."""
    from pyspark_pipeline_framework_spark.operators.events import funnel_counts

    return catalog.put(output, funnel_counts(catalog.get(input), **params))


@default_registry.register("retention")
def op_retention(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Cohort retention matrix -- operators.events.cohort_retention."""
    from pyspark_pipeline_framework_spark.operators.events import cohort_retention

    return catalog.put(output, cohort_retention(catalog.get(input), **params))


@default_registry.register("range_frame")
def op_range_frame(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Scale-safe global value-range window frame --
    operators.windows.global_range_frame (no single-partition sort)."""
    from pyspark_pipeline_framework_spark.operators.windows import global_range_frame

    return catalog.put(output, global_range_frame(catalog.get(input), **params))


@default_registry.register("stream")
def op_stream(spark: SparkSession, catalog: Catalog, **params) -> None:
    """Config-declared Structured Streaming pipeline (source →
    optional SQL transform over view `stream` → sink); blocks until
    the trigger completes (available_now/once = bounded batch-like
    run). See streaming/config.py."""
    from pyspark_pipeline_framework_spark.streaming.config import run_stream_component

    params.pop("output", None)
    run_stream_component(spark, **params)
    return None
