"""Operator registry: names → callables ``(spark, catalog, **params) ->
DataFrame | None``. Replaces the reference's importlib class-path
loading (runtime/loader.py:15-137) as the primary lookup; the dotted
``class_path`` escape hatch is kept for user extensions.

The op contract: an op reads its inputs from the catalog and RETURNS
its output DataFrame (``None`` for a sink); ``PipelineRunner`` alone
stores it under the component's ``output``. Only a secondary output
(``substring_grams``' ``counts_output``) is put by the op itself.

Most built-in ops are a library function applied to catalog datasets.
Those are rows of :data:`LIFTS` — the op name, the dotted target
(imported at call time), the params that name catalog inputs (passed
positionally, in order) and fixed keyword defaults; every other param
goes to the target by keyword. Ops with logic of their own are written
out below the table."""

from __future__ import annotations

import importlib
import logging
from typing import Any, Callable, NamedTuple

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


class Lift(NamedTuple):
    """One op that applies ``pyspark_pipeline_framework_spark.<target>``
    to the catalog datasets its ``inputs`` params name."""

    name: str
    target: str
    inputs: tuple[str, ...] = ("input",)
    defaults: dict[str, Any] = {}

    def resolve(self) -> Callable[..., DataFrame]:
        return load_class_path(f"pyspark_pipeline_framework_spark.{self.target}")


def _lift(row: Lift) -> None:
    def op(spark: SparkSession, catalog: Catalog, **params) -> DataFrame:
        missing = [k for k in row.inputs if k not in params]
        if missing:
            raise TypeError(f"op {row.name} needs catalog input param(s) {missing}")
        dfs = [catalog.get(params.pop(k)) for k in row.inputs]
        return row.resolve()(*dfs, **{**row.defaults, **params})

    op.__name__ = op.__qualname__ = f"op_{row.name}"
    op.__doc__ = f"{row.target} over catalog input(s) {', '.join(row.inputs)}."
    op.lift = row  # type: ignore[attr-defined]
    default_registry.register(row.name, op)


#: config-declarable library functions (SURVEY §2.8 LLM-data operators,
#: ANN stores, retrieval, event analytics)
LIFTS = [
    Lift("quality_filter", "llm.text.quality_filter"),
    Lift("language_id", "llm.text.language_id"),
    Lift("dedup_exact", "llm.dedup.exact_text_dedup"),
    Lift("dedup_minhash_pairs", "llm.dedup.minhash_candidate_pairs"),
    Lift("minhash_bands", "llm.dedup.minhash_bands"),
    Lift("dedup_incremental_pairs", "llm.dedup.incremental_candidate_pairs",
         ("new_bands", "corpus_bands")),
    Lift("jaccard_verify", "llm.dedup.jaccard_verify", ("input", "candidates")),
    Lift("dedup_clusters", "llm.dedup.dedup_clusters", ("input", "pairs")),
    Lift("duplicated_spans", "llm.dedup.duplicated_spans"),
    Lift("cut_spans", "llm.dedup.cut_spans", ("input", "spans")),
    Lift("decontaminate", "llm.dedup.decontaminate", ("input", "eval_set")),
    Lift("bloom_decontaminate", "llm.dedup.bloom_decontaminate", ("input", "eval_set")),
    Lift("global_shuffle", "llm.packing.global_shuffle"),
    Lift("token_budget_sample", "llm.packing.sample_to_token_budget"),
    Lift("sample_stratified", "llm.packing.stratified_sample"),
    Lift("sample_domain_mix", "llm.packing.domain_mix_sample"),
    Lift("sample_weighted", "llm.packing.weighted_sample"),
    Lift("split_by_hash", "llm.packing.split_by_hash"),
    Lift("pack_sequences", "llm.packing.pack_sequences"),
    Lift("chunk_documents", "llm.packing.chunk_documents"),
    Lift("media_probe", "llm.multimodal.probe_media"),
    Lift("ivf_add", "llm.similarity.ivf_add", ("input", "centroids")),
    Lift("ivf_search", "llm.similarity.ivf_search", ("assigned", "centroids", "queries")),
    Lift("quantize_embeddings", "llm.similarity.quantize_embeddings"),
    Lift("semantic_dedup_pairs", "llm.similarity.semantic_dedup_pairs"),
    Lift("pq_encode", "llm.pq.pq_encode", ("input", "codebooks")),
    Lift("pq_search", "llm.pq.pq_search_adc", ("codes", "codebooks", "queries")),
    Lift("ivfpq_add", "llm.pq.ivfpq_add", ("input", "centroids", "codebooks")),
    Lift("ivfpq_search", "llm.pq.ivfpq_search",
         ("store", "centroids", "codebooks", "queries")),
    # pipelines default to the classic Robertson idf; the library's
    # 'rational' default is the variant that matches DuckDB exactly
    Lift("bm25_topk", "llm.retrieval.bm25_topk", ("input", "queries"), {"idf_mode": "ln"}),
    Lift("tfidf_terms", "llm.retrieval.tfidf_topk_terms", defaults={"idf_mode": "ln"}),
    Lift("robust_outliers", "operators.events.robust_outliers"),
    Lift("funnel", "operators.events.funnel_counts"),
    Lift("retention", "operators.events.cohort_retention"),
    Lift("range_frame", "operators.windows.global_range_frame"),
]
for _row in LIFTS:
    _lift(_row)


@default_registry.register("read")
def op_read(spark: SparkSession, catalog: Catalog, **params) -> DataFrame:
    """Read a source (parquet/csv/json/orc/delta/iceberg/table)."""
    return read_source(spark, SourceConfig(**params))


@default_registry.register("sql")
def op_sql(spark: SparkSession, catalog: Catalog, *, sql: str, **_) -> DataFrame:
    """SqlTransform parity: SQL over registered datasets; stays lazy so
    chained SQL stages fuse into one Catalyst plan."""
    return catalog.sql(sql)


@default_registry.register("transform")
def op_transform(
    spark: SparkSession, catalog: Catalog, *, input: str,
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
    return df


@default_registry.register("write")
def op_write(spark: SparkSession, catalog: Catalog, *, input: str, **params) -> None:
    """Write a dataset to a sink (format/mode/partitioning per SinkConfig)."""
    write_sink(catalog.get(input), SinkConfig(**params))
    return None


@default_registry.register("dedup_ngram_pairs")
def op_dedup_ngram_pairs(
    spark: SparkSession, catalog: Catalog, *, input: str, **params
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
    return ngram_jaccard_pairs(catalog.get(input), **params)


@default_registry.register("substring_grams")
def op_substring_grams(
    spark: SparkSession, catalog: Catalog, *, input: str,
    counts_output: str | None = None, **params,
) -> DataFrame:
    """The persistable gram-position store behind incremental
    exact-substring dedup: (id, p, gh) per overlapping min_tokens-gram
    -- llm.dedup.substring_gram_stream. Pass counts_output to also
    put the mergeable partial-count store (gh, cnt) in the catalog."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        substring_count_partials,
        substring_gram_stream,
    )

    grams = substring_gram_stream(catalog.get(input), **params)
    if counts_output is not None:
        catalog.put(counts_output, substring_count_partials(grams))
    return grams


@default_registry.register("dedup_incremental_spans")
def op_dedup_incremental_spans(
    spark: SparkSession,
    catalog: Catalog,
    *,
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
    return upd


@default_registry.register("ivf_train")
def op_ivf_train(
    spark: SparkSession, catalog: Catalog, *, input: str, dim: int, **params
) -> DataFrame:
    """Train the IVF coarse quantizer once (exact-integer Lloyd); persist
    the (nlist-row) centroid table and grow the index forever with
    ``op: ivf_add`` -- llm.similarity.ivf_train_centroids."""
    from pyspark_pipeline_framework_spark.llm.similarity import (
        centroids_to_df,
        drop_corrupt_vectors,
        ivf_train_centroids,
    )

    vec_col = params.get("vec_col", "embedding")
    corpus = drop_corrupt_vectors(catalog.get(input), vec_col, dim)
    return centroids_to_df(spark, ivf_train_centroids(corpus, dim, **params))


@default_registry.register("pq_train")
def op_pq_train(
    spark: SparkSession, catalog: Catalog, *, input: str, dim: int, **params
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
    return codebooks_to_df(spark, pq_train_codebooks_exact(corpus, dim, **params))


@default_registry.register("compact_store")
def op_compact_store(
    spark: SparkSession, catalog: Catalog, *, store: str, out: str,
    remove_ids_input: str | None = None, **params,
) -> DataFrame:
    """Fold a batch_id-per-micro-batch incremental store (an
    io.compaction.BatchStore) into one baseline partition at a NEW path
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
    return compact_batch_store(spark, store, out, **params)


@default_registry.register("stream")
def op_stream(spark: SparkSession, catalog: Catalog, **params) -> None:
    """Config-declared Structured Streaming pipeline (source →
    optional SQL transform over view `stream` → sink); blocks until
    the trigger completes (available_now/once = bounded batch-like
    run). See streaming/config.py."""
    from pyspark_pipeline_framework_spark.streaming.config import run_stream_component

    run_stream_component(spark, **params)
    return None
