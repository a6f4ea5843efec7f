"""``stream_ingest``: a closed-loop file stream growing two stores.

Each micro-batch (one pre-written file, ``maxFilesPerTrigger=1``, so a
batch is admitted only after the previous one commits) goes through
``incremental_neardup_batch`` (MinHash band store, default xxhash64
banding) and ``streaming_ivfpq_add_batch`` (IVFPQ code store). Every
``COMPACT_EVERY`` batches both stores are folded by
``compact_batch_store``. After each batch the fixed query set is
searched with ``ivfpq_search`` against the grown code store, so reads
are mixed in with writes on the same stores. The first, cold batch runs
in set-up; each timed unit is one warm batch that follows it, from its
file's arrival to its commit, and the check after the last unit covers
every batch.

Why: this exercises the store writers, compaction and IVFPQ ADC search;
md5 MinHash is not on this path.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

import stats
from harness import maybe_span
from inputs import STREAM_BATCH_S

DIM = 64
K = 10
NPROBE = 4
COMPACT_EVERY = 2
#: recall@10 of ivfpq_search against exact cosine top-10 must reach
#: this mean over every search of a run
ANN_RECALL_FLOOR = 0.25
SCHEMA = "doc_id bigint, text string, embedding array<float>"


class StreamIngest:
    #: a unit is one warm micro-batch; ``inputs.stream_batches`` writes
    #: one file per unit after the cold one
    unit_seconds = STREAM_BATCH_S

    def __init__(self, ctx):
        self.ctx = ctx
        with open(os.path.join(ctx.inputs, "stream.json")) as f:
            self.truth = json.load(f)
        # the stream writer resolves the frozen models from parquet on
        # its cold first batch; the search side holds them in memory
        self.model = {m: os.path.join(ctx.inputs, f"{m}.parquet")
                      for m in ("centroids", "codebooks")}

    def setup(self) -> dict:
        """Loads the search models and starts the stream on its first,
        cold micro-batch (model resolution, worker start), untimed; the
        other batch files are staged for the timed region."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from pyspark_pipeline_framework_spark.io import compaction
        from pyspark_pipeline_framework_spark.llm import pq as llm_pq
        from pyspark_pipeline_framework_spark.streaming import sinks, sources, stateful

        cent = pq.read_table(self.model["centroids"]).to_pydict()
        self.C = np.array([c for _, c in sorted(zip(cent["cell"], cent["centroid"]))])
        cb = pq.read_table(self.model["codebooks"]).to_pydict()
        m_sub, ksub = max(cb["s"]) + 1, max(cb["j"]) + 1
        self.B = np.zeros((m_sub, ksub, len(cb["c"][0])))
        for s, j, c in zip(cb["s"], cb["j"], cb["c"]):
            self.B[s, j] = c

        ctx, tracer = self.ctx, self.ctx.tracer
        spark = ctx.spark
        base = self.base = os.path.join(ctx.run_dir, "stream")
        bands, pairs, codes = (os.path.join(base, d) for d in ("bands", "pairs", "codes"))
        neardup = stateful.incremental_neardup_batch(bands, pairs)
        ivfpq_add = stateful.streaming_ivfpq_add_batch(
            codes, self.model["centroids"], self.model["codebooks"], DIM)
        queries = spark.read.parquet(os.path.join(ctx.inputs, "queries.parquet"))
        self.searches = searches = []

        def compact(store: str) -> None:
            out = store + ".compacting"
            compaction.compact_batch_store(spark, store, out)
            shutil.rmtree(store)
            os.rename(out, store)

        def process(batch_df, batch_id: int) -> None:
            with maybe_span(tracer, "streaming.neardup", "streaming", batch=batch_id):
                neardup(batch_df.select("doc_id", "text"), batch_id)
            with maybe_span(tracer, "llm.pq.add", "llm.pq", cpu=True, batch=batch_id):
                ivfpq_add(batch_df.select(F.col("doc_id").alias("vec_id"), "embedding"), batch_id)
            if (batch_id + 1) % COMPACT_EVERY == 0:
                with maybe_span(tracer, "io.compact", "io", batch=batch_id):
                    compact(bands)
                    compact(codes)
            t0 = time.perf_counter()
            with maybe_span(tracer, "llm.pq.search", "llm.pq", cpu=True, batch=batch_id):
                rows = llm_pq.ivfpq_search(
                    spark.read.parquet(codes).drop("batch_id"), self.C, self.B,
                    queries, DIM, k=K, nprobe=NPROBE,
                ).select("query_id", "vec_id", "rank").collect()
            searches.append({"batch": batch_id, "s": time.perf_counter() - t0,
                             "rows": [(r.query_id, r.vec_id, r.rank) for r in rows]})

        # the file source admits files oldest first and ignores names
        # starting with "_"; a batch file is renamed into the source
        # directory whole, with its generated modification time
        self.src = os.path.join(base, "source")
        files = sorted(os.listdir(os.path.join(ctx.inputs, "stream_in")))
        self.staged = []
        os.makedirs(self.src)
        for name in files:
            staged = os.path.join(self.src, "_" + name)
            shutil.copy2(os.path.join(ctx.inputs, "stream_in", name), staged)
            self.staged.append(staged)
        src = sources.FileStreamingSource(self.src, "parquet", SCHEMA, {"maxFilesPerTrigger": "1"})
        self.query = (
            sinks.ForeachBatchSink(process).write_stream(src.read_stream(spark))
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .start()
        )
        self._admit(self.staged[:1])
        return {"attempted": 0, "failed": 0}  # the cold batch is checked with the rest

    def _admit(self, staged: list[str]) -> None:
        from pyspark.errors import StreamingQueryException

        for path in staged:
            os.rename(path, os.path.join(self.src, os.path.basename(path)[1:]))
        try:
            with maybe_span(self.ctx.tracer, "streaming.run", "streaming"):
                self.query.processAllAvailable()
        except StreamingQueryException:
            pass  # batches that did not commit are counted as failed

    def unit(self, i: int) -> dict:
        """One warm micro-batch, from its file's arrival to its commit."""
        self._admit(self.staged[1 + i:2 + i])
        return {"attempted": 0, "failed": 0}  # counted by check()

    def check(self) -> dict:
        """Stops the stream and checks every batch, the cold one too."""
        with maybe_span(self.ctx.tracer, "streaming.stop", "streaming"):
            self.query.stop()
        progress = [json.loads(p.json) for p in self.query.recentProgress if p.numInputRows > 0]
        with maybe_span(self.ctx.tracer, "bench.check", "bench"):
            pairs = os.path.join(self.base, "pairs")
            found = ({(r.id_a, r.id_b) for r in self.ctx.spark.read.parquet(pairs).collect()}
                     if os.path.isdir(pairs) else set())
            self.checked = self._check(found, progress, self.searches)
        return self.checked

    def _check(self, found: set, progress: list[dict], searches: list[dict]) -> dict:
        n_batches = self.truth["n_batches"]
        search_s = {s["batch"]: s["s"] for s in searches}
        # a batch's commit latency is its trigger execution minus the
        # search the benchmark runs inside it
        batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 - search_s.get(p["batchId"], 0.0)
                   for p in sorted(progress, key=lambda p: p["batchId"])]
        failed = n_batches - len(progress)
        recalls = []
        for s in searches:
            exact = self.truth["topk"][s["batch"]]
            got: dict[int, list[int]] = {}
            ranks: dict[int, list[int]] = {}
            for q, v, r in s["rows"]:
                got.setdefault(q, []).append(v)
                ranks.setdefault(q, []).append(r)
            hi = (s["batch"] + 1) * self.truth["docs_per_batch"]
            # a query may get fewer than K hits when its probed cells
            # hold fewer vectors; every hit must be a distinct ingested
            # vector, ranked 1..n
            ok = (sorted(got) == sorted(self.truth["query_ids"])
                  and all(len(set(vs)) == len(vs) <= K and all(0 <= v < hi for v in vs)
                          and sorted(ranks[q]) == list(range(1, len(vs) + 1))
                          for q, vs in got.items()))
            if not ok:
                failed += 1
            for qi, q in enumerate(self.truth["query_ids"]):
                recalls.append(len(set(got.get(q, ())) & set(exact[qi])) / K)
        planted = [tuple(p) for p in self.truth["pairs"]]
        dup_recall = sum(p in found for p in planted) / len(planted)
        ann_recall = float(np.mean(recalls)) if recalls else 0.0
        # a missed planted pair or a recall under the floor is a wrong
        # result for the stream as a whole
        wrong = int(dup_recall < 1.0) + int(ann_recall < ANN_RECALL_FLOOR)
        return {
            "attempted": n_batches + n_batches + 1,
            "failed": failed + wrong,
            "batch_s": batch_s,
            "search_s": [s["s"] for s in sorted(searches, key=lambda s: s["batch"])],
            "progress": progress,
            "dup_recall": dup_recall,
            "ann_recall": ann_recall,
            "candidate_pairs": len(found),
        }

    def trace_counts(self) -> dict:
        """Counts for the traced run, taken after the timed region; the
        history is the band store the next batch would join against."""
        stores = [os.path.join(self.base, d) for d in ("bands", "codes")]
        history = self.ctx.spark.read.parquet(stores[0]).count()
        files, mb = _data_files([os.path.join(self.base, d)
                                 for d in ("bands", "codes", "pairs")])
        return {"streaming.history_rows": history, "io.store_files": _data_files(stores)[0],
                "io.files_written": files, "io.bytes_written_mb": mb}

    def summarize(self, units: list[dict]) -> dict:
        u = self.checked  # batch 0 is the cold batch of set-up
        warm_b, warm_s = u["batch_s"][1:], u["search_s"][1:]
        return {
            "first_batch_s": u["batch_s"][0] if u["batch_s"] else None,
            "first_search_s": u["search_s"][0] if u["search_s"] else None,
            "batch_s": warm_b,
            "search_s": warm_s,
            "batch": stats.summarize(warm_b),
            "search": stats.summarize(warm_s),
            "dup_recall": u["dup_recall"],
            "ann_recall": u["ann_recall"],
            "ann_recall_floor": ANN_RECALL_FLOOR,
        }


def _data_files(roots: list[str]) -> tuple[int, float]:
    """Parquet data files under ``roots`` and their size in MB."""
    n, size = 0, 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    return n, size / (1024.0 * 1024.0)
