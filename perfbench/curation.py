"""``curation_batch``: the LLM-curation pipeline users run from HOCON.

One unit parses ``curation.conf`` and runs it with ``PipelineRunner``
over a seeded corpus with planted exact and near duplicates and
related documents that are MinHash candidates but not duplicates: read,
``quality_filter``, ``dedup_exact``, md5 ``dedup_minhash_pairs``,
``jaccard_verify``, ``dedup_clusters``, ``split_by_hash``,
``pack_sequences`` and two parquet sinks. The committed sinks are then
read back and checked against the generator's ground truth. Set-up
runs the same pipeline once, untimed and checked, so that class
loading, JIT and code generation are paid before timing starts.

Why: this is the batch path users run from the CLI; its time goes to
the ``llm.dedup`` Python workers and shuffles. ``streaming`` does
nothing here.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

import stats
from harness import maybe_span

CONF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "curation.conf")
MAX_TOKENS = 512


class Curation:
    #: nominal length of one warm pipeline run on a 4-core host, where
    #: one takes 9-12 s
    unit_seconds = 10

    def __init__(self, ctx):
        self.ctx = ctx
        with open(os.path.join(ctx.inputs, "curation.json")) as f:
            self.truth = json.load(f)

    def setup(self) -> dict:
        out = self._pass(os.path.join(self.ctx.run_dir, "curation-warm"))
        return {"attempted": out["attempted"], "failed": out["failed"]}

    def unit(self, i: int) -> dict:
        return self._pass(os.path.join(self.ctx.run_dir, f"curation{i}"))

    def _config(self, out_root: str):
        from pyspark_pipeline_framework_spark.plans import hocon
        from pyspark_pipeline_framework_spark.plans.config import PipelineConfig

        with open(CONF) as f:
            text = f.read()
        # the seeded corpus and this unit's output directory are the
        # only run-specific values; they are declared at the top
        text = (f'data_root: "{self.ctx.inputs}"\nout_root: "{out_root}"\n'
                f"max_tokens: {MAX_TOKENS}\n" + text)
        return PipelineConfig.from_dict(hocon.loads(text, base_dir=os.path.dirname(CONF)))

    def _pass(self, out_root: str) -> dict:
        from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner

        tracer = self.ctx.tracer
        with maybe_span(tracer, "plans.parse", "plans"):
            config = self._config(out_root)
        runner = PipelineRunner(config, self.ctx.spark,
                                hooks=tracer.hooks() if tracer else None)
        with maybe_span(tracer, "plans.run", "plans"):
            result = runner.run()
        with maybe_span(tracer, "bench.check", "bench"):
            out = self._check(out_root, result, self.truth)
        self.last = (runner.catalog, out_root)
        return out

    @staticmethod
    def _check(out_root: str, result, truth: dict) -> dict:
        failed = {c.name for c in result.components if c.status.value != "success"}
        split, p = (_read(os.path.join(out_root, d)) for d in ("split", "packed"))
        split_ids = split["doc_id"]
        survivors = sorted(truth["survivors"])
        if sorted(split_ids) != survivors or not set(
                split["split"]) <= {"train", "valid", "test"}:
            failed.add("save_split")
        n_tok = truth["n_tokens"]
        packs: dict[tuple, int] = {}
        for d, s, k, n in zip(p["doc_id"], p["shard"], p["pack_id"], p["n_tokens"]):
            packs[(s, k)] = packs.get((s, k), 0) + n
        if (sorted(p["doc_id"]) != survivors
                or any(n != n_tok[str(d)] for d, n in zip(p["doc_id"], p["n_tokens"]))
                or any(v > MAX_TOKENS for v in packs.values())):
            failed.add("save_packed")
        kept = set(split_ids)
        planted = truth["exact_pairs"] + truth["near_pairs"]
        found = sum(s in kept and c not in kept for s, c in planted)
        return {
            "attempted": len(result.components),
            "failed": len(failed),
            "failed_components": sorted(failed),
            "dup_recall": found / len(planted),
            "components": {c.name: c.duration_s for c in result.components},
        }

    def trace_counts(self) -> dict:
        """Counts for the traced run, taken after the timed region."""
        from stream import _data_files

        catalog, out_root = self.last
        docs, clean = catalog.get("docs").count(), catalog.get("docs_clean").count()
        files, mb = _data_files([out_root])
        return {"quality.rows_dropped": docs - clean,
                "llm.dedup.candidate_pairs": catalog.get("candidates").count(),
                "llm.dedup.verified_pairs": catalog.get("verified").count(),
                "io.files_written": files, "io.bytes_written_mb": mb}

    def summarize(self, units: list[dict]) -> dict:
        return {"dup_recall": stats.median([u["dup_recall"] for u in units]),
                "runs": len(units)}


def _read(path: str) -> dict[str, list]:
    """A committed parquet sink as columns; a missing sink reads empty."""
    if not os.path.isdir(path):
        return {"doc_id": [], "split": [], "shard": [], "pack_id": [], "n_tokens": []}
    return pq.read_table(path).to_pydict()
