"""CI smoke for the differential fuzzer (tools/fuzzcheck.py).

The full gate is ``python tools/fuzzcheck.py --n 200`` at sf0.01
(~80s, wired into the verify recipe); here we assert the generator is
deterministic, both renderers stay in sync on a small seeded batch at
sf0.001, and the SQL renderer emits parseable DuckDB for a wide spec
sample without touching Spark.
"""

from __future__ import annotations

import os
import random
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import fuzzcheck  # noqa: E402
from fuzzcheck import Gen, spec_for, to_spark, to_sql  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    from pyspark_pipeline_framework_spark.io.readers import STAR_TABLES

    c = duckdb.connect()
    # the full star schema, matching the runner — the ivf shape reads
    # embeddings, which is not a relational-grammar table
    for t in STAR_TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return c


@pytest.fixture(scope="module")
def stats(con):
    return fuzzcheck.probe_stats(con)


def test_generator_is_deterministic(stats):
    a = [spec_for(42, i, stats) for i in range(25)]
    b = [spec_for(42, i, stats) for i in range(25)]
    assert a == b
    assert [spec_for(7, i, stats) for i in range(5)] != a[:5]


def test_sql_renderer_parses_in_duckdb(con, stats):
    # 80 specs: every terminal kind should appear and every SQL must
    # at least PREPARE (catches renderer syntax drift without Spark)
    kinds = set()
    for i in range(400):
        spec = spec_for(1001, i, stats)
        kinds.add(spec["terminal"]["op"])
        con.execute(to_sql(spec)).fetchone()
    assert {"agg", "window", "distinct", "sortlimit", "setop",
            # r6 blind-spot shapes must all be generated and parse
            "asof", "range", "theta", "subq", "cte", "explode",
            "session", "minhash", "ngram", "ivf",
            # r7 additions: lexical retrieval, bloom decontamination,
            # semantic dedup
            "retrieval", "bloom", "semdedup"} <= kinds


def test_no_order_sensitive_terminal_without_total_order(stats):
    # lineitem has no reliable PK in the synthetic data: row_number/
    # lag/sort+limit must never be generated over an orderless base
    for i in range(300):
        spec = spec_for(555, i, stats)
        t = spec["terminal"]
        joined_from = spec["base"]
        if joined_from not in fuzzcheck.TABLES:  # ivf reads embeddings
            continue
        has_order = bool(fuzzcheck.TABLES[joined_from]["pk"])
        if not has_order:
            assert t["op"] != "sortlimit"
            if t["op"] == "window":
                assert t["fn"] not in ("row_number", "lag")


def test_differential_batch_matches(spark, con, stats):
    from selfcheck import _norm_df

    mismatches = []
    for i in range(20):
        spec = spec_for(42, i, stats)
        spdf = to_spark(spec, spark, SF).toPandas()
        opdf = con.execute(to_sql(spec)).df()
        spdf.columns = [c.lower() for c in spdf.columns]
        opdf.columns = [c.lower() for c in opdf.columns]
        if sorted(spdf.columns) != sorted(opdf.columns) or _norm_df(spdf) != _norm_df(opdf):
            from fuzzcheck import is_known_empty_grouping_divergence

            if is_known_empty_grouping_divergence(spec, spdf, opdf):
                continue  # same acceptance as the harness (OK*)
            mismatches.append(i)
    assert mismatches == []


def test_framework_sql_path_matches_oracle(spark, con, stats):
    """Randomized coverage of the CONFIG-DRIVEN path: each fuzz spec's
    generated (engine-portable) SQL runs through the framework's
    op:read → op:sql pipeline (registry, Catalog temp views, runner)
    and must match the same SQL on DuckDB — so the SqlTransform glue
    gets the same differential treatment as the DataFrame algebra."""
    from selfcheck import _norm_df

    from fuzzcheck import spec_tables
    from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
    from pyspark_pipeline_framework_spark.plans.result import PipelineStatus
    from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
    from pyspark_pipeline_framework_spark.resilience.presets import NO_RETRY

    mismatches = []
    picked, i = [], 0
    while len(picked) < 12 and i < 200:
        spec = spec_for(4242, i, stats)
        i += 1
        # the op:sql path runs the generated SQL on SPARK too — skip
        # DuckDB-only renderings (ASOF JOIN, unnest, WINDOW-clause
        # session oracle, json_extract_string)
        if fuzzcheck.is_portable_sql(spec):
            picked.append(spec)
    assert len(picked) == 12
    for i, spec in enumerate(picked):
        sql = to_sql(spec)
        tables = spec_tables(spec)
        comps = [
            {
                "name": f"read_{t}", "op": "read", "output": t,
                "params": {
                    "format": "parquet", "path": f"{SF}/{t}.parquet",
                    **({"nanos_ts_cols": ["ts"]} if t == "events" else {}),
                },
            }
            for t in tables
        ]
        comps.append({
            "name": "q", "op": "sql", "output": "result",
            "depends_on": [f"read_{t}" for t in tables],
            "params": {"sql": sql},
        })
        cfg = PipelineConfig.from_dict({"name": f"fuzz_fw_{i}", "components": comps})
        runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
        res = runner.run()
        assert res.status == PipelineStatus.SUCCESS, f"#{i}: {res}"
        spdf = runner.catalog.get("result").toPandas()
        opdf = con.execute(sql).df()
        spdf.columns = [c.lower() for c in spdf.columns]
        opdf.columns = [c.lower() for c in opdf.columns]
        if sorted(spdf.columns) != sorted(opdf.columns) or _norm_df(spdf) != _norm_df(opdf):
            mismatches.append(i)
    assert mismatches == []


def test_framework_textops_path_matches_oracle(spark, con, stats):
    """Randomized CONFIG-DRIVEN coverage of the text operators: textops
    fuzz specs (random quality thresholds / language-ID marker subsets)
    route through the registry pipeline — op:read → [op:sql pred] →
    op:quality_filter / op:language_id → op:sql projection — and must
    match the spec's DuckDB oracle. Proves the product config path
    passes arbitrary params through to the same results as the library
    functions the batch differential already covers."""
    from selfcheck import _norm_df

    from pyspark_pipeline_framework_spark.llm.text import LANG_MARKERS
    from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
    from pyspark_pipeline_framework_spark.plans.result import PipelineStatus
    from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
    from pyspark_pipeline_framework_spark.resilience.presets import NO_RETRY

    picked, i = [], 0
    while len(picked) < 6 and i < 600:
        spec = spec_for(5151, i, stats)
        i += 1
        if spec.get("kind") == "textops" and spec["term"] in ("quality", "langid"):
            picked.append(spec)
    assert len(picked) == 6
    mismatches = []
    for i, spec in enumerate(picked):
        comps = [{
            "name": "read_docs", "op": "read", "output": "documents",
            "params": {"format": "parquet", "path": f"{SF}/documents.parquet"},
        }]
        src = "documents"
        if spec["pred"]:
            comps.append({
                "name": "pre", "op": "sql", "output": "filtered",
                "depends_on": ["read_docs"],
                "params": {"sql": f"SELECT * FROM documents WHERE {spec['pred']}"},
            })
            src = "filtered"
        if spec["term"] == "quality":
            comps.append({
                "name": "tq", "op": "quality_filter", "output": "scored",
                "depends_on": [comps[-1]["name"]],
                "params": {
                    "input": src,
                    "min_chars": spec["min_chars"],
                    "max_chars": spec["max_chars"],
                    "min_tokens": spec["min_tokens"],
                    "max_symbol_ratio": spec["max_symbol_ratio"],
                    "min_uniq_token_ratio": spec["min_uniq"],
                },
            })
            proj = "SELECT doc_id, lang FROM scored"
        else:
            comps.append({
                "name": "tl", "op": "language_id", "output": "scored",
                "depends_on": [comps[-1]["name"]],
                "params": {"input": src,
                           "markers": {k: LANG_MARKERS[k] for k in spec["langs"]}},
            })
            proj = "SELECT doc_id, lang_pred FROM scored"
        comps.append({
            "name": "proj", "op": "sql", "output": "result",
            "depends_on": [comps[-1]["name"]], "params": {"sql": proj},
        })
        cfg = PipelineConfig.from_dict(
            {"name": f"fuzz_textops_{i}", "components": comps})
        runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
        res = runner.run()
        assert res.status == PipelineStatus.SUCCESS, f"#{i}: {res}"
        spdf = runner.catalog.get("result").toPandas()
        opdf = con.execute(to_sql(spec)).df()
        spdf.columns = [c.lower() for c in spdf.columns]
        opdf.columns = [c.lower() for c in opdf.columns]
        if sorted(spdf.columns) != sorted(opdf.columns) or _norm_df(spdf) != _norm_df(opdf):
            mismatches.append(i)
    assert mismatches == []


def test_stream_batch_differential_random_aggs(spark, con, stats):
    """Batch↔stream differential over RANDOM aggregations: qualifying
    fuzz specs (single-table, plain grouped agg) run twice — once as a
    batch DataFrame plan and once as an available_now Structured
    Streaming query (readStream over the same parquet, complete-mode
    memory sink) — and the results must be identical multisets."""
    import fuzzcheck as fz

    # collect qualifying specs from the seeded stream
    specs = []
    i = 0
    while len(specs) < 6 and i < 400:
        spec = spec_for(31337, i, stats)
        i += 1
        t = spec["terminal"]
        if (t["op"] == "agg" and t.get("grouping") == "plain"
                and not t.get("having") and t["keys"]
                # streaming can't do COUNT(DISTINCT)
                and all(a["fn"] != "count_distinct" for a in t["aggs"])
                and not any(s["op"] == "join" for s in spec["stages"])
                and spec["base"] != "events"):  # nanos-ts needs table()'s conf
            specs.append(spec)
    assert len(specs) == 6, f"only {len(specs)} qualifying specs in 400"

    from selfcheck import _norm_df

    mismatches = []
    for n, spec in enumerate(specs):
        batch = to_spark(spec, spark, SF).toPandas()
        schema = spark.read.parquet(f"{SF}/{spec['base']}.parquet").schema
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{spec['base']}.parquet")
            .parquet(SF)
        )
        out = to_spark(spec, spark, SF, base_df=stream)
        qname = f"fuzz_stream_{n}"
        q = (out.writeStream.format("memory").queryName(qname)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql(f"SELECT * FROM {qname}").toPandas()
        if _norm_df(batch) != _norm_df(got):
            mismatches.append(n)
    assert mismatches == []


# kinds whose plans CORRECTLY contain a BroadcastNestedLoopJoin: a
# one-row aggregate (corpus totals / filter parameters / exact-count
# scalar) broadcast-cross-joined onto every row — the same sanctioned
# shape as test_tpch_q22 / test_recall_gate_broadcasts_totals. Their
# own plan gates live in tests/test_explain_plans.py.
ONE_ROW_BROADCAST_KINDS = {"retrieval", "bloom", "semdedup", "ivf"}

# kinds that score every row against every query: exactly one
# BroadcastNestedLoopJoin, building the broadcast per-query side (the
# PQ lookup tables; plan gate test_pq_adc_search_plan). Any other
# nested-loop or cartesian join in their plans is still a failure.
QUERY_BROADCAST_KINDS = {"pq"}


def test_random_pipelines_never_plan_cartesian(spark, stats):
    """Plan-quality property over the RANDOM algebra: no fuzz spec may
    compile to a CartesianProduct or BroadcastNestedLoopJoin — every
    generated join is an equi/null-safe-equi join Catalyst can hash.
    Kinds built around a one-row broadcast aggregate are excluded by
    name (their BNLJ is the correct shape, not a plan accident); kinds
    that cross every row with the broadcast queries may hold that one
    BNLJ and no other."""
    bad = []
    for i in range(40):
        spec = spec_for(90210, i, stats)
        if spec.get("kind") in ONE_ROW_BROADCAST_KINDS:
            continue
        df = to_spark(spec, spark, SF)
        p = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "simple"
        )
        allowed = int(spec.get("kind") in QUERY_BROADCAST_KINDS)
        if (
            "CartesianProduct" in p
            or p.count("BroadcastNestedLoopJoin") > allowed
            or p.count("BroadcastNestedLoopJoin BuildRight") < allowed
        ):
            bad.append((i, spec.get("kind")))
    assert bad == []


# ---------------------------------------------------------------------------
# Mutation canaries (grammar-shift-proof, r12)
#
# Each canary family is a (qualifier+mutator) pair: ``mutate(spec)``
# returns a semantically-mutated copy when the spec can exercise the
# family, else None.  The finder below scans seeds 777, 778, ... and
# spec indices dynamically until it locates a qualifying spec whose
# mutation the differential gate actually flags — so inserting a new
# draw into ``Gen.pipeline`` (which shifts every seed's spec stream)
# can never silently strand a family on a no-longer-qualifying anchor
# the way the r11 spans draw stranded the seed-777 dq_thresh anchor.
# ---------------------------------------------------------------------------

def _mut_session(spec):
    import copy
    if spec.get("kind") != "session":
        return None
    m = copy.deepcopy(spec)
    m["gap"] = spec["gap"] * 3
    return m


def _mut_asof(spec):
    import copy
    # min/max swaps rarely differ (per-(custkey,date) groups are mostly
    # single-order) — flip the join mode instead: inner<->left changes
    # the unmatched-left rows
    if spec.get("kind") != "asof":
        return None
    m = copy.deepcopy(spec)
    m["how"] = "left" if spec["how"] == "inner" else "inner"
    return m


def _mut_retention(spec):
    import copy
    if spec.get("kind") != "funnel" or spec["terminal"]["op"] != "retention":
        return None
    m = copy.deepcopy(spec)
    m["granularity"] = "day" if spec["granularity"] == "week" else "week"
    return m


def _mut_dq(spec):
    import copy
    # a threshold flip must flip the evaluated `passed` flag (only
    # detectable on specs whose original check passes)
    if spec.get("kind") != "dq" or spec["check"] not in ("row_count", "null"):
        return None
    m = copy.deepcopy(spec)
    if spec["check"] == "row_count":
        m["min_rows"] = spec["min_rows"] + 10**9
    else:
        m["max_null_pct"] = -1.0
    return m


def _mut_packing(spec):
    import copy
    # a budget/stride/boundary shift must change the output: pack ids
    # move when max_tokens halves, chunk boundaries move when the
    # window halves, split membership moves when the train cut moves
    if spec.get("kind") != "packing":
        return None
    m = copy.deepcopy(spec)
    if spec["sub"] == "pack":
        m["max_tokens"] = max(1, spec["max_tokens"] // 2)
    elif spec["sub"] == "shuffle":
        m["salt"] = spec["salt"] + "_mut"
    elif spec["sub"] == "budget":
        m["budget"] = max(1, spec["budget"] // 4)
    elif spec["sub"] == "chunk":
        m["chunk_tokens"] = spec["chunk_tokens"] // 2
        m["overlap"] = min(spec["overlap"], m["chunk_tokens"] - 1)
    elif spec["sub"] == "wsample":
        # a materially larger target fraction moves the per-bucket
        # acceptance thresholds and (with iters>0) the renorm chain
        m["tf"] = min(0.95, spec["tf"] * 2)
    else:
        c1, c2 = spec["cuts"]
        m["cuts"] = (max(10, c1 - 30), c2)
    return m


def _mut_textops(spec):
    import copy
    if spec.get("kind") != "textops" or spec["term"] != "quality":
        return None
    m = copy.deepcopy(spec)
    m["min_chars"] = spec["min_chars"] + 200
    return m


def _mut_retrieval(spec):
    import copy
    if spec.get("kind") != "retrieval":
        return None
    m = copy.deepcopy(spec)
    if spec["sub"] == "bm25":
        m["top_k"] = max(1, spec["top_k"] // 2)
    else:
        m["top_n"] = spec["top_n"] + 2
    return m


def _mut_bloom(spec):
    import copy
    # shrinking the filter must raise false positives (specs whose
    # filter is already saturated may not differ)
    if spec.get("kind") != "bloom" or spec["m_bits"] < 4096:
        return None
    m = copy.deepcopy(spec)
    m["m_bits"] = 64
    return m


def _mut_semdedup(spec):
    import copy
    if spec.get("kind") != "semdedup" or spec["threshold"] < 0.2:
        return None
    m = copy.deepcopy(spec)
    m["threshold"] = -1.0
    return m


def _mut_join_flip(spec):
    import copy
    if spec.get("kind"):
        return None
    if not any(s["op"] == "join" and s["type"] == "left"
               for s in spec["stages"]):
        return None
    m = copy.deepcopy(spec)
    next(s for s in m["stages"]
         if s["op"] == "join" and s["type"] == "left")["type"] = "inner"
    return m


def _mut_agg_swap(spec):
    import copy
    if spec.get("kind"):
        return None
    t = spec["terminal"]
    if t["op"] != "agg" or not any(a["fn"] in ("min", "max") for a in t["aggs"]):
        return None
    m = copy.deepcopy(spec)
    a0 = next(a for a in m["terminal"]["aggs"] if a["fn"] in ("min", "max"))
    a0["fn"] = "max" if a0["fn"] == "min" else "min"
    return m


def _mut_filter_drop(spec):
    import copy
    if spec.get("kind"):
        return None
    if not any(s["op"] == "filter" for s in spec["stages"]):
        return None
    m = copy.deepcopy(spec)
    m["stages"] = [s for s in m["stages"] if s["op"] != "filter"]
    return m


CANARY_FAMILIES = {
    "session_gap": _mut_session,
    "asof_how": _mut_asof,
    "retention_gran": _mut_retention,
    "dq_thresh": _mut_dq,
    "packing_param": _mut_packing,
    "textops_thresh": _mut_textops,
    "retrieval_param": _mut_retrieval,
    "bloom_param": _mut_bloom,
    "semdedup_thresh": _mut_semdedup,
    "join_flip": _mut_join_flip,
    "agg_swap": _mut_agg_swap,
    "filter_drop": _mut_filter_drop,
}

#: scan bounds: seeds 777..777+CANARY_SEEDS-1, CANARY_SPECS_PER_SEED
#: spec indices per seed, at most CANARY_MAX_ATTEMPTS expensive
#: differential runs per family before declaring the grammar unable to
#: produce a sensitive spec.  Spec generation is pure-python (cheap);
#: only qualifying specs reach Spark+DuckDB.
CANARY_SEED0 = 777
CANARY_SEEDS = 30
CANARY_SPECS_PER_SEED = 120
CANARY_MAX_ATTEMPTS = 15


def iter_canary_candidates(stats, mutate, spec_fn=spec_for,
                           max_attempts=CANARY_MAX_ATTEMPTS):
    """Yield (spec, mutated) pairs for one canary family, scanning the
    seed stream dynamically.  Bounded by the module caps above."""
    yielded = 0
    for seed in range(CANARY_SEED0, CANARY_SEED0 + CANARY_SEEDS):
        for i in range(CANARY_SPECS_PER_SEED):
            spec = spec_fn(seed, i, stats)
            m = mutate(spec)
            if m is None:
                continue
            yield spec, m
            yielded += 1
            if yielded >= max_attempts:
                return


def test_harness_detects_injected_bugs(spark, con, stats):
    """Mutation check: the differential gate must FAIL when the Spark
    side computes something else — otherwise '0 mismatches' proves
    nothing. For every canary family, scan the seed stream for a
    qualifying spec, inject the family's semantic mutation into the
    Spark rendering only, and assert the compare flags it."""
    from selfcheck import _norm_df

    def differs(spec, mutated) -> bool:
        a = to_spark(mutated, spark, SF).toPandas()
        o = con.execute(to_sql(spec)).df()
        a.columns = [c.lower() for c in a.columns]
        o.columns = [c.lower() for c in o.columns]
        return len(a) != len(o) or _norm_df(a) != _norm_df(o)

    uncaught = []
    for name, mutate in CANARY_FAMILIES.items():
        attempts = 0
        for spec, m in iter_canary_candidates(stats, mutate):
            attempts += 1
            if differs(spec, m):
                break
        else:
            uncaught.append((name, attempts))
    assert not uncaught, (
        "harness failed to catch mutation families "
        f"{uncaught} (family, qualifying specs tried) — either the "
        "differential gate lost sensitivity or the grammar no longer "
        "produces qualifying specs within the scan bounds"
    )


def test_canaries_survive_grammar_shift(stats):
    """A new draw inserted into ``Gen.pipeline`` shifts every seed's
    spec stream (the r11 spans draw broke the old hardcoded seed-777
    anchors this way).  Simulate exactly that — burn one extra random
    draw before generating — and assert every canary family still
    finds qualifying specs within the scan bounds.  Pure spec-gen
    (no Spark/DuckDB), so this is cheap enough to run on every change
    to the generator grammar."""
    import random as _random

    def shifted_spec_for(seed, i, stats_):
        rng = _random.Random(seed * 1_000_003 + i)
        rng.random()  # the simulated new grammar draw
        return Gen(rng, stats_).pipeline()

    starved = []
    for name, mutate in CANARY_FAMILIES.items():
        n = sum(1 for _ in iter_canary_candidates(
            stats, mutate, spec_fn=shifted_spec_for, max_attempts=3))
        if n < 3:
            starved.append((name, n))
    assert not starved, (
        f"families with <3 qualifying specs under a shifted grammar: "
        f"{starved} — widen CANARY_SEEDS/CANARY_SPECS_PER_SEED or the "
        "family's qualifier"
    )
