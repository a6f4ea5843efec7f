"""Pipeline config validation, topo order, runner execution semantics,
checkpoint/resume, secrets, schema contracts — pure-Python + small-Spark
tests following the reference's layering (SURVEY.md §5)."""

import json
import os

import pytest
from hypothesis import given, strategies as st

from pyspark_pipeline_framework_spark.observability.hooks import NoOpHooks
from pyspark_pipeline_framework_spark.plans.checkpoint import (
    CheckpointState,
    LocalCheckpointStore,
    structural_fingerprint,
)
from pyspark_pipeline_framework_spark.plans.config import (
    ComponentConfig,
    PipelineConfig,
    PipelineValidationError,
)
from pyspark_pipeline_framework_spark.plans.registry import LIFTS, default_registry
from pyspark_pipeline_framework_spark.plans.result import ComponentStatus, PipelineStatus
from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner, shared_datasets
from pyspark_pipeline_framework_spark.resilience.presets import NO_RETRY
from pyspark_pipeline_framework_spark.schema.model import DataType, SchemaDefinition, SchemaField
from pyspark_pipeline_framework_spark.schema.converter import from_struct_type, to_struct_type
from pyspark_pipeline_framework_spark.schema.validator import validate_compatibility
from pyspark_pipeline_framework_spark.secrets import EnvSecretsProvider, SecretsResolver


def comp(name, deps=(), op="sql", **kw):
    return ComponentConfig(name=name, op=op, depends_on=list(deps), **kw)


# ---------------------------------------------------------------- config

def test_duplicate_names_rejected():
    with pytest.raises(PipelineValidationError, match="duplicate"):
        PipelineConfig("p", [comp("a"), comp("a")])


def test_unknown_dependency_rejected():
    with pytest.raises(PipelineValidationError, match="unknown"):
        PipelineConfig("p", [comp("a", deps=["ghost"])])


def test_cycle_rejected():
    with pytest.raises(PipelineValidationError, match="cycle"):
        PipelineConfig("p", [comp("a", deps=["b"]), comp("b", deps=["a"])])


def test_topo_order_respects_deps():
    cfg = PipelineConfig(
        "p", [comp("c", deps=["a", "b"]), comp("b", deps=["a"]), comp("a")]
    )
    order = cfg.execution_order()
    assert order.index("a") < order.index("b") < order.index("c")


@given(st.integers(min_value=2, max_value=12))
def test_topo_order_is_valid_for_chains(n):
    comps = [comp(f"s{i}", deps=[f"s{i-1}"] if i else []) for i in range(n)]
    order = PipelineConfig("p", comps).execution_order()
    assert order == [f"s{i}" for i in range(n)]


def test_op_xor_class_path_required():
    with pytest.raises(PipelineValidationError):
        ComponentConfig(name="x")
    with pytest.raises(PipelineValidationError):
        ComponentConfig(name="x", op="sql", class_path="a.b")


# ---------------------------------------------------------------- runner

@pytest.fixture
def star_pipeline(tmp_path):
    return PipelineConfig(
        "demo",
        [
            ComponentConfig(
                name="load_region",
                op="read",
                component_type="source",
                params={"format": "parquet", "path": "/root/testdata/sf0.001/region.parquet"},
                output="region",
            ),
            ComponentConfig(
                name="upper_names",
                op="sql",
                params={"sql": "SELECT r_regionkey, UPPER(r_name) AS name_uc FROM region"},
                depends_on=["load_region"],
                output="region_uc",
            ),
            ComponentConfig(
                name="save",
                op="write",
                component_type="sink",
                params={"format": "parquet", "path": str(tmp_path / "out"), "input": "region_uc"},
                depends_on=["upper_names"],
            ),
        ],
    )


def test_runner_end_to_end(spark, star_pipeline, tmp_path):
    result = PipelineRunner(star_pipeline, spark, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.SUCCESS
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {r.name_uc for r in out.collect()} >= {"AFRICA", "AMERICA"}


def test_runner_fail_fast_skips_downstream(spark):
    cfg = PipelineConfig(
        "ff",
        [
            comp("bad", op="sql", params={"sql": "SELECT * FROM missing_table"}),
            comp("after", op="sql", params={"sql": "SELECT 1 AS one"}, deps=["bad"]),
            # independent of bad, so in its Kahn wave, but listed after it
            comp("sibling", op="sql", params={"sql": "SELECT 2 AS two"}),
        ],
    )
    result = PipelineRunner(cfg, spark, resilience=NO_RETRY).run()
    by = {c.name: c.status for c in result.components}
    assert by["bad"] == ComponentStatus.FAILURE
    assert by["after"] == ComponentStatus.SKIPPED
    assert by["sibling"] == ComponentStatus.SKIPPED
    assert result.status == PipelineStatus.FAILURE


def test_runner_continue_on_failure(spark):
    cfg = PipelineConfig(
        "cont",
        [
            comp("bad", op="sql", params={"sql": "SELECT * FROM missing_table"}),
            comp("indep", op="sql", params={"sql": "SELECT 1 AS one"}),
        ],
    )
    result = PipelineRunner(cfg, spark, resilience=NO_RETRY, fail_fast=False).run()
    by = {c.name: c.status for c in result.components}
    assert by["indep"] == ComponentStatus.SUCCESS
    assert result.status == PipelineStatus.PARTIAL_SUCCESS


def test_runner_resume_skips_completed(spark):
    cfg = PipelineConfig(
        "resume",
        [
            comp("one", op="sql", params={"sql": "SELECT 1 AS one"}),
            comp("two", op="sql", params={"sql": "SELECT 2 AS two"}, deps=["one"]),
        ],
    )
    result = PipelineRunner(cfg, spark, resilience=NO_RETRY).run(completed_components=["one"])
    by = {c.name: c.status for c in result.components}
    assert by["one"] == ComponentStatus.SKIPPED
    assert by["two"] == ComponentStatus.SUCCESS


def test_runner_disabled_component(spark):
    cfg = PipelineConfig(
        "dis",
        [comp("off", op="sql", params={"sql": "SELECT 1 AS one"}, enabled=False)],
    )
    result = PipelineRunner(cfg, spark, resilience=NO_RETRY).run()
    assert result.components[0].status == ComponentStatus.SKIPPED


def test_runner_validation_failure_no_execution(spark):
    cfg = PipelineConfig("v", [comp("ghost", op="no_such_op")])
    result = PipelineRunner(cfg, spark, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.FAILURE
    assert "validation" in result.components[0].error


def test_runner_retries_component(spark):
    from pyspark_pipeline_framework_spark.plans.registry import OperatorRegistry
    from pyspark_pipeline_framework_spark.resilience.presets import ResiliencePolicy
    from pyspark_pipeline_framework_spark.resilience.retry import RetryPolicy

    reg = OperatorRegistry()
    calls = {"n": 0}

    @reg.register("flaky")
    def flaky(spark_, catalog, **kw):
        calls["n"] += 1
        if calls["n"] < 2:
            raise RuntimeError("transient")
        return None

    cfg = PipelineConfig("r", [ComponentConfig(name="f", op="flaky")])
    pol = ResiliencePolicy(retry=RetryPolicy(max_attempts=3, initial_delay_s=0, jitter=0))
    result = PipelineRunner(cfg, spark, registry=reg, resilience=pol, sleep=lambda s: None).run()
    assert result.status == PipelineStatus.SUCCESS
    assert result.components[0].attempts == 2


def test_runner_quality_gate_fails_component_without_retry(spark):
    from pyspark_pipeline_framework_spark.quality.checks import row_count_check
    from pyspark_pipeline_framework_spark.quality.gate import QualityGate
    from pyspark_pipeline_framework_spark.resilience.presets import ResiliencePolicy
    from pyspark_pipeline_framework_spark.resilience.retry import RetryPolicy

    cfg = PipelineConfig(
        "qg",
        [comp("make", op="sql", params={"sql": "SELECT 1 AS one WHERE 1 = 0"}, output="empty_ds")],
    )
    gate = QualityGate([row_count_check("empty_ds", min_rows=1)])
    pol = ResiliencePolicy(retry=RetryPolicy(max_attempts=3, initial_delay_s=0, jitter=0))
    runner = PipelineRunner(cfg, spark, quality_gate=gate, resilience=pol, sleep=lambda s: None)
    result = runner.run()
    assert result.status == PipelineStatus.FAILURE
    assert "quality check" in result.components[0].error
    assert result.components[0].attempts == 1  # data facts are not retried


# ---------------------------------------------------------------- checkpoint

def test_checkpoint_roundtrip_and_resume(tmp_path):
    cfg = PipelineConfig("cp", [comp("a"), comp("b", deps=["a"])])
    store = LocalCheckpointStore(str(tmp_path))
    fp = structural_fingerprint(cfg)
    store.save(CheckpointState("cp", fp, ["a"]))
    assert store.load_for_resume(cfg) == ["a"]

    # structural change RAISES (silently restarting would hide the
    # conflict — reference PipelineConfigChangedError); params don't
    from pyspark_pipeline_framework_spark.plans.checkpoint import PipelineConfigChangedError

    cfg2 = PipelineConfig("cp", [comp("a"), comp("b2", deps=["a"])])
    with pytest.raises(PipelineConfigChangedError, match="structurally different"):
        store.load_for_resume(cfg2)
    cfg3 = PipelineConfig("cp", [comp("a", params={"x": 1}), comp("b", deps=["a"])])
    assert store.load_for_resume(cfg3) == ["a"]

    store.clear("cp")
    assert store.load("cp") is None


def test_checkpoint_hooks_persist_during_run(spark, tmp_path):
    """Progress must be saved after EACH successful component, and the
    checkpoint cleared on full success."""
    from pyspark_pipeline_framework_spark.plans.checkpoint import CheckpointHooks

    cfg = PipelineConfig(
        "hk",
        [
            comp("one", op="sql", params={"sql": "SELECT 1 AS x"}),
            comp("boom", op="sql", params={"sql": "SELECT * FROM missing"}, deps=["one"]),
        ],
    )
    store = LocalCheckpointStore(str(tmp_path))
    hooks = CheckpointHooks(store, cfg)
    result = PipelineRunner(cfg, spark, hooks=hooks, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.PARTIAL_SUCCESS  # one ok, boom failed
    # crash-resume state: 'one' persisted even though the pipeline died
    assert store.load_for_resume(cfg) == ["one"]

    # fix the pipeline, resume from checkpoint, rerun → success clears it
    cfg_fixed = PipelineConfig(
        "hk",
        [
            comp("one", op="sql", params={"sql": "SELECT 1 AS x"}),
            comp("boom", op="sql", params={"sql": "SELECT 2 AS y"}, deps=["one"]),
        ],
    )
    completed = store.load_for_resume(cfg_fixed)  # same structure → ["one"]
    hooks2 = CheckpointHooks(store, cfg_fixed, completed=completed)
    result = PipelineRunner(cfg_fixed, spark, hooks=hooks2, resilience=NO_RETRY).run(
        completed_components=completed
    )
    assert result.status == PipelineStatus.SUCCESS
    assert store.load("hk") is None  # cleared on success


# ---------------------------------------------------------------- secrets

def test_secret_interpolation(monkeypatch):
    monkeypatch.setenv("MY_TOKEN", "s3cr3t")
    r = SecretsResolver([EnvSecretsProvider()])
    cfg = {"conn": {"password": "secret://env/MY_TOKEN", "host": "h"}, "list": ["secret://env/MY_TOKEN"]}
    out = r.interpolate(cfg)
    assert out["conn"]["password"] == "s3cr3t"
    assert out["list"] == ["s3cr3t"]
    assert r.access_log == [("env", "MY_TOKEN")]  # cached second hit not re-logged


def test_secret_cache_ttl(monkeypatch):
    monkeypatch.setenv("K", "v1")
    t = {"now": 0.0}
    r = SecretsResolver([EnvSecretsProvider()], ttl_s=10, clock=lambda: t["now"])
    assert r.resolve("env/K") == "v1"
    monkeypatch.setenv("K", "v2")
    assert r.resolve("env/K") == "v1"  # cached
    t["now"] = 11
    assert r.resolve("env/K") == "v2"  # expired


# ---------------------------------------------------------------- schema

def test_schema_struct_roundtrip():
    schema = SchemaDefinition(
        [
            SchemaField("id", DataType.LONG, nullable=False),
            SchemaField("name", DataType.STRING),
            SchemaField("tags", "array<string>"),
            SchemaField("props", "map<string,double>"),
        ]
    )
    struct = to_struct_type(schema)
    back = from_struct_type(struct)
    assert back.names() == schema.names()
    assert back.get("tags").type_string() == "array<string>"
    assert not back.get("id").nullable


def test_schema_validator_rules():
    expected = SchemaDefinition(
        [SchemaField("id", DataType.LONG, nullable=False), SchemaField("v", DataType.DOUBLE)]
    )
    actual = SchemaDefinition(
        [SchemaField("id", DataType.LONG, nullable=True), SchemaField("extra", DataType.STRING)]
    )
    issues = validate_compatibility(expected, actual)
    kinds = {(i.severity, i.field) for i in issues}
    assert ("error", "id") in kinds        # nullability weakened
    assert ("warning", "v") in kinds       # optional missing
    assert ("warning", "extra") in kinds   # extra column
    # vacuous unless strict
    assert validate_compatibility(None, actual) == []
    assert validate_compatibility(None, actual, strict=True)


# ------------------------------------------------------- schema contracts

def test_runner_enforces_output_contract(spark):
    ok_contract = {"fields": [{"name": "one", "data_type": "integer", "nullable": False}]}
    cfg = PipelineConfig(
        "contract_ok",
        [comp("gen", op="sql", params={"sql": "SELECT 1 AS one"},
              output_schema=ok_contract)],
    )
    result = PipelineRunner(cfg, spark, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.SUCCESS

    bad_contract = {"fields": [{"name": "missing_col", "data_type": "string", "nullable": False}]}
    cfg = PipelineConfig(
        "contract_bad",
        [comp("gen", op="sql", params={"sql": "SELECT 1 AS one"},
              output_schema=bad_contract)],
    )
    result = PipelineRunner(cfg, spark, resilience=NO_RETRY).run()
    by = {c.name: c for c in result.components}
    assert by["gen"].status == ComponentStatus.FAILURE
    assert "schema contract violated" in by["gen"].error
    assert "missing_col" in by["gen"].error


def test_runner_enforces_input_contract_and_warn_mode(spark):
    bad_input = {"fields": [{"name": "nope", "data_type": "string", "nullable": False}]}
    mk = lambda mode: PipelineConfig(
        "ic",
        [
            comp("gen", op="sql", params={"sql": "SELECT 1 AS one"}),
            comp("use", op="sql", params={"sql": "SELECT one FROM gen"},
                 deps=["gen"], inputs=["gen"], input_schema=bad_input,
                 schema_mode=mode),
        ],
    )
    result = PipelineRunner(mk("error"), spark, resilience=NO_RETRY).run()
    by = {c.name: c.status for c in result.components}
    assert by["use"] == ComponentStatus.FAILURE
    # warn mode: violations log but the component runs
    result = PipelineRunner(mk("warn"), spark, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.SUCCESS


def test_contract_retry_not_triggered(spark):
    """A schema violation must fail once, not burn retry attempts."""
    from pyspark_pipeline_framework_spark.resilience.presets import ResiliencePolicy
    from pyspark_pipeline_framework_spark.resilience.retry import RetryPolicy

    pol = ResiliencePolicy(
        retry=RetryPolicy(max_attempts=3, initial_delay_s=0.0), circuit_breaker_enabled=False
    )
    bad = {"fields": [{"name": "ghost", "data_type": "string", "nullable": False}]}
    cfg = PipelineConfig(
        "nr", [comp("gen", op="sql", params={"sql": "SELECT 1 AS one"}, output_schema=bad)]
    )
    result = PipelineRunner(cfg, spark, resilience=pol, sleep=lambda s: None).run()
    gen = result.components[0]
    assert gen.status == ComponentStatus.FAILURE and gen.attempts <= 1


def test_secret_access_audited_redacted(monkeypatch, tmp_path):
    """Every secret resolve (cache hits included) emits an audit event
    with the value redacted; the value never appears in the file."""
    import json

    from pyspark_pipeline_framework_spark.observability.audit import FileAuditSink

    monkeypatch.setenv("API_TOKEN", "hunter2-value")
    path = str(tmp_path / "audit.jsonl")
    r = SecretsResolver([EnvSecretsProvider()], audit_sink=FileAuditSink(path))
    assert r.resolve("env/API_TOKEN") == "hunter2-value"
    assert r.resolve("env/API_TOKEN") == "hunter2-value"  # cached
    with pytest.raises(Exception):
        r.resolve("env/MISSING_KEY")
    raw = open(path).read()
    assert "hunter2-value" not in raw
    events = [json.loads(l) for l in raw.splitlines()]
    assert [(e["action"], e["status"], e["detail"]["cached"]) for e in events] == [
        ("secret_access", "ok", False),
        ("secret_access", "ok", True),
        ("secret_access", "not_found", False),
    ]
    assert all(e["detail"]["value"] == "***REDACTED***" for e in events)
    assert events[0]["resource"] == "env/API_TOKEN"


def test_registry_scan_package_discovery(tmp_path, monkeypatch):
    """Operators marked @operator(...) in a package are discovered by
    scan_package and runnable through the pipeline runner."""
    import sys
    import textwrap

    from pyspark_pipeline_framework_spark.plans.registry import OperatorRegistry

    pkg = tmp_path / "userops"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "mod_a.py").write_text(textwrap.dedent("""
        from pyspark_pipeline_framework_spark.plans.registry import operator

        @operator("greet")
        def greet(spark, catalog, *, output, **params):
            return catalog.put(output, catalog.sql("SELECT 'hi' AS msg"))

        def not_an_operator(): pass
    """))
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "sub" / "mod_b.py").write_text(textwrap.dedent("""
        from pyspark_pipeline_framework_spark.plans.registry import operator

        @operator("shout")
        def shout(spark, catalog, *, output, **params):
            return catalog.put(output, catalog.sql("SELECT 'HI' AS msg"))
    """))
    monkeypatch.syspath_prepend(str(tmp_path))
    reg = OperatorRegistry()
    assert reg.scan_package("userops") == ["greet", "shout"]
    assert reg.scan_package("userops") == []  # idempotent re-scan
    # conflicting registration under the same name raises
    reg2 = OperatorRegistry()
    reg2.register("greet", lambda *a, **k: None)
    with pytest.raises(ValueError, match="conflicts"):
        reg2.scan_package("userops")
    # cleanup sys.modules so other tests never see the temp package
    for m in [k for k in sys.modules if k.startswith("userops")]:
        del sys.modules[m]


def test_registry_scanned_operator_runs(spark, tmp_path, monkeypatch):
    import sys
    import textwrap

    from pyspark_pipeline_framework_spark.plans.registry import OperatorRegistry

    pkg = tmp_path / "runops"
    pkg.mkdir()
    (pkg / "__init__.py").write_text(textwrap.dedent("""
        from pyspark_pipeline_framework_spark.plans.registry import operator

        @operator("const_df")
        def const_df(spark, catalog, *, output, **params):
            return catalog.put(output, spark.sql("SELECT 42 AS answer"))
    """))
    monkeypatch.syspath_prepend(str(tmp_path))
    reg = OperatorRegistry()
    reg.scan_package("runops")
    cfg = PipelineConfig("scanned", [ComponentConfig(name="c", op="const_df")])
    result = PipelineRunner(cfg, spark, registry=reg, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.SUCCESS
    for m in [k for k in sys.modules if k.startswith("runops")]:
        del sys.modules[m]


def test_execution_order_runs_kahn_waves_in_insertion_order():
    cfg = PipelineConfig(
        "lv",
        [
            comp("a"),
            comp("b"),
            comp("c", deps=["a", "b"]),
            comp("d", deps=["a"]),
            comp("e", deps=["c", "d"]),
        ],
    )
    assert cfg.execution_order() == ["a", "b", "c", "d", "e"]


# ------------------------------------------- per-component resilience

def test_component_resilience_mutual_exclusion():
    with pytest.raises(PipelineValidationError, match="mutual|both"):
        ComponentConfig(
            name="x",
            op="sql",
            resilience="aggressive",
            retry={"max_attempts": 2},
        )


def test_component_resilience_unknown_preset_rejected():
    with pytest.raises(PipelineValidationError, match="preset"):
        ComponentConfig(name="x", op="sql", resilience="turbo")


def test_component_resilience_reference_field_spellings():
    # the reference's config names (core/config/retry.py) port unchanged
    c = ComponentConfig(
        name="x",
        op="sql",
        retry={
            "max_attempts": 4,
            "initial_delay_seconds": 0.5,
            "backoff_multiplier": 1.5,
            "max_delay_seconds": 10.0,
            "retry_on_exceptions": ["ValueError", "RuntimeError"],
        },
    )
    pol = c.resilience_override().retry
    assert pol.max_attempts == 4
    assert pol.initial_delay_s == 0.5
    assert pol.multiplier == 1.5
    assert pol.retry_on == (ValueError, RuntimeError)


def test_component_retry_overrides_runner_policy(spark):
    from pyspark_pipeline_framework_spark.plans.registry import OperatorRegistry

    reg = OperatorRegistry()
    calls = {"a": 0, "b": 0}

    @reg.register("flaky_a")
    def flaky_a(spark_, catalog, **kw):
        calls["a"] += 1
        if calls["a"] < 3:
            raise RuntimeError("transient")
        return None

    @reg.register("flaky_b")
    def flaky_b(spark_, catalog, **kw):
        calls["b"] += 1
        raise RuntimeError("always fails")

    cfg = PipelineConfig(
        "pc",
        [
            ComponentConfig(
                name="a",
                op="flaky_a",
                retry={"max_attempts": 3, "initial_delay_s": 0, "jitter": 0},
            ),
            ComponentConfig(name="b", op="flaky_b"),  # inherits NO_RETRY
        ],
    )
    result = PipelineRunner(
        cfg, spark, registry=reg, resilience=NO_RETRY, fail_fast=False, sleep=lambda s: None
    ).run()
    by = {c.name: c for c in result.components}
    assert by["a"].status == ComponentStatus.SUCCESS
    assert by["a"].attempts == 3          # own policy, not runner-wide
    assert by["b"].status == ComponentStatus.FAILURE
    assert by["b"].attempts == 1          # inherited NO_RETRY


def test_component_circuit_breaker_isolated(spark):
    from pyspark_pipeline_framework_spark.plans.registry import OperatorRegistry

    reg = OperatorRegistry()
    calls = {"guarded": 0, "plain": 0}

    @reg.register("bad_guarded")
    def bad_guarded(spark_, catalog, **kw):
        calls["guarded"] += 1
        raise RuntimeError("down")

    @reg.register("ok_plain")
    def ok_plain(spark_, catalog, **kw):
        calls["plain"] += 1
        return None

    cfg = PipelineConfig(
        "cb",
        [
            ComponentConfig(
                name="guarded",
                op="bad_guarded",
                circuit_breaker={"failure_threshold": 1, "timeout_s": 3600},
            ),
            ComponentConfig(name="plain", op="ok_plain"),
        ],
    )
    runner = PipelineRunner(cfg, spark, registry=reg, resilience=NO_RETRY, fail_fast=False)
    r1 = runner.run()
    by1 = {c.name: c.status for c in r1.components}
    assert by1["guarded"] == ComponentStatus.FAILURE
    assert by1["plain"] == ComponentStatus.SUCCESS
    # second run on the same runner: guarded's breaker is open → SKIPPED
    # without invoking the operator; plain is unaffected
    r2 = runner.run()
    by2 = {c.name: c.status for c in r2.components}
    assert by2["guarded"] == ComponentStatus.SKIPPED
    assert by2["plain"] == ComponentStatus.SUCCESS
    assert calls["guarded"] == 1
    assert calls["plain"] == 2


def test_component_resilience_bundled_dict(spark):
    c = ComponentConfig(
        name="x",
        op="sql",
        resilience={
            "retry": {"max_attempts": 5},
            "circuit_breaker": {"failure_threshold": 2},
        },
    )
    ov = c.resilience_override()
    assert ov.retry.max_attempts == 5
    assert ov.circuit_breaker.failure_threshold == 2


def test_component_resilience_from_hocon(spark, tmp_path):
    # reference-parity: a .conf pipeline where ONE component retries
    # with its own backoff while the rest inherit the runner default
    conf = tmp_path / "pipe.conf"
    conf.write_text(
        """
        name = conf-resilience
        components = [
          {
            name = flaky
            op = flaky_conf
            retry { max_attempts = 3, initial_delay_s = 0, jitter = 0 }
          },
          { name = steady, op = steady_conf, depends_on = [flaky] }
        ]
        """
    )
    from pyspark_pipeline_framework_spark.plans.registry import OperatorRegistry

    reg = OperatorRegistry()
    calls = {"flaky": 0, "steady": 0}

    @reg.register("flaky_conf")
    def flaky_conf(spark_, catalog, **kw):
        calls["flaky"] += 1
        if calls["flaky"] < 2:
            raise RuntimeError("transient")
        return None

    @reg.register("steady_conf")
    def steady_conf(spark_, catalog, **kw):
        calls["steady"] += 1
        return None

    cfg = PipelineConfig.from_file(str(conf))
    result = PipelineRunner(
        cfg, spark, registry=reg, resilience=NO_RETRY, sleep=lambda s: None
    ).run()
    assert result.status == PipelineStatus.SUCCESS
    by = {c.name: c for c in result.components}
    assert by["flaky"].attempts == 2
    assert by["steady"].attempts == 1


# ------------------------------------------- reference config-surface port

def test_reference_pipeline_conf_loads_verbatim():
    """The reference's own examples/pipeline.conf (spark block, hooks
    block, secrets block, tags, per-component config/retry/
    circuit_breaker) must load unmodified."""
    cfg = PipelineConfig.from_file("/root/reference/examples/pipeline.conf")
    assert cfg.name == "sample-etl-pipeline"
    assert cfg.environment == "dev" and cfg.mode == "batch"
    assert cfg.tags["team"] == "data-engineering"
    assert [c.name for c in cfg.components] == [
        "customer-source", "customer-transform", "customer-sink"
    ]
    src = cfg.get("customer-source")
    assert src.params["format"] == "parquet"          # `config` → params
    assert src.resilience_override().retry.max_attempts == 3
    assert src.resilience_override().retry.retry_on == (IOError, TimeoutError)
    xform = cfg.get("customer-transform")
    assert xform.resilience_override().circuit_breaker.failure_threshold == 5
    sc = cfg.spark_session_config()
    assert sc.app_name == "Sample ETL Pipeline"
    assert sc.extra_conf["spark.executor.memory"] == "4g"
    assert sc.extra_conf["spark.executor.instances"] == "2"
    assert sc.extra_conf["spark.sql.shuffle.partitions"] == "200"
    assert cfg.secrets["secret_prefix"] == "PIPELINE_"


def test_spark_block_dynamic_allocation_mapping():
    cfg = PipelineConfig(
        "p",
        [comp("a")],
        spark={"dynamic_allocation": True, "num_executors": 9, "driver_cores": 2},
        spark_conf={"spark.sql.shuffle.partitions": "64"},
    )
    sc = cfg.spark_session_config()
    assert sc.extra_conf["spark.dynamicAllocation.enabled"] == "true"
    assert "spark.executor.instances" not in sc.extra_conf
    assert sc.extra_conf["spark.driver.cores"] == "2"
    assert sc.extra_conf["spark.sql.shuffle.partitions"] == "64"


def test_pipeline_spark_conf_skips_held_values_and_names_refused_keys(spark):
    """The pipeline-level spark_conf is also merged into the session
    build, so a static key the session already holds with the same
    value is skipped; a different value it cannot take fails with a
    config error naming the key before any component runs."""
    from pyspark_pipeline_framework_spark.plans.registry import OperatorRegistry

    key = "spark.sql.codegen.cache.maxEntries"  # static: fixed at session build
    held = spark.conf.get(key)
    ran = []
    reg = OperatorRegistry()
    reg.register("mark", lambda spark_, catalog, **_: ran.append(1))

    def runner(value):
        cfg = PipelineConfig("p", [comp("a", op="mark")], spark_conf={key: value})
        return PipelineRunner(cfg, spark, registry=reg, resilience=NO_RETRY)

    for value in (held, int(held)):
        assert runner(value).run().status == PipelineStatus.SUCCESS
    assert ran == [1, 1]
    with pytest.raises(PipelineValidationError, match=key.replace(".", r"\.")):
        runner(int(held) + 1).run()
    assert ran == [1, 1]
    assert spark.conf.get(key) == held


def test_pipeline_metadata_validation():
    with pytest.raises(PipelineValidationError, match="environment"):
        PipelineConfig("p", [comp("a")], environment="qa")
    with pytest.raises(PipelineValidationError, match="mode"):
        PipelineConfig("p", [comp("a")], mode="micro-batch")
    with pytest.raises(PipelineValidationError, match="spark fields"):
        PipelineConfig("p", [comp("a")], spark={"executors": 4})
    with pytest.raises(PipelineValidationError, match="secrets fields"):
        PipelineConfig("p", [comp("a")], secrets={"providr": "env"})


def test_secrets_aws_requires_region():
    # reference core/config/secrets.py:41-42: aws_region is mandatory for
    # aws_secrets_manager — a silent default region would mis-route lookups
    cfg = PipelineConfig(
        "p", [comp("a")], secrets={"provider": "aws_secrets_manager"}
    )
    with pytest.raises(PipelineValidationError, match="aws_region is required"):
        cfg.secrets_resolver()


def test_secrets_block_env_prefix_interpolation(spark, monkeypatch):
    """Config-declared secrets: secret:// params resolve through the
    block's provider + prefix at component-invoke time."""
    from pyspark_pipeline_framework_spark.plans.registry import OperatorRegistry

    monkeypatch.setenv("PIPE_API_TOKEN", "s3cr3t-value")
    reg = OperatorRegistry()
    seen = {}

    @reg.register("grab")
    def grab(spark_, catalog, *, token, **kw):
        seen["token"] = token
        return None

    cfg = PipelineConfig.from_dict(
        {
            "name": "sec",
            "secrets": {"provider": "env", "secret_prefix": "PIPE_"},
            "components": [
                {"name": "g", "op": "grab",
                 "config": {"token": "secret://env/API_TOKEN"}},
            ],
        }
    )
    result = PipelineRunner(cfg, spark, registry=reg, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.SUCCESS
    assert seen["token"] == "s3cr3t-value"


def test_event_analytics_registry_ops(spark, sf_dir):
    """op:funnel / op:retention route arbitrary params through the
    config path to the same results as the operators directly."""
    from pyspark_pipeline_framework_spark.operators.events import (
        cohort_retention,
        funnel_counts,
    )

    comps = [
        {"name": "load", "op": "read", "output": "events",
         "params": {"format": "parquet", "path": f"{sf_dir}/events.parquet",
                    "nanos_ts_cols": ["ts"]}},
        {"name": "fun", "op": "funnel", "output": "fun",
         "depends_on": ["load"],
         "params": {"input": "events", "steps": ["view", "click", "error"]}},
        {"name": "ret", "op": "retention", "output": "ret",
         "depends_on": ["load"],
         "params": {"input": "events", "granularity": "day"}},
    ]
    cfg = PipelineConfig.from_dict({"name": "ev_ops", "components": comps})
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    from pyspark_pipeline_framework_spark.io.readers import table as rtable

    ev = rtable(spark, sf_dir, "events")
    assert (runner.catalog.get("fun").collect()
            == funnel_counts(ev, ["view", "click", "error"]).collect())
    assert (sorted(map(tuple, runner.catalog.get("ret").collect()))
            == sorted(map(tuple, cohort_retention(ev, granularity="day").collect())))


def test_incremental_dedup_registry_ops(spark, sf_dir, tmp_path):
    """The full incremental-dedup config pipeline: band the new batch,
    read yesterday's persisted store, join — op:minhash_bands +
    op:dedup_incremental_pairs through the config path equal the
    operators called directly."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.io.readers import table as rtable
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )

    docs = rtable(spark, sf_dir, "documents")
    store = str(tmp_path / "band_store")
    minhash_bands(docs.where(F.col("doc_id") % 2 == 0)).write.parquet(store)
    new_path = str(tmp_path / "new_docs")
    docs.where(F.col("doc_id") % 2 == 1).write.parquet(new_path)

    comps = [
        {"name": "new", "op": "read", "output": "new_docs",
         "params": {"format": "parquet", "path": new_path}},
        {"name": "store", "op": "read", "output": "corpus_bands",
         "params": {"format": "parquet", "path": store}},
        {"name": "band", "op": "minhash_bands", "output": "new_bands",
         "depends_on": ["new"], "params": {"input": "new_docs"}},
        {"name": "pairs", "op": "dedup_incremental_pairs", "output": "pairs",
         "depends_on": ["band", "store"],
         "params": {"new_bands": "new_bands", "corpus_bands": "corpus_bands"}},
    ]
    cfg = PipelineConfig.from_dict({"name": "incr_dedup", "components": comps})
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    want = sorted(
        map(
            tuple,
            incremental_candidate_pairs(
                minhash_bands(docs.where(F.col("doc_id") % 2 == 1)),
                minhash_bands(docs.where(F.col("doc_id") % 2 == 0)),
            ).collect(),
        )
    )
    assert sorted(map(tuple, runner.catalog.get("pairs").collect())) == want


def test_ivf_registry_ops(spark, sf_dir):
    """op:ivf_train / op:ivf_add / op:ivf_search compose the config-path
    ANN pipeline to the same results as cosine_topk_ivf directly."""
    from pyspark_pipeline_framework_spark.io.readers import table as rtable
    from pyspark_pipeline_framework_spark.llm.similarity import cosine_topk_ivf

    comps = [
        {"name": "emb", "op": "read", "output": "emb",
         "params": {"format": "parquet", "path": f"{sf_dir}/embeddings.parquet"}},
        {"name": "queries", "op": "sql", "output": "queries",
         "depends_on": ["emb"],
         "params": {"sql": "SELECT vec_id AS query_id, embedding FROM emb "
                           "WHERE vec_id < 5"}},
        {"name": "train", "op": "ivf_train", "output": "centroids",
         "depends_on": ["emb"],
         "params": {"input": "emb", "dim": 64, "nlist": 8,
                    "train_sample": 256}},
        {"name": "index", "op": "ivf_add", "output": "assigned",
         "depends_on": ["train"],
         "params": {"input": "emb", "centroids": "centroids", "dim": 64}},
        {"name": "search", "op": "ivf_search", "output": "knn",
         "depends_on": ["index", "queries"],
         "params": {"assigned": "assigned", "centroids": "centroids",
                    "queries": "queries", "dim": 64, "k": 5, "nprobe": 3}},
    ]
    cfg = PipelineConfig.from_dict({"name": "ivf_ops", "components": comps})
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    emb = rtable(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < 5).selectExpr("vec_id AS query_id", "embedding")
    want = sorted(map(tuple, cosine_topk_ivf(
        emb, queries, dim=64, k=5, nlist=8, nprobe=3,
        train_sample=256,
    ).collect()))
    assert sorted(map(tuple, runner.catalog.get("knn").collect())) == want


def test_pq_registry_ops(spark, sf_dir):
    """op:pq_train / op:pq_encode / op:pq_search compose the config-path
    PQ-ADC pipeline to the same results as cosine_topk_pq directly."""
    from pyspark_pipeline_framework_spark.io.readers import table as rtable
    from pyspark_pipeline_framework_spark.llm.pq import cosine_topk_pq

    comps = [
        {"name": "emb", "op": "read", "output": "emb",
         "params": {"format": "parquet", "path": f"{sf_dir}/embeddings.parquet"}},
        {"name": "queries", "op": "sql", "output": "queries",
         "depends_on": ["emb"],
         "params": {"sql": "SELECT vec_id AS query_id, embedding FROM emb "
                           "WHERE vec_id < 5"}},
        {"name": "train", "op": "pq_train", "output": "codebooks",
         "depends_on": ["emb"],
         "params": {"input": "emb", "dim": 64, "m_sub": 16, "ksub": 16,
                    "train_sample": 128}},
        {"name": "encode", "op": "pq_encode", "output": "codes",
         "depends_on": ["train"],
         "params": {"input": "emb", "codebooks": "codebooks", "dim": 64}},
        {"name": "search", "op": "pq_search", "output": "knn",
         "depends_on": ["encode", "queries"],
         "params": {"codes": "codes", "codebooks": "codebooks",
                    "queries": "queries", "dim": 64, "k": 5}},
    ]
    cfg = PipelineConfig.from_dict({"name": "pq_ops", "components": comps})
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    emb = rtable(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < 5).selectExpr("vec_id AS query_id", "embedding")
    want = sorted(map(tuple, cosine_topk_pq(
        emb, queries, dim=64, k=5, m_sub=16, ksub=16, train_sample=128,
    ).collect()))
    assert sorted(map(tuple, runner.catalog.get("knn").collect())) == want


def test_full_dedup_pipeline_registry_ops(spark, sf_dir):
    """The complete near-dup pipeline in config: minhash candidates ->
    exact-Jaccard verify -> connected-components canonicalization ->
    decontaminate — each stage equal to the operator called directly."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.io.readers import table as rtable
    from pyspark_pipeline_framework_spark.llm.dedup import (
        decontaminate,
        dedup_clusters,
        jaccard_verify,
        minhash_candidate_pairs,
    )

    comps = [
        {"name": "load", "op": "read", "output": "docs",
         "params": {"format": "parquet", "path": f"{sf_dir}/documents.parquet"}},
        {"name": "eval", "op": "sql", "output": "eval_docs",
         "depends_on": ["load"],
         "params": {"sql": "SELECT * FROM docs WHERE doc_id < 5"}},
        {"name": "cand", "op": "dedup_minhash_pairs", "output": "cand",
         "depends_on": ["load"], "params": {"input": "docs"}},
        {"name": "verify", "op": "jaccard_verify", "output": "verified",
         "depends_on": ["cand"],
         "params": {"input": "docs", "candidates": "cand", "threshold": 0.8}},
        {"name": "clusters", "op": "dedup_clusters", "output": "kept",
         "depends_on": ["verify"],
         "params": {"input": "docs", "pairs": "verified"}},
        {"name": "decon", "op": "decontaminate", "output": "clean",
         "depends_on": ["load", "eval"],
         "params": {"input": "docs", "eval_set": "eval_docs"}},
    ]
    cfg = PipelineConfig.from_dict({"name": "dedup_full", "components": comps})
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS

    docs = rtable(spark, sf_dir, "documents")
    cand = minhash_candidate_pairs(docs)
    ver = jaccard_verify(docs, cand, threshold=0.8)
    want_clusters = dedup_clusters(docs, ver)
    got_clusters = runner.catalog.get("kept")
    assert sorted(map(tuple, got_clusters.collect())) == sorted(
        map(tuple, want_clusters.collect())
    )
    want_clean = decontaminate(docs, docs.where(F.col("doc_id") < 5))
    got_clean = runner.catalog.get("clean")
    assert sorted(map(tuple, got_clean.collect())) == sorted(
        map(tuple, want_clean.collect())
    )


def test_ngram_pairs_requires_max_doc_freq(spark, sf_dir):
    """Declarative ngram_jaccard: max_doc_freq is REQUIRED at config
    load (r9 VERDICT item 2 — the uncapped quadratic must be an
    explicit opt-out, max_doc_freq: null, never the default)."""
    import pytest as _pytest

    from pyspark_pipeline_framework_spark.plans.config import PipelineValidationError

    def comps(params):
        return [
            {"name": "load", "op": "read", "output": "docs",
             "params": {"format": "parquet",
                        "path": f"{sf_dir}/documents.parquet"}},
            {"name": "pairs", "op": "dedup_ngram_pairs", "output": "pairs",
             "depends_on": ["load"], "params": {"input": "docs", **params}},
        ]

    with _pytest.raises(PipelineValidationError, match="max_doc_freq"):
        PipelineConfig.from_dict(
            {"name": "ng", "components": comps({"threshold": 0.8})}
        )
    for bad in (True, 1, "x", 1.5):
        with _pytest.raises(PipelineValidationError, match="max_doc_freq"):
            PipelineConfig.from_dict(
                {"name": "ng",
                 "components": comps({"max_doc_freq": bad})}
            )
    # capped form loads AND runs; explicit null loads with a warning
    cfg = PipelineConfig.from_dict(
        {"name": "ng",
         "components": comps({"threshold": 0.8, "max_doc_freq": 200})}
    )
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    assert "jaccard" in runner.catalog.get("pairs").columns
    PipelineConfig.from_dict(
        {"name": "ng",
         "components": comps({"threshold": 0.8, "max_doc_freq": None})}
    )
    # the registry-level backstop fires for programmatic (non-config) use
    from pyspark_pipeline_framework_spark.io.readers import Catalog
    from pyspark_pipeline_framework_spark.plans.registry import default_registry

    cat = Catalog(spark)
    cat.put("docs", spark.read.parquet(f"{sf_dir}/documents.parquet"))
    with _pytest.raises(ValueError, match="max_doc_freq"):
        default_registry.get("dedup_ngram_pairs")(
            spark, cat, output="p", input="docs"
        )


def test_range_frame_registry_op(spark, sf_dir):
    """op:range_frame routes params through the config path to the same
    results as operators.windows.global_range_frame directly."""
    from pyspark_pipeline_framework_spark.operators.windows import global_range_frame

    comps = [
        {"name": "load", "op": "read", "output": "orders",
         "params": {"format": "parquet", "path": f"{sf_dir}/orders.parquet"}},
        {"name": "rf", "op": "range_frame", "output": "rf",
         "depends_on": ["load"],
         "params": {"input": "orders", "order_col": "o_totalprice",
                    "lower": -1000, "upper": 0, "agg": "count",
                    "key_cols": ["o_orderkey"], "result_col": "n_within_1k"}},
    ]
    cfg = PipelineConfig.from_dict({"name": "rf_ops", "components": comps})
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    from pyspark_pipeline_framework_spark.io.readers import table as rtable

    want = global_range_frame(
        rtable(spark, sf_dir, "orders"), order_col="o_totalprice",
        lower=-1000, upper=0, agg="count", key_cols=["o_orderkey"],
        result_col="n_within_1k",
    )
    got = runner.catalog.get("rf")
    assert (sorted(map(tuple, got.select("o_orderkey", "n_within_1k").collect()))
            == sorted(map(tuple, want.select("o_orderkey", "n_within_1k").collect())))


@pytest.mark.parametrize("row", LIFTS, ids=lambda row: row.name)
def test_lift_row_binds_to_its_target(row):
    """Each lifted op imports its target lazily, so a typo in the table
    would only fail when a pipeline runs that op: the target must
    import, take the catalog inputs positionally (none of them landing
    on a param typed as something else than a DataFrame, such as
    ``dim: int``) and accept every fixed keyword default."""
    import inspect

    sig = inspect.signature(row.resolve())
    bound = sig.bind_partial(*row.inputs, **row.defaults)
    for name in list(bound.arguments)[: len(row.inputs)]:
        ann = sig.parameters[name].annotation
        assert ann is inspect.Parameter.empty or "DataFrame" in str(ann), name
    assert default_registry.get(row.name).lift is row


# ------------------------------------------------------- shared datasets

class _JobGroupPerComponent(NoOpHooks):
    """Hooks that run each component's Spark jobs under a job group
    named after it, so a test can count the jobs a component ran."""

    def __init__(self, sc, prefix):
        self.sc, self.prefix = sc, prefix

    def on_component_start(self, pipeline, component):
        self.sc.setJobGroup(self.prefix + component, component)

    def on_component_end(self, pipeline, component, status, duration_s):
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, component):
        return len(self.sc.statusTracker().getJobIdsForGroup(self.prefix + component))


def _fan_out_pipeline(spark, out_dir, n_rows):
    """``src`` (a source) feeds ``mid`` and ``other``; ``mid`` feeds two
    sinks, ``other`` one. ``mid`` counts the rows it computes in the
    returned accumulator."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from pyspark_pipeline_framework_spark.plans.registry import (
        OperatorRegistry,
        default_registry,
    )

    computed = spark.sparkContext.accumulator(0)

    def count_row(x):
        computed.add(1)
        return x

    counting = F.udf(count_row, LongType()).asNondeterministic()
    reg = OperatorRegistry()
    for op in ("write", "transform"):
        reg.register(op, default_registry.get(op))

    @reg.register("range")
    def _range(spark_, catalog, *, output, **_):
        return catalog.put(output, spark_.range(n_rows))

    @reg.register("counted")
    def _counted(spark_, catalog, *, output, input, **_):
        return catalog.put(output, catalog.get(input).select(counting("id").alias("id")))

    def sink(name, dep, ds):
        return comp(name, deps=[dep], op="write", component_type="sink",
                    params={"input": ds, "format": "parquet", "mode": "overwrite",
                            "path": os.path.join(out_dir, name)})

    cfg = PipelineConfig("fan-out", [
        comp("src", op="range", component_type="source", output="sd_src"),
        comp("mid", deps=["src"], op="counted", output="sd_mid",
             params={"input": "sd_src"}),
        comp("other", deps=["src"], op="transform", output="sd_other",
             params={"input": "sd_src", "filter": "id % 2 = 0"}),
        sink("save_a", "mid", "sd_mid"),
        sink("save_b", "mid", "sd_mid"),
        sink("save_c", "other", "sd_other"),
    ])
    return cfg, reg, computed


def test_shared_dataset_is_computed_once_per_run(spark, tmp_path):
    """A non-source dataset two sinks read is computed once, at its
    producer; a source read twice and a dataset read once stay lazy."""
    import uuid

    cfg, reg, computed = _fan_out_pipeline(spark, str(tmp_path), 50)
    assert shared_datasets(cfg) == {"sd_mid"}
    hooks = _JobGroupPerComponent(spark.sparkContext, f"shared-{uuid.uuid4().hex}-")
    result = PipelineRunner(cfg, spark, registry=reg, hooks=hooks,
                            resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.SUCCESS
    assert computed.value == 50  # lazily, each sink recomputed it: 100
    assert hooks.jobs("mid") >= 1
    assert hooks.jobs("src") == 0 and hooks.jobs("other") == 0
    for name, n in (("save_a", 50), ("save_b", 50), ("save_c", 25)):
        assert spark.read.parquet(str(tmp_path / name)).count() == n


def test_shared_dataset_lands_under_the_session_checkpoint_dir(
    spark, tmp_path, session_checkpoint_dir
):
    """With ``spark.checkpoint.dir`` set, the shared dataset is a
    reliable checkpoint under it, not an executor-local one."""
    cfg, reg, computed = _fan_out_pipeline(spark, str(tmp_path), 20)
    result = PipelineRunner(cfg, spark, registry=reg, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.SUCCESS
    assert computed.value == 20
    assert session_checkpoint_dir(), "no checkpoint under the dir"
    for name in ("save_a", "save_b"):  # what the local copy gives
        ids = [r.id for r in spark.read.parquet(str(tmp_path / name)).collect()]
        assert sorted(ids) == list(range(20))


def test_shared_datasets_skip_dict_params_sources_and_sql_text():
    """Read counts walk string params and string list elements; dict
    params and dicts inside lists are skipped, sources are never
    shared, ``sql`` text is not parsed and disabled readers do not
    count."""
    cfg = PipelineConfig("counts", [
        comp("load", op="read", output="raw", params={"format": "parquet", "path": "/x"}),
        comp("clean", deps=["load"], op="transform", output="clean",
             params={"input": "raw", "select": ["id", "text"]}),
        comp("split", deps=["clean"], op="split_by_hash", output="split",
             params={"input": "clean", "fractions": {"train": 0.9, "test": 0.1}}),
        comp("agg", deps=["clean"], op="transform", output="agg",
             params={"input": "raw", "with_columns": [{"n": "1"}], "also": ["clean"]}),
        comp("by_sql", deps=["split"], op="sql", output="by_sql",
             params={"sql": "SELECT * FROM split JOIN split USING (id)"}),
        comp("off1", deps=["split"], op="transform", enabled=False, output="off1",
             params={"input": "split"}),
        comp("off2", deps=["split"], op="transform", enabled=False, output="off2",
             params={"input": "split"}),
    ])
    assert shared_datasets(cfg) == {"clean"}


def test_streaming_shared_dataset_stays_lazy(spark):
    """A streaming DataFrame cannot be checkpointed in batch: the runner
    leaves a shared streaming dataset lazy."""
    from pyspark_pipeline_framework_spark.plans.registry import OperatorRegistry

    reg = OperatorRegistry()

    @reg.register("rate")
    def _rate(spark_, catalog, *, output, **_):
        return catalog.put(output, spark_.readStream.format("rate").load())

    @reg.register("project")
    def _project(spark_, catalog, *, output, input, **_):
        return catalog.put(output, catalog.get(input).select("value"))

    cfg = PipelineConfig("stream-fan-out", [
        comp("src", op="rate", component_type="source", output="st_src"),
        comp("mid", deps=["src"], op="project", output="st_mid", params={"input": "st_src"}),
        comp("a", deps=["mid"], op="project", output="st_a", params={"input": "st_mid"}),
        comp("b", deps=["mid"], op="project", output="st_b", params={"input": "st_mid"}),
    ])
    assert shared_datasets(cfg) == {"st_mid"}
    runner = PipelineRunner(cfg, spark, registry=reg, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    assert runner.catalog.get("st_mid").isStreaming
