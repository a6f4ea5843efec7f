"""Hooks / metrics / audit behavior, incl. the CLI surface."""

import json

from pyspark_pipeline_framework_spark.observability.audit import (
    AuditHooks,
    CompositeAuditSink,
    FileAuditSink,
    redact_config,
)
from pyspark_pipeline_framework_spark.observability.hooks import (
    CompositeHooks,
    LoggingHooks,
    MetricsHooks,
    NoOpHooks,
)
from pyspark_pipeline_framework_spark.observability.metrics import InMemoryMetricsRegistry


def test_redaction():
    cfg = {"db_password": "x", "nested": {"api_key": "y", "host": "h"}, "plain": 1}
    out = redact_config(cfg)
    assert out["db_password"] == "***REDACTED***"
    assert out["nested"]["api_key"] == "***REDACTED***"
    assert out["nested"]["host"] == "h" and out["plain"] == 1


def test_metrics_hooks_record():
    reg = InMemoryMetricsRegistry()
    h = MetricsHooks(reg)
    h.on_component_end("p", "c", "success", 1.5)
    h.on_component_retry("p", "c", 1, "err")
    snap = reg.snapshot()
    assert snap["counters"]["component_runs{component=c,pipeline=p,status=success}"] == 1
    assert snap["counters"]["component_retries{component=c,pipeline=p}"] == 1
    assert snap["timers"]["component_duration_s{component=c,pipeline=p}"] == [1.5]


def test_composite_swallows_hook_errors():
    class Broken(NoOpHooks):
        def on_pipeline_start(self, pipeline):
            raise RuntimeError("observer bug")

    reg = InMemoryMetricsRegistry()
    composite = CompositeHooks(Broken(), MetricsHooks(reg))
    composite.on_pipeline_start("p")  # must not raise
    composite.on_pipeline_end("p", "success", 0.1)
    assert reg.snapshot()["counters"]


def test_audit_jsonl_sink(tmp_path):
    path = str(tmp_path / "audit.jsonl")
    hooks = AuditHooks(FileAuditSink(path))
    hooks.on_pipeline_start("p")
    hooks.on_component_start("p", "c")
    hooks.on_component_end("p", "c", "success", 0.5)
    hooks.on_pipeline_end("p", "success", 1.0)
    events = [json.loads(line) for line in open(path)]
    assert [e["action"] for e in events] == [
        "pipeline_start", "component_start", "component_end", "pipeline_end",
    ]
    trace_ids = {e["trace_id"] for e in events}
    assert len(trace_ids) == 1 and "" not in trace_ids


def test_audit_composite_sink_resilient(tmp_path):
    class BadSink:
        def emit(self, event):
            raise OSError("disk full")

    path = str(tmp_path / "a.jsonl")
    sink = CompositeAuditSink(BadSink(), FileAuditSink(path))
    hooks = AuditHooks(sink)
    hooks.on_pipeline_start("p")
    assert len(open(path).readlines()) == 1


def test_cli_dry_run_and_run(tmp_path, spark):
    cfg = {
        "name": "cli_demo",
        "components": [
            {
                "name": "load",
                "op": "read",
                "params": {"format": "parquet", "path": "/root/testdata/sf0.001/region.parquet"},
                "output": "region",
            },
            {
                "name": "agg",
                "op": "sql",
                "params": {"sql": "SELECT COUNT(*) AS n FROM region"},
                "depends_on": ["load"],
            },
        ],
    }
    p = tmp_path / "pipe.json"
    p.write_text(json.dumps(cfg))
    from pyspark_pipeline_framework_spark.cli import main

    assert main([str(p), "--dry-run"]) == 0
    assert main([str(p)]) == 0
    assert main([str(tmp_path / "missing.json")]) == 1


# ------------------------------------------- config-declared hooks

def test_hooks_config_validation_rejects_unknown_sections():
    import pytest
    from pyspark_pipeline_framework_spark.observability.config import (
        HooksConfigError,
        validate_hooks_config,
    )

    with pytest.raises(HooksConfigError, match="unknown hooks"):
        validate_hooks_config({"tracing": {}})
    with pytest.raises(HooksConfigError, match="backend"):
        validate_hooks_config({"metrics": {"backend": "statsd"}})
    with pytest.raises(HooksConfigError, match="retention_days"):
        validate_hooks_config({"audit": {"retention_days": 0}})
    with pytest.raises(HooksConfigError, match="export_interval"):
        validate_hooks_config({"metrics": {"export_interval_seconds": 0}})


def test_pipeline_config_validates_hooks_block():
    import pytest
    from pyspark_pipeline_framework_spark.plans.config import (
        PipelineConfig,
        ComponentConfig,
        PipelineValidationError,
    )

    with pytest.raises(PipelineValidationError, match="unknown hooks"):
        PipelineConfig(
            "p",
            [ComponentConfig(name="a", op="sql")],
            hooks={"nope": {}},
        )


def test_build_hooks_from_config_composes(tmp_path):
    from pyspark_pipeline_framework_spark.observability.config import build_hooks_from_config
    from pyspark_pipeline_framework_spark.observability.hooks import CompositeHooks

    audit_path = tmp_path / "audit.jsonl"
    hooks = build_hooks_from_config(
        {
            "metrics": {"backend": "in_memory"},
            "audit": {"audit_trail_path": str(audit_path)},
        }
    )
    assert isinstance(hooks, CompositeHooks)
    hooks.on_pipeline_start("p")
    hooks.on_component_end("p", "c", "success", 0.5)
    hooks.on_pipeline_end("p", "success", 1.0)
    lines = [json.loads(l) for l in audit_path.read_text().splitlines()]
    assert [e["action"] for e in lines] == ["pipeline_start", "component_end", "pipeline_end"]
    metrics = next(h for h in hooks.hooks if isinstance(h, MetricsHooks))
    snap = metrics.registry.snapshot()
    assert any("component_runs" in k for k in snap["counters"])
    # reference HooksConfig.__post_init__ (core/config/hooks.py:82-85):
    # a hooks block without a logging section still defaults LoggingHooks
    assert any(isinstance(h, LoggingHooks) for h in hooks.hooks)


def test_metrics_backend_import_gated():
    # prometheus_client / opentelemetry are not in this container: the
    # config path must surface a clear ImportError, not a silent no-op
    import pytest
    from pyspark_pipeline_framework_spark.observability.config import (
        MetricsHooksConfig,
        build_metrics_registry,
    )

    for backend in ("prometheus", "otel"):
        cfg = MetricsHooksConfig(backend=backend)
        try:
            build_metrics_registry(cfg)
        except ImportError as exc:
            assert "requires" in str(exc)


def test_cli_config_declared_hooks_end_to_end(tmp_path, spark):
    """A .conf run with a hooks block emits metrics JSON + audit JSONL
    with zero Python wiring (reference HooksConfig semantics)."""
    audit_path = tmp_path / "audit.jsonl"
    metrics_path = tmp_path / "metrics.json"
    log_path = tmp_path / "run.log"
    conf = tmp_path / "pipe.conf"
    conf.write_text(
        f"""
        name = hooks-demo
        components = [
          {{ name = one, op = sql, params {{ sql = "SELECT 1 AS one" }} }},
          {{ name = two, op = sql, params {{ sql = "SELECT 2 AS two" }}, depends_on = [one] }}
        ]
        hooks {{
          logging {{ level = INFO, format = json, output = "{log_path}" }}
          metrics {{ backend = in_memory, dump_path = "{metrics_path}" }}
          audit {{ audit_trail_path = "{audit_path}" }}
        }}
        """
    )
    from pyspark_pipeline_framework_spark.cli import main

    assert main([str(conf)]) == 0
    events = [json.loads(l) for l in audit_path.read_text().splitlines()]
    actions = [e["action"] for e in events]
    assert "pipeline_start" in actions and "pipeline_end" in actions
    assert actions.count("component_end") == 2
    trace_ids = {e["trace_id"] for e in events if e["action"] != "validation"}
    assert len(trace_ids) == 1  # one run, one correlation id
    metrics = json.loads(metrics_path.read_text())
    assert any("pipeline_runs" in k for k in metrics["counters"])
    assert any("component_duration_s" in k for k in metrics["timers"])
    log_lines = [json.loads(l) for l in log_path.read_text().splitlines()]
    assert all({"ts", "level", "logger", "message"} <= set(l) for l in log_lines)


def test_runner_builds_hooks_from_config_block(tmp_path, spark):
    """PipelineRunner (not just the CLI) honors the config's hooks
    block when the caller passes none."""
    from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
    from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
    from pyspark_pipeline_framework_spark.plans.result import PipelineStatus

    audit_path = tmp_path / "a.jsonl"
    cfg = PipelineConfig.from_dict(
        {
            "name": "rh",
            "hooks": {"audit": {"audit_trail_path": str(audit_path)}},
            "components": [
                {"name": "one", "op": "sql", "params": {"sql": "SELECT 1 AS x"}}
            ],
        }
    )
    assert PipelineRunner(cfg, spark).run().status == PipelineStatus.SUCCESS
    events = [json.loads(l) for l in audit_path.read_text().splitlines()]
    assert any(e["action"] == "pipeline_end" for e in events)
