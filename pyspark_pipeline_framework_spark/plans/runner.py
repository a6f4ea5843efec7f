"""Sequential pipeline runner.

Behavior parity with the reference's ``SimplePipelineRunner`` +
``ComponentExecutor`` (runner/simple_runner.py:86-165,
runner/component_executor.py:54-152): validate → hooks → topo order →
per-component retry/circuit-breaker wrap → result aggregation, with
resume (``completed_components``), ``enabled`` flags, fail-fast or
continue, and dry-run validation. Deliberately sequential
(docs/scope.rst:156-177) — parallelism belongs to Spark, not the
orchestrator; because operators stay lazy, a chain of components
composes into ONE Catalyst plan per sink exactly like the reference's
temp-view fusion (SURVEY.md §4).

The one exception is a shared dataset, SURVEY §4's declared fan-out
point (:func:`shared_datasets`): the output of a non-source component
that two or more enabled components name in their params. Lazily,
every Spark action that reads it recomputes it — on the curation
benchmark ``docs_exact`` was computed six times per run. The runner
materializes it once, eagerly and with its lineage cut, right after
its producer returns (``connect_compat.truncate_lineage``:
``localCheckpoint``, or a reliable ``checkpoint()`` under
``spark.checkpoint.dir`` when the session sets it), so its cost lands
on its producer. Sources stay lazy (a copy of the whole input would
defeat each consumer's column pruning and pushdown), and so do
streaming DataFrames. An eager ``df.persist()`` in its place lost
on ``cpu_s`` in 5 of 5 curation benchmark pairs (medians 20.3 →
25.2 s; ``wall_s`` 7.1 → 7.4 s, peak RSS +5%): cached plans stay
full size and every query pays the cache lookups."""

from __future__ import annotations

import time
from typing import Callable, Iterable

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

from pyspark_pipeline_framework_spark.connect_compat import truncate_lineage
from pyspark_pipeline_framework_spark.io.readers import Catalog
from pyspark_pipeline_framework_spark.observability.hooks import NoOpHooks, PipelineHooks
from pyspark_pipeline_framework_spark.plans.config import (
    ComponentConfig,
    PipelineConfig,
    PipelineValidationError,
)
from pyspark_pipeline_framework_spark.plans.registry import (
    OperatorRegistry,
    default_registry,
    load_class_path,
)
from pyspark_pipeline_framework_spark.plans.result import (
    ComponentResult,
    ComponentStatus,
    PipelineResult,
)
from pyspark_pipeline_framework_spark.quality.gate import QualityGate
from pyspark_pipeline_framework_spark.quality.checks import CheckTiming
from pyspark_pipeline_framework_spark.resilience.circuit_breaker import (
    CircuitBreaker,
    CircuitBreakerOpenError,
)
from pyspark_pipeline_framework_spark.resilience.presets import DEFAULT, ResiliencePolicy
from pyspark_pipeline_framework_spark.resilience.retry import RetryExecutor
from pyspark_pipeline_framework_spark.schema.converter import from_struct_type
from pyspark_pipeline_framework_spark.schema.model import SchemaDefinition
from pyspark_pipeline_framework_spark.schema.validator import validate_compatibility


class SchemaContractError(RuntimeError):
    """A component's declared input/output schema contract was violated
    (reference runtime/dataflow/schema.py:10-31 ERROR semantics)."""

    def __init__(self, component: str, dataset: str, issues):
        self.component = component
        self.dataset = dataset
        self.issues = issues
        super().__init__(
            f"schema contract violated for component {component!r} on dataset "
            f"{dataset!r}: " + "; ".join(f"{i.field}: {i.message}" for i in issues)
        )


def shared_datasets(config: PipelineConfig) -> frozenset[str]:
    """Outputs of non-source components that at least two OTHER enabled
    components read. A component reads a dataset when one of its param
    values, or an element of a list param, is the dataset's name
    (non-string values such as dict params are skipped). ``sql`` text
    is not parsed, so a view read only from SQL does not count."""
    named = {
        c.name: {
            x
            for v in c.params.values()
            for x in (v if isinstance(v, list) else [v])
            if isinstance(x, str)
        }
        for c in config.components
    }
    return frozenset(
        p.output
        for p in config.components
        if p.component_type != "source" and p.op != "read"
        and sum(
            p.output in named[c.name]
            for c in config.components
            if c is not p and c.enabled
        ) >= 2
    )


class PipelineRunner:
    def __init__(
        self,
        config: PipelineConfig,
        spark: SparkSession,
        registry: OperatorRegistry | None = None,
        hooks: PipelineHooks | None = None,
        quality_gate: QualityGate | None = None,
        resilience: ResiliencePolicy = DEFAULT,
        fail_fast: bool = True,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
        secrets=None,
    ):
        self.config = config
        self.spark = spark
        self.registry = registry or default_registry
        if hooks is not None:
            self.hooks = hooks
        elif config.hooks:
            # config-declared hooks block builds the observers when the
            # caller didn't wire any (same contract as the CLI)
            from pyspark_pipeline_framework_spark.observability.config import (
                build_hooks_from_config,
            )

            self.hooks = build_hooks_from_config(config.hooks)
        else:
            self.hooks = NoOpHooks()
        self.quality_gate = quality_gate
        # config-declared secrets block (reference core/config/secrets.py):
        # secret://provider/key params interpolate at component-invoke
        # time through the configured resolver
        self.secrets = secrets or config.secrets_resolver()
        self.resilience = resilience
        self.fail_fast = fail_fast
        self._clock = clock
        self._sleep = sleep
        self.catalog = Catalog(spark)
        self._shared = shared_datasets(config)
        self._breaker = (
            CircuitBreaker(
                failure_threshold=resilience.failure_threshold,
                timeout_s=resilience.cb_timeout_s,
            )
            if resilience.circuit_breaker_enabled
            else None
        )
        # per-component breakers (reference core/config/component.py:36):
        # built eagerly, one per component that declares one, so each
        # component's failure state is isolated from the others'
        self._component_breakers: dict[str, CircuitBreaker] = {
            c.name: override.circuit_breaker.build(c.name, clock)
            for c in config.components
            if (override := c.resilience_override()) and override.circuit_breaker
        }
        for k, v in config.spark_conf.items():
            value = str(v).lower() if isinstance(v, bool) else str(v)
            held = spark.conf.get(k, None)
            if held == value:
                continue  # e.g. already applied at session build
            try:
                spark.conf.set(k, value)
            except PySparkException as exc:  # a static or core conf refuses
                raise PipelineValidationError(
                    f"spark_conf {k!r}: the session holds {held!r} and cannot "
                    f"change it to {value!r} at run time ({exc})"
                ) from exc

    # -- validation / dry run -------------------------------------------------
    def validate(self) -> list[str]:
        """Resolve every component's operator without executing
        (reference dry-run, core/config/validator.py:85-181)."""
        problems: list[str] = []
        for c in self.config.components:
            try:
                self._resolve(c)
            except Exception as exc:  # noqa: BLE001
                problems.append(f"{c.name}: {exc}")
        self.hooks.on_validation_complete(self.config.name, not problems, problems)
        return problems

    def _resolve(self, c: ComponentConfig):
        if c.op:
            return self.registry.get(c.op)
        return load_class_path(c.class_path)

    # -- execution ------------------------------------------------------------
    def run(self, completed_components: Iterable[str] = ()) -> PipelineResult:
        """Execute the pipeline: one component at a time, in
        :meth:`PipelineConfig.execution_order`. A component is skipped
        when it is disabled, when ``completed_components`` names it
        (resume), or, under ``fail_fast``, when an earlier component
        failed; results are reported in that same order."""
        completed = set(completed_components)
        result = PipelineResult(self.config.name)
        t0 = self._clock()
        self.hooks.on_pipeline_start(self.config.name)

        problems = self.validate()
        if problems:
            self.hooks.on_pipeline_end(self.config.name, "failure", self._clock() - t0)
            result.components = [
                ComponentResult(n, ComponentStatus.FAILURE, error="validation: " + "; ".join(problems))
                for n in self.config.execution_order()
            ]
            return result

        if self.quality_gate:
            self.quality_gate.run(CheckTiming.BEFORE_PIPELINE, self._datasets())

        aborted = False
        for name in self.config.execution_order():
            comp = self.config.get(name)
            skip = (
                "fail-fast abort" if aborted
                else "disabled" if not comp.enabled
                else "resume: already completed" if name in completed
                else None
            )
            if skip:
                self.hooks.on_component_skipped(self.config.name, name, skip)
                cr = ComponentResult(name, ComponentStatus.SKIPPED)
            else:
                cr = self._run_component(comp)
                aborted = self.fail_fast and cr.status == ComponentStatus.FAILURE
            result.components.append(cr)

        if self.quality_gate and not aborted:
            self.quality_gate.run(CheckTiming.AFTER_PIPELINE, self._datasets())

        self.hooks.on_pipeline_end(
            self.config.name, result.status.value, self._clock() - t0
        )
        return result

    def _datasets(self):
        return {n: self.catalog.get(n) for n in self.catalog.names()}

    def _check_contract(
        self, comp: ComponentConfig, dataset: str, contract: dict
    ) -> None:
        """Validate one dataset against a declared contract. Contract
        violations are data facts, not transient errors — callers keep
        this OUTSIDE the retry loop. ``schema_mode="warn"`` downgrades
        errors to log warnings; warning-severity issues (extra columns,
        missing optional fields) always just log."""
        import logging

        if dataset not in self.catalog.names():
            raise SchemaContractError(
                comp.name,
                dataset,
                [type("I", (), {"field": "<dataset>", "message": "dataset not found"})()],
            )
        expected = SchemaDefinition.from_dict(contract)
        actual = from_struct_type(self.catalog.get(dataset).schema)
        issues = validate_compatibility(expected, actual)
        errors = [i for i in issues if i.severity == "error"]
        warnings = [i for i in issues if i.severity != "error"]
        log = logging.getLogger(__name__)
        for i in warnings:
            log.warning(
                "schema contract warning [%s/%s] %s: %s", comp.name, dataset, i.field, i.message
            )
        if errors:
            if comp.schema_mode == "warn":
                for i in errors:
                    log.warning(
                        "schema contract violation (warn mode) [%s/%s] %s: %s",
                        comp.name, dataset, i.field, i.message,
                    )
            else:
                raise SchemaContractError(comp.name, dataset, errors)

    def _run_component(self, comp: ComponentConfig) -> ComponentResult:
        self.hooks.on_component_start(self.config.name, comp.name)
        t0 = self._clock()
        override = comp.resilience_override()
        retry_policy = (
            override.retry if override and override.retry else self.resilience.retry
        )
        # a component that declares ONLY a circuit_breaker (no retry, no
        # bundled policy) still inherits the runner-wide retry; a
        # component-level breaker replaces the shared one so its failures
        # don't trip unrelated components
        breaker = (
            self._component_breakers.get(comp.name)
            if override and override.circuit_breaker
            else self._breaker
        )
        executor = RetryExecutor(
            retry_policy,
            sleep=self._sleep,
            on_retry=lambda attempt, exc, _d: self.hooks.on_component_retry(
                self.config.name, comp.name, attempt, str(exc)
            ),
        )

        def invoke():
            fn = self._resolve(comp)
            kwargs = (
                self.secrets.interpolate(dict(comp.params))
                if self.secrets
                else dict(comp.params)
            )
            # inject the component's output dataset name when the
            # operator declares an `output` parameter
            import inspect

            try:
                accepts_output = "output" in inspect.signature(fn).parameters
            except (TypeError, ValueError):
                accepts_output = False
            if accepts_output:
                kwargs.setdefault("output", comp.output)
            # an op returns its output; storing it is the runner's job alone
            out = fn(self.spark, self.catalog, **kwargs)
            if out is not None and comp.output:
                if comp.output in self._shared and not out.isStreaming:
                    out = truncate_lineage(out, eager=True)
                self.catalog.put(comp.output, out)
            return out

        try:
            # declared input contracts checked before the run, output
            # contract after — both OUTSIDE the retry loop (a schema
            # violation is deterministic, retrying cannot fix it)
            for ds, contract in comp.input_contracts().items():
                self._check_contract(comp, ds, contract)
            if breaker:
                breaker.call(executor.execute, invoke)
            else:
                executor.execute(invoke)
            if comp.output_schema is not None:
                self._check_contract(comp, comp.output, comp.output_schema)
            # quality checks run once, OUTSIDE the retry loop — a failed
            # check is a data fact, not a transient error to retry
            if self.quality_gate:
                self.quality_gate.run(
                    CheckTiming.AFTER_COMPONENT,
                    self._datasets(),
                    component_name=comp.name,
                    component_output=comp.output,
                )
            dur = self._clock() - t0
            self.hooks.on_component_end(self.config.name, comp.name, "success", dur)
            return ComponentResult(comp.name, ComponentStatus.SUCCESS, dur, executor.attempts)
        except CircuitBreakerOpenError as exc:
            dur = self._clock() - t0
            self.hooks.on_component_skipped(self.config.name, comp.name, str(exc))
            return ComponentResult(comp.name, ComponentStatus.SKIPPED, dur, 0, str(exc))
        except Exception as exc:  # noqa: BLE001
            dur = self._clock() - t0
            self.hooks.on_component_end(self.config.name, comp.name, "failure", dur)
            return ComponentResult(
                comp.name, ComponentStatus.FAILURE, dur, executor.attempts, str(exc)
            )
