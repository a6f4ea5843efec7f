"""CLI: run a JSON pipeline config.

Parity with ``ppf-run`` (reference runner/cli.py:15-99): dry-run,
no-fail-fast, log level; exit codes 0 success / 1 failure / 2 partial.
Usage: ``python -m pyspark_pipeline_framework_spark config.json
[--dry-run] [--no-fail-fast] [--log-level INFO]``."""

from __future__ import annotations

import argparse
import logging
import sys

from pyspark_pipeline_framework_spark.plans.checkpoint import (
    CheckpointHooks,
    LocalCheckpointStore,
    PipelineConfigChangedError,
)
from pyspark_pipeline_framework_spark.plans.config import PipelineConfig, PipelineValidationError
from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
from pyspark_pipeline_framework_spark.observability.config import build_hooks_from_config
from pyspark_pipeline_framework_spark.observability.hooks import CompositeHooks, LoggingHooks
from pyspark_pipeline_framework_spark.session import build_session


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="ppfs-run", description=__doc__)
    parser.add_argument("config", help="pipeline config JSON file")
    parser.add_argument("--dry-run", action="store_true", help="validate without executing")
    parser.add_argument("--no-fail-fast", action="store_true", help="continue past failures")
    parser.add_argument("--log-level", default="INFO")
    parser.add_argument(
        "--checkpoint-dir",
        help="persist progress here after every component (enables crash resume)",
    )
    parser.add_argument(
        "--resume",
        action="store_true",
        help="skip components completed by a previous run (requires --checkpoint-dir)",
    )
    args = parser.parse_args(argv)

    logging.basicConfig(level=args.log_level.upper(), format="%(levelname)s %(name)s: %(message)s")

    try:
        config = PipelineConfig.from_file(args.config)
    except (OSError, ValueError, PipelineValidationError) as exc:
        print(f"config error: {exc}", file=sys.stderr)
        return 1

    if args.resume and not args.checkpoint_dir:
        print("--resume requires --checkpoint-dir", file=sys.stderr)
        return 1

    completed: list[str] = []
    # config-declared hooks (reference core/config/hooks.py): a `hooks`
    # block in the .conf/.json wires logging/metrics/audit observers
    # with zero Python code; without one, default to LoggingHooks
    hook_parts: list = (
        [build_hooks_from_config(config.hooks)] if config.hooks else [LoggingHooks()]
    )
    if args.checkpoint_dir:
        store = LocalCheckpointStore(args.checkpoint_dir)
        if args.resume:
            try:
                completed = store.load_for_resume(config)
            except PipelineConfigChangedError as exc:
                print(f"resume error: {exc}", file=sys.stderr)
                return 1
        hook_parts.append(CheckpointHooks(store, config, completed=completed))
    hooks = hook_parts[0] if len(hook_parts) == 1 else CompositeHooks(*hook_parts)

    # the reference-style `spark { ... }` block (or defaults) decides
    # the session; pipeline-level spark_conf merges in with precedence
    spark = build_session(config.spark_session_config())
    runner = PipelineRunner(
        config, spark, hooks=hooks, fail_fast=not args.no_fail_fast
    )
    if args.dry_run:
        problems = runner.validate()
        for p in problems:
            print(f"validation: {p}", file=sys.stderr)
        return 1 if problems else 0

    result = runner.run(completed_components=completed)
    for c in result.components:
        print(f"{c.name}: {c.status.value} ({c.duration_s:.2f}s, attempts={c.attempts})"
              + (f" error={c.error}" if c.error else ""))
    print(f"pipeline {result.pipeline}: {result.status.value}")
    return result.exit_code()


if __name__ == "__main__":
    raise SystemExit(main())
