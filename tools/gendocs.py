"""Generate docs/API.md — the per-operator API reference.

Introspects the live package (never a hand-maintained list):

- every op in ``plans.registry.default_registry`` (the config-pipeline
  surface: what an ``op:`` line in HOCON/JSON can name),
- every public function of the ``llm.*`` and ``operators.*`` modules
  (the library surface),
- cross-referenced against the correctness suite: for each function,
  the ``q_*`` case(s) whose body calls it — the oracle-gated proof the
  driver and ``tools/selfcheck.py`` re-run every round.

Usage: python tools/gendocs.py   (rewrites docs/API.md in place;
CI-checkable by diffing the output against the committed file).
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: library modules documented function-by-function
LIB_MODULES = [
    "pyspark_pipeline_framework_spark.llm.dedup",
    "pyspark_pipeline_framework_spark.llm.similarity",
    "pyspark_pipeline_framework_spark.llm.pq",
    "pyspark_pipeline_framework_spark.llm.retrieval",
    "pyspark_pipeline_framework_spark.llm.text",
    "pyspark_pipeline_framework_spark.llm.packing",
    "pyspark_pipeline_framework_spark.llm.multimodal",
    "pyspark_pipeline_framework_spark.operators.joins",
    "pyspark_pipeline_framework_spark.operators.windows",
    "pyspark_pipeline_framework_spark.operators.events",
    "pyspark_pipeline_framework_spark.operators.partitioning",
]


def _first_sentence(doc: str | None) -> str:
    if not doc:
        return "(no docstring)"
    text = " ".join(doc.strip().split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text if text.endswith(".") else text + "."


def _rel(fn) -> str:
    try:
        path = inspect.getsourcefile(fn)
        _, line = inspect.getsourcelines(fn)
        return f"{os.path.relpath(path, REPO)}:{line}"
    except (TypeError, OSError):
        return "?"


def _sig(fn) -> str:
    try:
        return str(inspect.signature(fn))
    except (TypeError, ValueError):
        return "(...)"


def _suite_xref() -> dict[str, list[str]]:
    """function name -> sorted suite case names whose source calls it."""
    from pyspark_pipeline_framework_spark.suite import all_cases

    import pyspark_pipeline_framework_spark.llm as llm_pkg
    import pyspark_pipeline_framework_spark.operators as ops_pkg

    names: set[str] = set()
    for modname in LIB_MODULES:
        mod = __import__(modname, fromlist=["*"])
        for n, obj in vars(mod).items():
            if not n.startswith("_") and inspect.isfunction(obj) \
                    and obj.__module__ == modname:
                names.add(n)
    del llm_pkg, ops_pkg
    xref: dict[str, list[str]] = {}
    for case_name, case in sorted(all_cases().items()):
        try:
            src = inspect.getsource(case.spark_fn)
        except (TypeError, OSError):
            continue
        for n in names:
            if n + "(" in src:
                xref.setdefault(n, []).append(case_name)
    return xref


def main() -> int:
    from pyspark_pipeline_framework_spark.plans.registry import default_registry

    from pyspark_pipeline_framework_spark import __version__

    xref = _suite_xref()
    out: list[str] = [
        "# API reference",
        "",
        f"Version {__version__} (see `CHANGELOG.md` for release notes).",
        "",
        "Generated by `python tools/gendocs.py` — regenerate after adding",
        "an operator; do not edit by hand. Three columns of evidence per",
        "entry: where it lives (`file:line`), what it does (first doc",
        "sentence), and which oracle-gated suite case(s) exercise it",
        "(`q_*` names are re-verified against DuckDB by the correctness",
        "gate every round; see `tools/selfcheck.py`).",
        "",
        "## Config-pipeline operators (`op:` names)",
        "",
        "Every name registerable in a pipeline config component",
        "(`plans/registry.py` `default_registry`). Params are the",
        "component's `params:` mapping keys. A lifted op (a row of",
        "`plans/registry.py` `LIFTS`) applies its library target to the",
        "catalog datasets its input params name; every other param goes",
        "to the target by keyword. Every op returns its output and the",
        "runner stores it under the component's `output`.",
        "",
    ]
    for name in default_registry.names():
        fn = default_registry.get(name)
        row = getattr(fn, "lift", None)  # a LIFTS row documents its target
        src = row.resolve() if row else fn
        out += [
            f"### `op: {name}`",
            "",
            f"- **source**: `{_rel(src)}`"
            + (f" (lifted: `{row.target}`)" if row else ""),
            f"- **contract**: {_first_sentence(inspect.getdoc(src))}",
        ]
        if row:
            out.append("- **catalog inputs**: " + ", ".join(f"`{k}`" for k in row.inputs)
                       + ", passed positionally in this order")
        out += [
            f"- **params**: `{_sig(src)}`"
            + "".join(f"; default `{k}={v!r}`" for k, v in (row.defaults if row else {}).items()),
            "",
        ]
    for modname in LIB_MODULES:
        mod = __import__(modname, fromlist=["*"])
        short = modname.split("pyspark_pipeline_framework_spark.")[-1]
        fns = [
            (n, obj) for n, obj in sorted(vars(mod).items())
            if not n.startswith("_") and inspect.isfunction(obj)
            and obj.__module__ == modname
        ]
        if not fns:
            continue
        out += [f"## `{short}`", ""]
        for n, obj in fns:
            cases = xref.get(n)
            out += [
                f"### `{short.split('.')[-1]}.{n}`",
                "",
                f"- **source**: `{_rel(obj)}`",
                f"- **signature**: `{n}{_sig(obj)}`",
                f"- **contract**: {_first_sentence(inspect.getdoc(obj))}",
            ]
            if cases:
                out.append(
                    "- **oracle-gated by**: " + ", ".join(f"`{c}`" for c in cases)
                )
            out.append("")
    out += [
        "## Other surfaces",
        "",
        "Streaming sources/sinks/pipelines, data-quality checks,",
        "orchestration (runner, retry, circuit breaker, checkpointing,",
        "secrets, observability) and session management are class-based",
        "surfaces documented in `docs/ARCHITECTURE.md` and covered by",
        "`tests/` rather than SQL oracles.",
        "",
    ]
    path = os.path.join(REPO, "docs", "API.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    n_ops = len(default_registry.names())
    n_fns = sum(1 for line in out if line.startswith("### `") and "op: " not in line)
    print(f"wrote {path}: {n_ops} registry ops, {n_fns} library functions")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
