"""Config-layer negative-path fuzz (VERDICT r7 item 7).

The operator algebra has a differential fuzzer (tools/fuzzcheck.py);
this covers the other hand-written attack surface — config parsing and
validation — with randomized MALFORMED input:

1. TEXT layer: random mutations of the example ``.conf`` files
   (truncation, span deletion/duplication, junk insertion, char
   replacement) fed to ``plans.hocon.loads``. Contract: a dict comes
   back, or :class:`HoconError` is raised. Any other exception type is
   an uncontrolled crash; a parse over 2 s is flagged as a hang.
2. DICT layer: random structural mutations of parsed valid pipelines
   (type swaps, key deletion, unknown-key insertion, scalar-for-list)
   fed to ``PipelineConfig.from_dict``. Contract: a
   :class:`PipelineConfig` comes back, or
   :class:`PipelineValidationError` is raised — never a dataclass
   TypeError or a deep AttributeError traceback, and never a silent
   misparse of a scalar where a list belongs. Every accepted config
   also goes through the runner's shared-dataset read count
   (``plans.runner.shared_datasets``), which walks all its params.

Usage: python tools/hoconfuzz.py [--n 1200] [--seed 42] [--dump]
Exit 0 iff zero uncontrolled exceptions and zero hangs. No Spark.
"""

from __future__ import annotations

import argparse
import copy
import glob
import os
import random
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)

from pyspark_pipeline_framework_spark.plans.config import (  # noqa: E402
    PipelineConfig,
    PipelineValidationError,
)
from pyspark_pipeline_framework_spark.plans.hocon import HoconError, loads  # noqa: E402
from pyspark_pipeline_framework_spark.plans.runner import shared_datasets  # noqa: E402

#: junk fragments biased toward HOCON syntax elements — mutations that
#: stay NEAR the grammar probe deeper parser states than pure noise
_JUNK = [
    "{", "}", "[", "]", ":", "=", ",", '"', "\n", "#", "//", "$",
    "${", "${?", "}", '"""', "+=", "include \"nope.conf\"",
    "include required(file(\"gone.conf\"))", "${a.b.c}", "${?opt}",
    "null", "true", "1e309", "-", ".", "\\", "\t", "é", "￿",
    "a.b.c: 1", "x = ${x}", "k { k { k {", "]]]", "}}}",
]

#: replacement values for the dict layer — every JSON-able shape plus
#: the classic scalar-for-list / list-for-scalar confusions
_SWAPS = [
    None, 0, -1, 1.5, "", "x", True, False, [], {}, [1, 2], ["a"],
    {"k": "v"}, 2 ** 70, "true", "null", [[]], {"components": []},
]


def _mutate_text(rng: random.Random, text: str) -> str:
    op = rng.randrange(5)
    if not text:
        return rng.choice(_JUNK)
    i = rng.randrange(len(text))
    if op == 0:  # truncate
        return text[:i]
    if op == 1:  # delete span
        j = min(len(text), i + rng.randrange(1, 24))
        return text[:i] + text[j:]
    if op == 2:  # insert junk
        return text[:i] + rng.choice(_JUNK) + text[i:]
    if op == 3:  # duplicate span
        j = min(len(text), i + rng.randrange(1, 40))
        return text[:i] + text[i:j] + text[i:j] + text[j:]
    # replace char
    return text[:i] + rng.choice(_JUNK) + text[i + 1:]


def _paths(node, prefix=()):
    out = [prefix]
    if isinstance(node, dict):
        for k, v in node.items():
            out.extend(_paths(v, prefix + (k,)))
    elif isinstance(node, list):
        for i, v in enumerate(node):
            out.extend(_paths(v, prefix + (i,)))
    return out


def _get(node, path):
    for p in path:
        node = node[p]
    return node


def _mutate_dict(rng: random.Random, d: dict) -> dict:
    d = copy.deepcopy(d)
    paths = [p for p in _paths(d) if p]
    if not paths:
        return rng.choice(_SWAPS)  # type: ignore[return-value]
    path = rng.choice(paths)
    parent = _get(d, path[:-1])
    key = path[-1]
    op = rng.randrange(5)
    if op == 0:  # type swap
        parent[key] = rng.choice(_SWAPS)
    elif op == 1:  # delete
        del parent[key]
    elif op == 2 and isinstance(parent, dict):  # unknown key insert
        parent["fz_" + str(rng.randrange(1000))] = rng.choice(_SWAPS)
    elif op == 3 and isinstance(d.get("components"), list) and d["components"]:
        # both settings spellings on one component (r8 ADVICE finding):
        # must yield the typed mutual-exclusion error, never a raw
        # dataclass TypeError
        comp = rng.choice([c for c in d["components"] if isinstance(c, dict)]
                          or [None])
        if comp is not None:
            comp.setdefault("params", {})
            comp["config"] = {"fz": rng.randrange(1000)}
    else:  # wrap a scalar in a list / unwrap a list
        v = parent[key]
        parent[key] = [v] if not isinstance(v, list) else (v[0] if v else None)
    return d


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, default=1200,
                    help="total mutations (split evenly text/dict)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--dump", action="store_true",
                    help="print each failing input")
    a = ap.parse_args()
    rng = random.Random(a.seed)

    texts = []
    for p in sorted(glob.glob(os.path.join(REPO, "examples", "*.conf"))):
        with open(p) as f:
            texts.append(f.read())
    dicts = []
    for t in texts:
        try:
            d = loads(t, base_dir=os.path.join(REPO, "examples"))
            if d.get("components"):
                dicts.append(d)
        except HoconError:
            pass
    if not texts or not dicts:
        print("no seeds found", file=sys.stderr)
        return 1

    uncontrolled, hangs, parsed_ok, clean_err = 0, 0, 0, 0
    half = a.n // 2
    for i in range(half):
        src = _mutate_text(rng, rng.choice(texts))
        t0 = time.perf_counter()
        try:
            out = loads(src, base_dir=os.path.join(REPO, "examples"))
            assert isinstance(out, dict), type(out)
            parsed_ok += 1
        except HoconError:
            clean_err += 1
        except RecursionError:
            # deeply-nested junk legitimately exhausts the recursive-
            # descent parser; python turns that into a clean, catchable
            # error at a deterministic depth — acceptable, but counted
            # separately so growth is visible
            clean_err += 1
        except Exception as ex:
            uncontrolled += 1
            print(f"TEXT#{i} UNCONTROLLED {type(ex).__name__}: {str(ex)[:100]}")
            if a.dump:
                print("---- input ----\n" + src[:2000] + "\n----")
        if time.perf_counter() - t0 > 2.0:
            hangs += 1
            print(f"TEXT#{i} SLOW: {time.perf_counter() - t0:.1f}s")

    v_ok, v_err = 0, 0
    for i in range(a.n - half):
        src_d = _mutate_dict(rng, rng.choice(dicts))
        t0 = time.perf_counter()
        try:
            cfg = PipelineConfig.from_dict(src_d)
            assert isinstance(cfg, PipelineConfig)
            shared_datasets(cfg)
            v_ok += 1
        except PipelineValidationError:
            v_err += 1
        except Exception as ex:
            uncontrolled += 1
            print(f"DICT#{i} UNCONTROLLED {type(ex).__name__}: {str(ex)[:120]}")
            if a.dump:
                import json

                print("---- input ----")
                print(json.dumps(src_d, default=repr, indent=1)[:2000])
        if time.perf_counter() - t0 > 2.0:
            hangs += 1
            print(f"DICT#{i} SLOW: {time.perf_counter() - t0:.1f}s")

    print(
        f"{a.n} mutations (seed={a.seed}): text {parsed_ok} parsed / "
        f"{clean_err} HoconError; dict {v_ok} accepted / {v_err} "
        f"PipelineValidationError; {uncontrolled} uncontrolled, {hangs} hangs"
    )
    return 1 if uncontrolled or hangs else 0


if __name__ == "__main__":
    raise SystemExit(main())
