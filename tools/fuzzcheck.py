"""Differential query fuzzing of the operator algebra vs the DuckDB oracle.

The 130-case suite is hand-written; this tool generates SEEDED random
operator pipelines (derive → filter → join → agg/window/distinct/
sort-limit/set-op over the star-schema parquet), renders each spec
TWICE — once through the PySpark DataFrame API (the engine under
test: Catalyst owns the plan) and once as nested ANSI SQL for DuckDB —
and compares row count + name-sorted schema + order-insensitive
values, exactly like the driver's correctness gate.

What it exercises that the fixed suite structurally can't: random
predicate/key/aggregate combinations, NULL-heavy derived columns as
join keys / group keys / order keys (null-vs-null join semantics,
NULL grouping, explicit NULLS FIRST/LAST ordering), join-type corner
cases (semi/anti as EXISTS/NOT EXISTS), two-hop join chains
(lineitem→orders→customer), ROLLUP/CUBE grouped aggregates, HAVING
over aggregate aliases, decimal-sum discipline over doubles, and
set-operation duplicate semantics within and across tables. The r6
grammar adds the formerly one-hand-written-case-only families: asof
joins (vs DuckDB native ASOF JOIN), bucketized range joins, theta
joins, correlated scalar subqueries (Spark side DECORRELATED),
uncorrelated scalar subqueries, multi-reference CTE chains,
explode/UDTF terminals, and gap-based session windows over both ns-
and day-granularity timestamps.

Determinism rules (a fuzzer false positive is worse than no fuzzer):
- every pipeline is reproducible from (seed, index) alone — pipeline i
  uses ``random.Random(seed * 1_000_003 + i)``;
- sort+limit only with a total order (PK tiebreak) and explicit
  NULLS FIRST/LAST on both sides (Spark and DuckDB defaults differ);
- row_number/lag/lead only over a PK total order; rank/dense_rank and
  unordered partition aggregates are tie-deterministic by value;
- SUM over double goes through DECIMAL(38,6) on both sides (float
  accumulation order is not associative); SUM over int is cast to
  BIGINT on both sides (DuckDB widens to HUGEINT, pandas would then
  float it);
- no AVG over double (Spark decimal-avg vs DuckDB double-avg types
  diverge) — the fixed suite covers avg via sum/count.

Known engine divergence (accepted, reported as OK*): ROLLUP/CUBE over
an EMPTY input. The SQL standard (and DuckDB/PostgreSQL) emit the
grand-total grouping-set row — one all-NULL-keys row with
count=0 — because GROUP BY () over empty input produces a row; Spark
emits zero rows (both the DataFrame cube/rollup API and its SQL
parser, verified on this container's Spark). Building ON Spark means
inheriting this; the harness accepts exactly the (spark=0 rows,
oracle=1 all-NULL-keys row) shape and nothing else.

Usage:
  python tools/fuzzcheck.py [--n 200] [--seed 42] [--sf /root/testdata/sf0.01]
                            [--only 17,42] [--dump] [--ansi] [--partitions]
                            [--twins N]
Exit 0 iff zero mismatches.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

import duckdb

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)
sys.path.insert(0, TOOLS)

from selfcheck import _norm_df  # noqa: E402

# ---------------------------------------------------------------------------
# Schema metadata (mirrors TESTDATA.md; kinds drive expression grammars)
# ---------------------------------------------------------------------------

TABLES: dict[str, dict] = {
    "lineitem": {
        # the synthetic generator emits duplicate (l_orderkey,
        # l_linenumber) pairs (and at sf0.001 even the 4-key quadruple
        # collides) — no reliable total order exists, so order-sensitive
        # terminals (row_number/lag/sort+limit) are disabled for
        # lineitem via the empty pk
        "pk": [],
        "cols": {
            "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
            "l_linenumber": "int", "l_quantity": "dbl", "l_extendedprice": "dbl",
            "l_discount": "dbl", "l_tax": "dbl", "l_returnflag": "str",
            "l_linestatus": "str", "l_shipdate": "ts",
        },
    },
    "orders": {
        "pk": ["o_orderkey"],
        "cols": {
            "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "str",
            "o_totalprice": "dbl", "o_orderdate": "ts", "o_orderpriority": "str",
        },
    },
    "customer": {
        "pk": ["c_custkey"],
        "cols": {
            "c_custkey": "int", "c_name": "str", "c_nationkey": "int",
            "c_acctbal": "dbl", "c_mktsegment": "str",
        },
    },
    "part": {
        "pk": ["p_partkey"],
        "cols": {
            "p_partkey": "int", "p_name": "str", "p_brand": "str",
            "p_type": "str", "p_size": "int", "p_retailprice": "dbl",
        },
    },
    "supplier": {
        "pk": ["s_suppkey"],
        "cols": {
            "s_suppkey": "int", "s_name": "str", "s_nationkey": "int",
            "s_acctbal": "dbl",
        },
    },
    "events": {
        "pk": ["event_id"],
        "cols": {
            "event_id": "int", "ts": "ts", "user_id": "int",
            "event_type": "str", "value": "dbl",
        },
    },
    "documents": {
        "pk": ["doc_id"],
        "cols": {
            "doc_id": "int", "lang": "str", "source": "str", "n_chars": "int",
        },
    },
}

# FK edges the generator may join along (natural keys; it can also swap
# in NULL-heavy derived keys on both sides)
FK_JOINS = [
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("events", "customer", "user_id", "c_custkey"),
]

JOIN_TYPES = ["inner", "left", "right", "full", "semi", "anti"]


# ---------------------------------------------------------------------------
# Spec generation
# ---------------------------------------------------------------------------

class Gen:
    """Generates one pipeline spec from a dedicated RNG. ``stats``
    (per-table numeric/ts col min..max, probed once from DuckDB) makes
    comparison literals land inside the data's range."""

    def __init__(self, rng: random.Random, stats: dict):
        self.r = rng
        self.stats = stats

    # -- scalar expression grammar (strings valid in BOTH Spark SQL and
    # DuckDB: comparisons, %, nullif/coalesce, CASE, length/upper/lower/
    # substr, IN, LIKE, BETWEEN, TIMESTAMP literals) -----------------------

    def _lit(self, table: str, col: str, kind: str) -> str:
        # column names are globally unique across the star schema, so
        # stats are keyed by bare column name (post-join predicates may
        # reference either side's columns)
        lo, hi = self.stats.get(col, (0, 100))
        if kind == "int":
            return str(int(lo + self.r.random() * (hi - lo)))
        if kind == "dbl":
            return f"{lo + self.r.random() * (hi - lo):.4f}"
        if kind == "ts":
            if not hasattr(lo, "strftime"):  # derived ts col: no stats
                import datetime as _dt

                lo, hi = _dt.datetime(1992, 1, 1), _dt.datetime(1999, 1, 1)
            frac = self.r.random()
            t = lo + (hi - lo) * frac
            return f"TIMESTAMP '{t.strftime('%Y-%m-%d %H:%M:%S')}'"
        raise AssertionError(kind)

    def pred(self, table: str, cols: list[tuple[str, str]]) -> str:
        """One boolean term; caller may AND/OR several."""
        name, kind = self.r.choice(cols)
        r = self.r
        if kind == "int":
            return r.choice([
                lambda: f"{name} {r.choice(['<', '<=', '>', '>='])} {self._lit(table, name, kind)}",
                lambda: f"{name} % {r.randint(2, 10)} {r.choice(['=', '<>', '<'])} {r.randint(0, 3)}",
                lambda: f"{name} BETWEEN {self._lit(table, name, kind)} AND {self._lit(table, name, kind)}",
                lambda: f"{name} IS NOT NULL",
                lambda: f"{name} IS NULL",
            ])()
        if kind == "dbl":
            return f"{name} {r.choice(['<', '<=', '>', '>='])} {self._lit(table, name, kind)}"
        if kind == "ts":
            return f"{name} {r.choice(['<', '>='])} {self._lit(table, name, kind)}"
        # str: domain-free predicates (no value knowledge needed)
        return r.choice([
            lambda: f"length({name}) {r.choice(['>', '<=', '='])} {r.randint(1, 12)}",
            lambda: f"{name} LIKE '%{r.choice('aeiorstn')}%'",
            lambda: f"upper({name}) {r.choice(['<', '>='])} '{r.choice('DHMQTW')}'",
            lambda: f"substr({name}, 1, 1) IN ({', '.join(repr(c) for c in r.sample('abcdefgmprsw', 3))})",
        ])()

    def predicate(self, table: str, cols: list[tuple[str, str]]) -> str:
        # biased toward 1-term / OR so most pipelines keep real data
        # (an all-empty corpus of 0-row comparisons tests little)
        nterms = self.r.choices([1, 2, 3], weights=[55, 30, 15])[0]
        terms = [self.pred(table, cols) for _ in range(nterms)]
        if len(terms) == 1:
            return terms[0]
        op = self.r.choices([" AND ", " OR "], weights=[40, 60])[0]
        out = op.join(f"({t})" for t in terms)
        if self.r.random() < 0.15:
            out = f"NOT ({out})"
        return out

    def derive(self, table: str, cols: list[tuple[str, str]], name: str):
        """A derived column, biased toward NULL-heavy ints (they become
        join/group/order keys downstream)."""
        ints = [c for c in cols if c[1] == "int"]
        strs = [c for c in cols if c[1] == "str"]
        r = self.r
        choices = []
        if ints:
            c = r.choice(ints)[0]
            k, m = r.randint(2, 8), 0
            m = r.randint(0, k - 1)
            choices += [
                (f"nullif({c} % {k}, {m})", "int"),
                (f"CASE WHEN {c} % {k} = {m} THEN NULL ELSE {c} % {r.randint(5, 50)} END", "int"),
                (f"{c} % {r.randint(7, 97)}", "int"),
            ]
            if len(ints) >= 2:
                a, b = r.sample(ints, 2)
                choices.append((f"{a[0]} % 100 + {b[0]} % 11", "int"))
        if strs:
            c = r.choice(strs)[0]
            choices += [
                (f"CASE WHEN length({c}) % {r.randint(2, 5)} = 0 THEN NULL ELSE upper({c}) END", "str"),
                (f"substr({c}, 1, {r.randint(1, 4)})", "str"),
            ]
        tss = [c for c in cols if c[1] == "ts"]
        if tss:
            c = r.choice(tss)[0]
            choices += [
                (f"year({c})", "int"),
                (f"month({c})", "int"),
                (f"day({c})", "int"),
                (f"date_trunc('{r.choice(['month', 'day', 'hour'])}', {c})", "ts"),
            ]
        # events carries a JSON props column: extract its int key
        # (engine-specific rendering — Spark get_json_object vs DuckDB
        # json_extract_string — so this is its own op, not a shared expr)
        if table == "events" and r.random() < 0.25:
            return {"op": "derive_json", "name": name, "src": "props",
                    "key": "k", "kind": "int"}
        expr, kind = r.choice(choices)
        # sometimes route an int derivation through a vectorized
        # pandas_udf on the Spark side (the SQL oracle stays pure
        # arithmetic) — exercises the Arrow bridge incl. NULL passage
        if ints and kind == "int" and self.r.random() < 0.15:
            src = self.r.choice(ints)[0]
            k = self.r.randint(2, 9)
            return {"op": "derive_udf", "name": name, "src": src, "mul": 2,
                    "mod": k, "kind": "int"}
        return {"op": "derive", "name": name, "expr": expr, "kind": kind}

    # -- pipeline ----------------------------------------------------------

    def pipeline(self) -> dict:
        r = self.r
        # r6 blind-spot shapes (VERDICT r5 item 2) — drawn first so they
        # hold ≥15% of generated specs combined
        if r.random() < 0.035:
            return self.asof_pipeline()
        if r.random() < 0.035:
            return self.range_pipeline()
        if r.random() < 0.03:
            return self.theta_pipeline()
        if r.random() < 0.025:
            return self.rangeframe_pipeline()
        if r.random() < 0.05:
            return self.subq_pipeline()
        if r.random() < 0.04:
            return self.cte_pipeline()
        if r.random() < 0.04:
            return self.explode_pipeline()
        if r.random() < 0.035:
            return self.session_pipeline()
        if r.random() < 0.02:
            return self.minhash_pipeline()
        if r.random() < 0.02:
            return self.ngram_pipeline()
        if r.random() < 0.02:
            return self.spans_pipeline()
        if r.random() < 0.015:
            return self.ivf_pipeline()
        if r.random() < 0.015:
            return self.pq_pipeline()
        if r.random() < 0.01:
            return self.ivfpq_pipeline()
        if r.random() < 0.03:
            return self.packing_pipeline()
        if r.random() < 0.03:
            return self.retrieval_pipeline()
        if r.random() < 0.02:
            return self.bloom_pipeline()
        if r.random() < 0.015:
            return self.semdedup_pipeline()
        if r.random() < 0.05:
            return self.textops_pipeline()
        if r.random() < 0.04:
            return self.dq_pipeline()
        if r.random() < 0.04:
            return self.funnel_pipeline()
        if r.random() < 0.12:
            return self.setop_pipeline()
        if r.random() < 0.10:
            return self.selfjoin_pipeline()
        if r.random() < 0.08:
            return self.pivot_pipeline()
        if r.random() < 0.07:
            return self.unpivot_pipeline()

        base = r.choice(list(TABLES))
        cols = list(TABLES[base]["cols"].items())
        pk = list(TABLES[base]["pk"])
        stages: list[dict] = []
        nderived = 0

        for _ in range(r.randint(0, 2)):
            d = self.derive(base, cols, f"d{nderived}")
            nderived += 1
            stages.append(d)
            cols.append((d["name"], d["kind"]))

        if r.random() < 0.7:
            stages.append({"op": "filter", "pred": self.predicate(base, cols)})

        joined = False
        if r.random() < 0.55:
            edges = [e for e in FK_JOINS if e[0] == base]
            if edges:
                _, right, lk, rk = r.choice(edges)
                jt = r.choice(JOIN_TYPES)
                st: dict = {"op": "join", "type": jt, "right": right, "lk": lk, "rk": rk,
                            "right_derive": None, "right_pred": None}
                rcols = list(TABLES[right]["cols"].items())
                # sometimes join on NULL-heavy derived keys on BOTH sides
                # (exercises null-key join semantics: equi-join drops nulls)
                if r.random() < 0.35:
                    lints = [c for c in cols if c[1] == "int"]
                    rints = [c for c in rcols if c[1] == "int"]
                    if lints and rints:
                        # SAME modulus on both sides so key domains
                        # overlap ({0..k-1}) — many-to-many matches plus
                        # NULL keys, not a trivially empty join. Modulus
                        # is large and the right side is sampled hard so
                        # |join| stays ~ |L| * |R|/(23*k) — bounded.
                        k = r.randint(100, 999)
                        lc, rc = r.choice(lints)[0], r.choice(rints)[0]
                        shape = r.choice([
                            lambda c: f"nullif({c} % {k}, {r.randint(0, k - 1)})",
                            lambda c: f"{c} % {k}",
                        ])
                        dl = {"op": "derive", "name": f"d{nderived}",
                              "expr": shape(lc), "kind": "int"}
                        nderived += 1
                        stages.append(dl)
                        cols.append((dl["name"], "int"))
                        st["right_derive"] = {"op": "derive", "name": "rd0",
                                              "expr": shape(rc), "kind": "int"}
                        st["lk"], st["rk"] = dl["name"], "rd0"
                        rcols.append(("rd0", "int"))
                        rpk0 = TABLES[right]["pk"][0]
                        st["right_pred"] = f"{rpk0} % 23 <= {r.randint(0, 2)}"
                        # null-safe equality: NULL keys MATCH each other
                        # (Spark <=> vs SQL IS NOT DISTINCT FROM) — only
                        # here, where the sampled right side bounds the
                        # null-group cross product
                        if jt in ("inner", "left") and r.random() < 0.4:
                            st["nullsafe"] = True
                if r.random() < 0.5:
                    extra = self.predicate(right, rcols)
                    st["right_pred"] = (extra if st["right_pred"] is None
                                        else f"({st['right_pred']}) AND ({extra})")
                stages.append(st)
                joined = True
                if jt in ("inner", "left", "right", "full"):
                    cols += rcols
                    # (left-pk, right-pk) is a total order only if the
                    # LEFT side has one — each left row pairs with each
                    # distinct right pk at most once
                    pk = pk + list(TABLES[right]["pk"]) if pk else []
                    # two-hop chain (e.g. lineitem→orders→customer):
                    # second join on the first right table's own FK
                    edges2 = [e for e in FK_JOINS if e[0] == right]
                    if edges2 and r.random() < 0.4:
                        _, r2, lk2, rk2 = r.choice(edges2)
                        jt2 = r.choice(JOIN_TYPES)
                        st2: dict = {"op": "join", "type": jt2, "right": r2,
                                     "lk": lk2, "rk": rk2,
                                     "right_derive": None, "right_pred": None}
                        r2cols = list(TABLES[r2]["cols"].items())
                        if r.random() < 0.5:
                            st2["right_pred"] = self.predicate(r2, r2cols)
                        stages.append(st2)
                        if jt2 in ("inner", "left", "right", "full"):
                            cols += r2cols
                            pk = pk + list(TABLES[r2]["pk"]) if pk else []
                # semi/anti keep left columns only

        if r.random() < 0.5 and stages and stages[-1]["op"] == "join":
            stages.append({"op": "filter", "pred": self.predicate(base, cols)})

        term_kind = r.choices(
            ["agg", "window", "distinct", "sortlimit"],
            weights=[40, 25, 20, 15 if not joined else 8],
        )[0]
        return {"base": base, "stages": stages,
                "terminal": getattr(self, f"term_{term_kind}")(base, cols, pk, joined)}

    def term_agg(self, base, cols, pk, joined) -> dict:
        r = self.r
        keyable = [c for c in cols if c[1] in ("int", "str")]
        keys = [c[0] for c in r.sample(keyable, min(len(keyable), r.randint(0, 2)))]
        aggs = []
        for i in range(r.randint(1, 3)):
            name, kind = r.choice(cols)
            fn = r.choice({
                "int": ["count_star", "count", "count_distinct", "min", "max", "sum_int"],
                "dbl": ["count", "min", "max", "sum_dbl"],
                "str": ["count", "count_distinct", "min", "max"],
                "ts": ["count", "min", "max"],
            }[kind])
            aggs.append({"fn": fn, "col": name, "alias": f"a{i}"})
        # GROUP BY ROLLUP/CUBE variants (grouped-null rows are identical
        # multisets in both engines, even over NULL-heavy keys)
        grouping = "plain"
        if keys and r.random() < 0.3:
            grouping = r.choice(["rollup", "cube"])
        # HAVING on an integer-valued aggregate, rendered as an outer
        # WHERE over the agg subquery on both sides
        having = None
        intish = [a["alias"] for a in aggs
                  if a["fn"] in ("count_star", "count", "count_distinct", "sum_int")]
        if intish and r.random() < 0.35:
            having = f"{r.choice(intish)} {r.choice(['>', '>=', '<'])} {r.randint(1, 20)}"
        return {"op": "agg", "keys": keys, "aggs": aggs,
                "grouping": grouping, "having": having}

    def term_window(self, base, cols, pk, joined) -> dict:
        r = self.r
        partable = [c[0] for c in cols if c[1] in ("int", "str")]
        part = r.sample(partable, min(len(partable), r.randint(1, 2)))
        have_total_order = bool(pk) and all(any(c[0] == p for c in cols) for p in pk)
        # percent_rank/cume_dist are tie-deterministic BY VALUE like
        # rank, so any order column works; ntile needs a total order
        fns = ["rank", "dense_rank", "cnt", "sum_int", "max_int",
               "percent_rank", "cume_dist"]
        if have_total_order:
            # frame variants need a total order to be deterministic
            fns += ["row_number", "lag", "sum_run", "sum_slide",
                    "first_val", "last_val", "ntile"]
        fn = r.choice(fns)
        ints = [c[0] for c in cols if c[1] == "int"]
        spec = {"op": "window", "part": part, "fn": fn, "alias": "w0",
                "order": [], "arg": r.choice(ints) if ints else None,
                "keep": sorted(set(part + r.sample([c[0] for c in cols],
                                                   min(len(cols), 2)))),
                "topk": None}
        # explicit NULLS FIRST/LAST everywhere: Spark defaults to
        # ASC→nulls-first while DuckDB defaults to nulls-last
        if fn in ("rank", "dense_rank", "percent_rank", "cume_dist"):
            oc, ok = r.choice(cols)
            spec["order"] = [[oc, r.choice(["ASC", "DESC"]), r.choice(["FIRST", "LAST"])]]
            if fn in ("rank", "dense_rank") and r.random() < 0.5:
                spec["topk"] = r.randint(1, 5)
        elif fn in ("row_number", "lag", "sum_run", "sum_slide",
                    "first_val", "last_val", "ntile"):
            spec["order"] = [[p, "ASC", "LAST"] for p in pk]  # total order
            if fn == "row_number" and r.random() < 0.5:
                spec["topk"] = r.randint(1, 5)
            if fn == "sum_slide":
                spec["frame_n"] = r.randint(1, 4)  # N PRECEDING..CURRENT
            if fn == "ntile":
                spec["ntile_n"] = r.randint(2, 7)
        if fn in ("sum_int", "max_int", "lag", "sum_run", "sum_slide",
                  "first_val", "last_val") and spec["arg"] is None:
            spec["fn"] = "cnt"
        return spec

    def term_distinct(self, base, cols, pk, joined) -> dict:
        picks = self.r.sample(cols, min(len(cols), self.r.randint(1, 3)))
        return {"op": "distinct", "cols": sorted(c[0] for c in picks)}

    def term_sortlimit(self, base, cols, pk, joined) -> dict:
        r = self.r
        oc, _ = r.choice(cols)
        have_pk = bool(pk) and all(any(c[0] == p for c in cols) for p in pk)
        order = [[oc, r.choice(["ASC", "DESC"]), r.choice(["FIRST", "LAST"])]]
        if have_pk:
            order += [[p, "ASC", "LAST"] for p in pk if p != oc]
        else:
            # no total order available → degrade to distinct (deterministic)
            return self.term_distinct(base, cols, pk, joined)
        keep = sorted({c[0] for c in r.sample(cols, min(len(cols), 3))} | set(pk) | {oc})
        return {"op": "sortlimit", "cols": keep, "order": order,
                "limit": r.randint(1, 50)}

    def selfjoin_pipeline(self) -> dict:
        """Aliased self-join (the dedup pair-join shape): both sides are
        the SAME table joined on a shared-modulus derived key with the
        pk< pk orientation, then aggregated/deduped. Restricted to the
        small tables so |t|²/k stays bounded."""
        r = self.r
        base = r.choice(["customer", "supplier", "part", "documents", "events"])
        meta = TABLES[base]
        pk = meta["pk"][0]
        ints = [c for c, k in meta["cols"].items() if k == "int"]
        k = r.randint(200, 999)
        key = r.choice(ints)
        keep = r.choice([c for c, kk in meta["cols"].items() if kk in ("int", "str")])
        term = r.choice(["agg", "distinct"])
        return {"kind": "selfjoin", "base": base, "pk": pk, "key": key,
                "mod": k, "keep": keep, "term": term,
                "pred": self.predicate(base, list(meta["cols"].items())),
                "stages": [], "terminal": {"op": f"selfjoin_{term}"}}

    # low-cardinality string columns with a known domain (probed from
    # the data at fuzz start would be nicer, but a fixed safe domain
    # keeps specs reproducible across SFs: missing values yield NULL
    # columns in BOTH engines)
    PIVOTABLE = {
        "lineitem": ("l_returnflag", ["A", "N", "R"]),
        "orders": ("o_orderstatus", ["O", "F", "P"]),
    }

    def pivot_pipeline(self) -> dict:
        r = self.r
        base = r.choice(list(self.PIVOTABLE))
        pc, domain = self.PIVOTABLE[base]
        cols = list(TABLES[base]["cols"].items())
        keyables = [c for c, k in cols if k in ("int", "str") and c != pc]
        ints = [c for c, k in cols if k == "int"]
        return {"kind": "pivot", "base": base, "pivot_col": pc,
                "values": domain, "key": r.choice(keyables),
                "agg_col": r.choice(ints),
                # sum/min only: both are NULL for an empty pivot cell in
                # BOTH engines; COUNT would be 0 in conditional-agg SQL
                # but NULL in Spark's pivot
                "agg": r.choice(["sum", "min"]),
                "pred": self.predicate(base, cols),
                "stages": [], "terminal": {"op": "pivot"}}

    def unpivot_pipeline(self) -> dict:
        """Wide→long melt: 2-3 same-kind numeric columns unpivoted to
        (id, name, val); oracle = UNION ALL branches (portable)."""
        r = self.r
        # the id is only a payload column (the compare is multiset) —
        # no uniqueness needed, so orderless lineitem qualifies too
        candidates = []
        for tname, meta in TABLES.items():
            ints = [c for c, k in meta["cols"].items() if k == "int"]
            if not ints:
                continue
            for kind in ("int", "dbl"):
                ks = [c for c, k in meta["cols"].items()
                      if k == kind and c != ints[0]]
                if len(ks) >= 2:
                    candidates.append((tname, ints[0], ks))
        tname, idc, ks = r.choice(candidates)
        cols = r.sample(ks, min(len(ks), r.randint(2, 3)))
        return {"kind": "unpivot", "base": tname, "id": idc,
                "cols": sorted(cols),
                "pred": self.predicate(tname, list(TABLES[tname]["cols"].items())),
                "stages": [], "terminal": {"op": "unpivot"}}

    # -- r6 blind-spot shapes ---------------------------------------------

    def asof_pipeline(self) -> dict:
        """Nearest-earlier join (operators.joins.asof_join) vs DuckDB's
        native ASOF [LEFT] JOIN: events to per-(custkey, orderdate)
        aggregated orders. The right side is pre-aggregated to be unique
        per (key, ts) so the carried value is deterministic."""
        r = self.r
        ev_cols = list(TABLES["events"]["cols"].items())
        o_cols = list(TABLES["orders"]["cols"].items())
        return {"kind": "asof", "base": "events", "stages": [],
                "left_pred": self.predicate("events", ev_cols) if r.random() < 0.7 else None,
                "right_pred": self.predicate("orders", o_cols) if r.random() < 0.6 else None,
                "agg": r.choice(["max", "min"]),
                "how": r.choice(["inner", "left"]),
                "term": r.choice(["rows", "agg"]),
                "terminal": {"op": "asof"}}

    def range_pipeline(self) -> dict:
        """Bucketized interval self-join over events (operators.joins.
        range_join) vs a plain BETWEEN theta join in DuckDB: events
        following each event within N minutes, optional same-user
        restriction."""
        r = self.r
        ev_cols = list(TABLES["events"]["cols"].items())
        return {"kind": "range", "base": "events", "stages": [],
                "minutes": r.randint(1, 10),
                "pred_a": self.predicate("events", ev_cols) if r.random() < 0.6 else None,
                "pred_b": self.predicate("events", ev_cols) if r.random() < 0.6 else None,
                "same_user": r.random() < 0.4,
                "terminal": {"op": "range"}}

    RANGE_FRAME_TABLES = [
        ("orders", "o_totalprice", "o_orderkey"),
        ("customer", "c_acctbal", "c_custkey"),
        ("part", "p_retailprice", "p_partkey"),
        ("supplier", "s_acctbal", "s_suppkey"),
    ]

    def rangeframe_pipeline(self) -> dict:
        """operators.windows.global_range_frame (bin-partitioned global
        value-range frame, r9) vs the native RANGE window: random
        numeric order column, random integral frame including the
        current row, random bin widening, all four aggregates. The sum
        path rides the decimal(38,6) recipe so float accumulation order
        cannot drift the hash."""
        r = self.r
        base, order, pk = r.choice(self.RANGE_FRAME_TABLES)
        style = r.choice(["incl", "incl", "lead", "trail"])
        if style == "incl":  # frame includes the current row
            lower = -r.choice([0, 1, 10, 100, 1000])
            upper = r.choice([0, 1, 10, 100, 1000])
            if lower == 0 and upper == 0:
                upper = 100
        else:  # frame EXCLUDES the current row (r9 item 5: third probe kind)
            a = r.choice([1, 10, 100, 500])
            b = a + r.choice([1, 10, 100, 1000])
            lower, upper = (a, b) if style == "lead" else (-b, -a)
        cols = list(TABLES[base]["cols"].items())
        return {"kind": "rangeframe", "base": base, "stages": [],
                "order": order, "pk": pk,
                "lower": lower, "upper": upper,
                "agg": r.choice(["count", "sum", "min", "max", "avg"]),
                "widen": r.choice([None, 2.0, 5.0]),
                "pred": self.predicate(base, cols) if r.random() < 0.6 else None,
                "terminal": {"op": "rangeframe"}}

    def theta_pipeline(self) -> dict:
        """Equi + inequality join (hash-joinable: Catalyst keeps the
        equality as the join key, the inequality as a residual): either
        supplier x customer on nationkey, or a part self-join on brand."""
        r = self.r
        op = r.choice(["<", ">", "<=", ">="])
        if r.random() < 0.5:
            return {"kind": "theta", "base": "supplier", "stages": [],
                    "variant": "supcust", "ineq": op,
                    "pred_a": self.predicate("supplier", list(TABLES["supplier"]["cols"].items())),
                    "pred_b": self.predicate("customer", list(TABLES["customer"]["cols"].items())),
                    "terminal": {"op": "theta"}}
        return {"kind": "theta", "base": "part", "stages": [],
                "variant": "partself", "ineq": r.choice(["<", ">"]),
                "pred_a": self.predicate("part", list(TABLES["part"]["cols"].items())),
                "pred_b": self.predicate("part", list(TABLES["part"]["cols"].items())),
                "terminal": {"op": "theta"}}

    # parent table <- child table FK pairs for correlated subqueries
    PARENT_CHILD = [
        ("customer", "orders", "c_custkey", "o_custkey"),
        ("orders", "lineitem", "o_orderkey", "l_orderkey"),
        ("customer", "events", "c_custkey", "user_id"),
        ("part", "lineitem", "p_partkey", "l_partkey"),
        ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
    ]

    def subq_pipeline(self) -> dict:
        """Scalar subqueries. Correlated modes render as real correlated
        SQL for DuckDB while the Spark side DECORRELATES them (child agg
        by FK + left join + coalesce/null filter) — the differential
        proves the decorrelation equivalent, incl. the empty-group
        COUNT()=0 and MAX()=NULL corners. The uncorrelated mode joins a
        one-row aggregate on a literal key (BroadcastHashJoin, never a
        cartesian)."""
        r = self.r
        mode = r.choice(["count", "minmax", "scalar"])
        if mode == "scalar":
            t1, t2 = r.sample(list(TABLES), 2)
            ints1 = [c for c, k in TABLES[t1]["cols"].items() if k == "int"]
            ints2 = [c for c, k in TABLES[t2]["cols"].items() if k == "int"]
            return {"kind": "subq", "base": t1, "stages": [], "mode": "scalar",
                    "col": r.choice(ints1), "k": r.randint(3, 50),
                    "inner_table": t2, "inner_col": r.choice(ints2),
                    "inner_fn": r.choice(["max", "min"]),
                    "pred": self.predicate(t1, list(TABLES[t1]["cols"].items())),
                    "inner_pred": self.predicate(t2, list(TABLES[t2]["cols"].items())),
                    "terminal": {"op": "subq"}}
        parent, child, pk, fk = r.choice(self.PARENT_CHILD)
        pcols = list(TABLES[parent]["cols"].items())
        ccols = list(TABLES[child]["cols"].items())
        keep = r.choice([c for c, _ in pcols if c != pk])
        spec = {"kind": "subq", "base": parent, "stages": [], "mode": mode,
                "child": child, "pk": pk, "fk": fk, "keep": keep,
                "child_pred": self.predicate(child, ccols) if r.random() < 0.7 else None,
                "parent_pred": self.predicate(parent, pcols) if r.random() < 0.4 else None,
                "terminal": {"op": "subq"}}
        if mode == "count":
            spec["cmp"] = r.choice([">=", "=", "<"])
            spec["n"] = r.randint(1, 5)
        else:  # minmax over a child int column
            cints = [c for c, k in ccols if k == "int"]
            spec["fn"] = r.choice(["max", "min"])
            spec["agg_col"] = r.choice(cints)
            spec["cmp"] = r.choice([">", "<="])
            spec["lit"] = self._lit(child, spec["agg_col"], "int")
        return spec

    def cte_pipeline(self) -> dict:
        """Multi-reference CTE chain: WITH a AS (filtered base), g AS
        (group counts over a) SELECT ... FROM a JOIN g — `a` referenced
        twice, `g` built from `a`. The Spark side reuses one DataFrame
        for both references (plan-level common subtree)."""
        r = self.r
        base = r.choice(list(TABLES))
        cols = list(TABLES[base]["cols"].items())
        ints = [c for c, k in cols if k == "int"]
        strs = [c for c, k in cols if k == "str"]
        c = r.choice(ints)
        k = r.randint(3, 50)
        kexpr = r.choice([
            f"{c} % {k}",
            f"nullif({c} % {k}, {r.randint(0, k - 1)})",
        ] + ([f"substr({r.choice(strs)}, 1, 1)"] if strs else []))
        return {"kind": "cte", "base": base, "stages": [],
                "kexpr": kexpr, "keep": r.choice([cc for cc, _ in cols]),
                "pred": self.predicate(base, cols),
                "having": (r.choice([">=", "<"]), r.randint(2, 30)) if r.random() < 0.6 else None,
                "terminal": {"op": "cte"}}

    # tables safe for a row-level (non-aggregated) explode terminal
    EXPLODE_FLAT_OK = ["customer", "supplier", "part", "documents", "events"]

    def explode_pipeline(self) -> dict:
        """UDTF-shaped terminal: split a string column and explode the
        tokens (Spark explode+split vs DuckDB unnest+string_split —
        verified to agree on empty strings, consecutive separators, and
        NULL inputs)."""
        r = self.r
        candidates = [(t, c) for t, meta in TABLES.items()
                      for c, k in meta["cols"].items() if k == "str"]
        base, col = r.choice(candidates)
        term = "group"
        if base in self.EXPLODE_FLAT_OK and r.random() < 0.4:
            term = "flat"
        ints = [c for c, k in TABLES[base]["cols"].items() if k == "int"]
        return {"kind": "explode", "base": base, "stages": [],
                "col": col, "sep": r.choice("aeiorstn"),
                "pred": self.predicate(base, list(TABLES[base]["cols"].items()))
                        if r.random() < 0.6 else None,
                "nonempty": r.random() < 0.3,  # filter '' tokens
                "term": term, "id": r.choice(ints),
                "terminal": {"op": "explode"}}

    # (table, ts col, group cols, gap unit, gap range)
    SESSIONABLE = [
        ("events", "ts", ["user_id", "event_type"], "MINUTE", (5, 120)),
        ("orders", "o_orderdate", ["o_custkey", "o_orderpriority"], "DAY", (1, 7)),
    ]

    def session_pipeline(self) -> dict:
        """Gap-based session windows: Spark F.session_window vs the
        LAG/flag/cumsum sessionization SQL (suite/windows.py oracle
        shape). An event at EXACTLY last+gap still MERGES into the
        session (verified empirically: Spark merges whenever
        next.ts <= prev.ts + gap), so the oracle splits only on
        strict `> gap`. The orders/DAY variant hits this boundary
        constantly (date-granularity timestamps); the ns-precision
        events never do — which is how the suite's `>=` oracle
        passed until this fuzzer shape caught it."""
        r = self.r
        tbl, ts, groups, unit, (lo, hi) = r.choice(self.SESSIONABLE)
        return {"kind": "session", "base": tbl, "stages": [],
                "ts": ts, "group": r.choice(groups), "unit": unit,
                "gap": r.randint(lo, hi),
                "pred": self.predicate(tbl, list(TABLES[tbl]["cols"].items()))
                        if r.random() < 0.6 else None,
                "terminal": {"op": "session"}}

    # (num_hashes, bands) combinations with 2 or 4 rows per band
    MINHASH_PARAMS = [(16, 4), (16, 8), (32, 8), (32, 16), (64, 16), (64, 32)]

    def minhash_pipeline(self) -> dict:
        """Parameterized MinHash-LSH differential: random (num_hashes,
        bands, shingle_k, input filter) through the engine's md5-portable
        candidate generation vs the full pipeline recomputed in SQL —
        the fixed suite pins one parameter point (64/16/3); this covers
        the parameter space."""
        r = self.r
        h, b = r.choice(self.MINHASH_PARAMS)
        # 40%: the INCREMENTAL path — a random modulus split carves the
        # corpus into new batch vs band store; the engine runs
        # minhash_bands on each side + incremental_candidate_pairs,
        # the oracle computes the FULL band table and keeps the
        # new-touching pairs (the incremental path's defining property)
        split = None
        if r.random() < 0.4:
            m = r.randint(2, 4)
            split = (m, r.randrange(m))
        return {"kind": "minhash", "base": "documents", "stages": [],
                "h": h, "b": b, "k": r.randint(2, 4), "split": split,
                "pred": self.predicate("documents", list(TABLES["documents"]["cols"].items()))
                        if r.random() < 0.5 else None,
                "terminal": {"op": "minhash"}}

    def ivf_pipeline(self) -> dict:
        """Parameterized exact-mode IVF ANN differential: random
        (nlist, nprobe, k, train_sample, query count) through the
        engine's trained coarse quantizer vs the suite's parameterized
        SQL oracle, which replays TRAINING (md5-ordered sample +
        fixed-point Lloyd) as well as search — fuzzing the one
        trained-model operator family. 40% of specs assign the corpus
        through two separate frozen-quantizer ivf_add batches (the
        incremental index path) instead of the one-shot pipeline."""
        r = self.r
        return {"kind": "ivf", "base": "embeddings", "stages": [],
                "nlist": r.choice([4, 8, 16]),
                "nprobe": r.randint(1, 4),
                "k": r.choice([3, 5, 8]),
                "n_train": r.choice([128, 256]),
                "n_query": r.choice([3, 5, 8]),
                "incremental": r.random() < 0.4,
                # magnitude dimension (r8): powers of two, restricted
                # to the range where every vector's fixed-point norm
                # stays > 0 — ANN ranking of a zero-norm vector is
                # NULL-vs-NaN engine-divergent by IEEE/SQL design, and
                # the zero-norm EXCLUSION contract is semdedup's (its
                # fuzz shape covers the sub-resolution region)
                "scale_pow": r.choice([0, 0, 0, -10, -17]),
                "terminal": {"op": "ivf"}}

    def pq_pipeline(self) -> dict:
        """Parameterized PQ-ADC ANN differential: random (m_sub, ksub,
        train_iters, train_sample, k, query count) through the exact
        per-subspace Lloyd trainer + map-only encoder + distance-table
        search vs the suite's parameterized SQL oracle, which replays
        TRAINING and ENCODING as well as the ADC scoring. 40% of specs
        encode the corpus as two separate frozen-codebook batches (the
        incremental code-store path) instead of the one-shot pipeline."""
        r = self.r
        return {"kind": "pq", "base": "embeddings", "stages": [],
                "m_sub": r.choice([8, 16, 32]),
                "ksub": r.choice([8, 16, 32]),
                "train_iters": r.choice([1, 2]),
                "n_train": r.choice([128, 256]),
                "k": r.choice([3, 5, 8]),
                "n_query": r.choice([3, 5, 8]),
                "incremental": r.random() < 0.4,
                # same norm-safe magnitude range as the ivf kind; PQ
                # unit-normalizes before encoding, so these powers also
                # probe that the normalization really is magnitude-proof
                "scale_pow": r.choice([0, 0, 0, -10, -17]),
                "terminal": {"op": "pq"}}

    def ivfpq_pipeline(self) -> dict:
        """Composed-index differential: random IVF (nlist, nprobe) ×
        PQ (m_sub, ksub) geometry through cosine_topk_ivfpq vs the
        composed SQL oracle (both Lloyd replays + candidate join + ADC
        scoring). 40% of specs build the store in two frozen-model
        ivfpq_add batches."""
        r = self.r
        return {"kind": "ivfpq", "base": "embeddings", "stages": [],
                "nlist": r.choice([4, 8]),
                "nprobe": r.randint(1, 4),
                "m_sub": r.choice([8, 16, 32]),
                "ksub": r.choice([8, 16]),
                "train_iters": r.choice([1, 2]),
                "n_train": r.choice([128, 256]),
                "k": r.choice([3, 5, 8]),
                "n_query": r.choice([3, 5]),
                "incremental": r.random() < 0.4,
                "scale_pow": r.choice([0, 0, 0, -10, -17]),
                "terminal": {"op": "ivfpq"}}

    def ngram_pipeline(self) -> dict:
        """Parameterized exact n-gram Jaccard differential: random
        (shingle_k, threshold, hot-shingle cap, input filter) through
        the postings-explode engine vs the all-pairs SQL oracle."""
        r = self.r
        return {"kind": "ngram", "base": "documents", "stages": [],
                "k": r.randint(2, 4),
                "threshold": r.choice([0.5, 0.6, 0.7, 0.8, 0.9]),
                "maxdf": r.choice([20, 50, 100]),
                "pred": self.predicate("documents", list(TABLES["documents"]["cols"].items()))
                        if r.random() < 0.5 else None,
                "terminal": {"op": "ngram"}}

    def spans_pipeline(self) -> dict:
        """Parameterized exact-substring span dedup differential
        (r11): random (min_tokens, cut?, input filter) through
        duplicated_spans / cut_spans vs the gram+islands SQL oracle —
        the suite pins one point (L=8, full corpus); this covers the
        L space and the detect-vs-cut composition."""
        r = self.r
        return {"kind": "spans", "base": "documents", "stages": [],
                "L": r.choice([3, 5, 8, 12]),
                "cut": r.random() < 0.4,
                # r12: incremental sub — corpus split (m, j), the new
                # batch = doc_id % m == j; the Spark side goes through
                # the gram/count stores + merge_span_tables while the
                # oracle stays the from-scratch SQL (the defining
                # incremental == from-scratch equivalence, randomized)
                "split": ((r.choice([3, 4, 5]), 0)
                          if r.random() < 0.35 else None),
                "pred": self.predicate("documents", list(TABLES["documents"]["cols"].items()))
                        if r.random() < 0.5 else None,
                "terminal": {"op": "spans"}}

    def packing_pipeline(self) -> dict:
        """Parameterized packing/chunking/split differential (VERDICT
        r6 item 6): random parameters through `llm.packing` vs the
        parameterized md5-portable SQL oracles — the fixed suite pins
        one parameter point each (256/8 pack, 64/16 chunk, 80/10/10
        split); this covers the space. All three sub-ops are state
        machines or hash partitions whose bugs are parameter-dependent
        (budget boundary off-by-one, stride arithmetic, cumulative
        fraction edges), exactly what a single pinned point misses."""
        r = self.r
        sub = r.choice(["pack", "chunk", "split", "shuffle", "budget", "wsample"])
        pred = (self.predicate("documents",
                               list(TABLES["documents"]["cols"].items()))
                if r.random() < 0.5 else None)
        spec = {"kind": "packing", "base": "documents", "stages": [],
                "sub": sub, "pred": pred, "terminal": {"op": "packing"}}
        if sub == "wsample":
            # weighted sampling incl. the r11 renormalization chain:
            # random target fraction × weight skew (n_chars^p — p=3
            # makes the cap bind) × iteration count × salt
            spec["tf"] = r.choice([0.2, 0.3, 0.4, 0.6])
            spec["wpow"] = r.choice([1, 2, 3])
            spec["iters"] = r.choice([0, 1, 2, 3])
            spec["salt"] = r.choice(["wsample", "wz1"])
            return spec
        if sub == "pack":
            spec["max_tokens"] = r.choice([96, 128, 256, 512])
            spec["num_shards"] = r.choice([4, 8])
        elif sub == "shuffle":
            spec["num_shards"] = r.choice([2, 4, 8, 16])
            spec["salt"] = r.choice(["shuffle", "ep1", "ep2"])
        elif sub == "budget":
            spec["budget"] = r.choice([2000, 8000, 24000, 80000])
            spec["num_shards"] = r.choice([2, 4, 8])
            spec["salt"] = r.choice(["budget", "b1"])
        elif sub == "chunk":
            ct = r.choice([32, 48, 64, 96])
            spec["chunk_tokens"] = ct
            spec["overlap"] = r.choice([0, ct // 4, ct // 2 - 1])
        else:
            c1 = r.choice([60, 70, 80, 90])
            c2 = r.choice([c1 + (100 - c1) // 3, c1 + (100 - c1) // 2])
            spec["cuts"] = (c1, c2)  # percent boundaries train/valid/test
            spec["salt"] = r.choice(["split", "fz", "s1"])
        return spec

    #: corpus-frequent words the BM25 fuzz queries draw from (probed
    #: from the synthetic documents tables; rare misses are fine — a
    #: term matching nothing scores nothing in both engines)
    QUERY_WORDS = ("hash", "join", "row", "batch", "scan", "customer",
                   "column", "filter", "small", "slow", "merge", "order",
                   "vector", "line", "data", "key", "agg", "table")

    def retrieval_pipeline(self) -> dict:
        """Parameterized lexical-retrieval differential: random BM25
        query sets / top_k (rational-idf fixed-point scoring) or
        random TF-IDF top_n through llm.retrieval vs the parameterized
        suite oracles — the fixed suite pins one point each
        (3 queries/k=10; top_n=3)."""
        r = self.r
        if r.random() < 0.6:
            queries = [
                (qid, " ".join(r.sample(self.QUERY_WORDS, r.randint(1, 3))))
                for qid in range(r.randint(1, 4))
            ]
            return {"kind": "retrieval", "base": "documents", "stages": [],
                    "sub": "bm25", "queries": queries,
                    "top_k": r.choice([3, 5, 10, 20]),
                    "terminal": {"op": "retrieval"}}
        return {"kind": "retrieval", "base": "documents", "stages": [],
                "sub": "tfidf", "top_n": r.randint(1, 5),
                "terminal": {"op": "retrieval"}}

    def bloom_pipeline(self) -> dict:
        """Parameterized bloom-decontamination differential: random
        (m_bits, k_hashes, shingle_k, threshold, eval split) through
        llm.dedup.bloom_decontaminate vs the parameterized oracle —
        filter construction AND probing replayed. Small m values
        deliberately saturate the filter (all-maybe); large ones
        collapse to the exact op — both edges covered."""
        r = self.r
        src = r.randint(0, 3)
        return {"kind": "bloom", "base": "documents", "stages": [],
                "m_bits": r.choice([512, 4096, 65536, 1 << 20]),
                "k_hashes": r.randint(1, 6),
                "shingle_k": r.randint(2, 4),
                "threshold": r.choice([0.3, 0.5, 0.7]),
                "eval_src": f"src{src}",
                "terminal": {"op": "bloom"}}

    def semdedup_pipeline(self) -> dict:
        """Parameterized semantic-dedup differential: random (nlist,
        threshold, train_sample) through semantic_dedup_pairs
        (exact mode) vs the Lloyd-replay + within-cell-cosine oracle —
        fuzzing clustering granularity and the threshold edge.

        ``scale_pow`` (r8, from the r7 ADVICE small-magnitude finding)
        multiplies every embedding by 2^p on BOTH sides — exact in
        binary, so the transform itself cannot diverge. p=-17 puts
        per-element fixed-point products at ~10³ quantization units
        (the coarse region where the old fixed 1e-6 prefilter margin
        silently dropped true pairs — the per-pair margin must hold);
        p=-24 pushes every vector below the 1e-7 fixed-point
        resolution, exercising the zero-norm exclusion on both engines
        (result must be EMPTY, not NULL-vs-NaN divergent)."""
        r = self.r
        return {"kind": "semdedup", "base": "embeddings", "stages": [],
                "nlist": r.choice([4, 8, 16, 32]),
                "threshold": r.choice([0.0, 0.2, 0.4, 0.5]),
                "n_train": r.choice([128, 256]),
                "scale_pow": r.choice([0, 0, 0, -10, -17, -20, -24]),
                "terminal": {"op": "semdedup"}}

    #: language codes available for marker-subset language-ID specs —
    #: must be keys of llm.text.LANG_MARKERS (asserted in to_spark)
    LANGS = ("de", "en", "es", "fr", "zh")

    def textops_pipeline(self) -> dict:
        """Text-analysis differentials: random quality-filter
        thresholds, language-ID marker subsets, and token/char stat
        projections (per-doc or grouped by lang) over documents. The
        fixed suite pins one parameter point each
        (q_text_filter_quality, q_text_langid, q_text_stats); this
        covers the parameter space. All ratio comparisons are
        int-over-int double divisions — bit-identical across engines —
        and emitted columns are int/bigint/string only (the harness
        demands float bit-exactness)."""
        r = self.r
        term = r.choice(["quality", "langid", "stats"])
        spec: dict = {
            "kind": "textops", "base": "documents", "stages": [],
            "term": term, "terminal": {"op": f"text_{term}"},
            "pred": self.predicate(
                "documents", list(TABLES["documents"]["cols"].items()))
            if r.random() < 0.4 else None,
        }
        if term == "quality":
            spec.update(
                min_chars=r.choice([0, 20, 50, 120]),
                max_chars=r.choice([400, 1500, 100_000]),
                min_tokens=r.choice([0, 5, 12, 40]),
                max_symbol_ratio=round(r.uniform(0.02, 0.4), 3),
                min_uniq=round(r.uniform(0.0, 0.7), 3),
            )
        elif term == "langid":
            k = r.randint(2, len(self.LANGS))
            spec["langs"] = sorted(r.sample(self.LANGS, k))
        else:
            feats = r.sample(
                ["n_chars_m", "n_tokens_ws", "n_uniq_tokens", "n_tokens_bpe"],
                r.randint(1, 3))
            spec["feats"] = sorted(feats)
            spec["grouped"] = r.random() < 0.5
        return spec

    #: observed event_type domain of the synthetic events table
    EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

    def funnel_pipeline(self) -> dict:
        """Event-analytics differentials: random ordered-funnel step
        sequences (2-4 of the 5 event types, repeats allowed — a
        repeated step means 'the SAME type again, strictly later')
        through operators.events.funnel_counts, or cohort retention at
        random granularity, each vs a generalized SQL oracle. The
        fixed suite pins one funnel (signup→view→purchase) and weekly
        retention; this covers the space."""
        r = self.r
        cols = list(TABLES["events"]["cols"].items())
        spec: dict = {
            "kind": "funnel", "base": "events", "stages": [],
            "pred": self.predicate("events", cols) if r.random() < 0.4 else None,
        }
        if r.random() < 0.6:
            n = r.randint(2, 4)
            spec["steps"] = [r.choice(self.EVENT_TYPES) for _ in range(n)]
            spec["terminal"] = {"op": "funnel"}
        else:
            spec["granularity"] = r.choice(["day", "week"])
            spec["terminal"] = {"op": "retention"}
        return spec

    def dq_pipeline(self) -> dict:
        """Data-quality check differentials: a random check
        (row_count / null / unique / range) with random thresholds over
        a random (optionally filtered) table, run through the PRODUCT
        check objects (quality.checks — metric_df + evaluate), the
        (passed, metric) pair compared against the same metric
        recomputed in SQL. Filters make EMPTY inputs reachable — the
        shape that caught the ANSI DIVIDE_BY_ZERO in null_check."""
        r = self.r
        base = r.choice(list(TABLES))
        cols = list(TABLES[base]["cols"].items())
        check = r.choice(["row_count", "null", "unique", "range"])
        spec: dict = {
            "kind": "dq", "base": base, "stages": [], "check": check,
            "terminal": {"op": f"dq_{check}"},
            "pred": self.predicate(base, cols) if r.random() < 0.5 else None,
        }
        if check == "row_count":
            spec["min_rows"] = r.choice([0, 10, 1000, 1_000_000])
        elif check == "null":
            spec["col"] = r.choice(cols)[0]
            spec["max_null_pct"] = r.choice([0.0, 0.5, 5.0, 50.0])
        elif check == "unique":
            spec["cols"] = sorted(
                c for c, _ in r.sample(cols, r.randint(1, 2)))
        else:
            nums = [c for c in cols if c[1] in ("int", "dbl")]
            name, kind = r.choice(nums)
            spec["col"] = name
            # floats on BOTH sides (check param and SQL literal) so the
            # comparison semantics are identical across engines
            lo = float(self._lit(base, name, kind)) if r.random() < 0.8 else None
            hi = float(self._lit(base, name, kind)) if r.random() < 0.8 else None
            if lo is None and hi is None:
                lo = float(self._lit(base, name, kind))
            spec["min_value"], spec["max_value"] = lo, hi
        return spec

    def setop_pipeline(self) -> dict:
        r = self.r
        op = r.choice(["union_all", "intersect", "intersect_all", "except", "except_all"])
        if r.random() < 0.35:
            # cross-table: one same-kind column from each side, aliased
            # to a common name (schema compatibility by position/name)
            t1, t2 = r.sample(list(TABLES), 2)
            kind = r.choice(["int", "str"])
            c1s = [c for c, k in TABLES[t1]["cols"].items() if k == kind]
            c2s = [c for c, k in TABLES[t2]["cols"].items() if k == kind]
            if c1s and c2s:
                return {"base": t1, "stages": [], "terminal": {
                    "op": "setop2", "kind": op, "alias": "k",
                    "a": {"table": t1, "col": r.choice(c1s),
                          "pred": self.predicate(t1, list(TABLES[t1]["cols"].items()))},
                    "b": {"table": t2, "col": r.choice(c2s),
                          "pred": self.predicate(t2, list(TABLES[t2]["cols"].items()))},
                }}
        base = r.choice(list(TABLES))
        cols = list(TABLES[base]["cols"].items())
        picks = sorted(c[0] for c in r.sample(cols, min(len(cols), r.randint(1, 3))))
        return {"base": base, "stages": [], "terminal": {
            "op": "setop", "kind": op, "cols": picks,
            "pred_a": self.predicate(base, cols),
            "pred_b": self.predicate(base, cols),
        }}


# ---------------------------------------------------------------------------
# Renderers — the SAME spec becomes a DataFrame plan and a DuckDB SQL string
# ---------------------------------------------------------------------------

AGG_SQL = {
    "count_star": lambda c: "COUNT(*)",
    "count": lambda c: f"COUNT({c})",
    "count_distinct": lambda c: f"COUNT(DISTINCT {c})",
    "min": lambda c: f"MIN({c})",
    "max": lambda c: f"MAX({c})",
    "sum_int": lambda c: f"CAST(SUM({c}) AS BIGINT)",
    "sum_dbl": lambda c: f"CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS DOUBLE)",
}


SETOP_KW = {"union_all": "UNION ALL", "intersect": "INTERSECT",
            "intersect_all": "INTERSECT ALL", "except": "EXCEPT",
            "except_all": "EXCEPT ALL"}


def _scale_embeddings_sql(sql: str, p: int) -> str:
    """Shadow the ``embeddings`` view with a 2^p-scaled copy (CTE
    shadows the unqualified name; the view stays reachable as
    main.embeddings) — the oracle half of the magnitude fuzz dimension.
    2^p multiplication is exact in binary, so the transform itself can
    never diverge across engines."""
    if not p:
        return sql
    scaled = (
        "WITH embeddings AS (SELECT * REPLACE (list_transform("
        f"embedding, x -> CAST(x AS DOUBLE) * {2.0 ** p!r}) AS "
        "embedding) FROM main.embeddings), "
    )
    return sql.replace("WITH ", scaled, 1)


def to_sql(spec: dict) -> str:
    t = spec["terminal"]
    if spec.get("kind") == "pivot":
        x, pc = spec["agg_col"], spec["pivot_col"]
        cells = []
        for v in spec["values"]:
            inner = f"CASE WHEN {pc} = '{v}' THEN {x} END"
            e = {"sum": f"CAST(SUM({inner}) AS BIGINT)",
                 "min": f"MIN({inner})"}[spec["agg"]]
            # unquoted alias: valid in BOTH dialects (the compare
            # lowercases column names, absorbing DuckDB's case folding)
            cells.append(f"{e} AS {v}")
        return (f"SELECT {spec['key']}, {', '.join(cells)} "
                f"FROM {spec['base']} WHERE {spec['pred']} GROUP BY {spec['key']}")
    if spec.get("kind") == "unpivot":
        branches = [
            f"SELECT {spec['id']} AS id, '{c}' AS name, {c} AS val "
            f"FROM {spec['base']} WHERE {spec['pred']}"
            for c in spec["cols"]
        ]
        return " UNION ALL ".join(branches)
    if spec.get("kind") == "selfjoin":
        pk, key, mod, keep = spec["pk"], spec["key"], spec["mod"], spec["keep"]
        pairs = (
            f"SELECT a.{pk} AS a_id, b.{pk} AS b_id, a.{keep} AS a_val "
            f"FROM (SELECT * FROM {spec['base']} WHERE {spec['pred']}) a "
            f"JOIN (SELECT * FROM {spec['base']} WHERE {spec['pred']}) b "
            f"ON a.{key} % {mod} = b.{key} % {mod} AND a.{pk} < b.{pk}"
        )
        if spec["term"] == "agg":
            return (f"SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, "
                    f"MIN(a_id) AS min_a FROM ({pairs}) p")
        return f"SELECT DISTINCT a_id, b_id, a_val FROM ({pairs}) p"
    if spec.get("kind") == "rangeframe":
        order, pk, agg = spec["order"], spec["pk"], spec["agg"]
        lo, hi = spec["lower"], spec["upper"]

        def _bound(x: int) -> str:
            if x == 0:
                return "CURRENT ROW"
            return f"{-x} PRECEDING" if x < 0 else f"{x} FOLLOWING"

        frame = f"ORDER BY {order} RANGE BETWEEN {_bound(lo)} AND {_bound(hi)}"
        if agg == "count":
            e = f"CAST(COUNT(*) OVER ({frame}) AS BIGINT)"
        elif agg == "sum":
            e = (f"CAST(SUM(CAST({order} AS DECIMAL(38,6))) "
                 f"OVER ({frame}) AS DOUBLE)")
        elif agg == "avg":
            # the engine's native-avg recipe: exact decimal sum, one
            # double division; empty frame (leading/trailing) -> NULL
            e = (f"CASE WHEN COUNT({order}) OVER ({frame}) > 0 THEN "
                 f"CAST(SUM(CAST({order} AS DECIMAL(38,6))) "
                 f"OVER ({frame}) AS DOUBLE) / COUNT({order}) OVER ({frame}) "
                 f"END")
        else:
            e = f"{agg.upper()}({order}) OVER ({frame})"
        src = spec["base"] + (f" WHERE {spec['pred']}" if spec["pred"] else "")
        return f"SELECT {pk} AS id, {order} AS v, {e} AS res FROM {src}"
    if spec.get("kind") == "asof":
        lsrc = "SELECT * FROM events" + (
            f" WHERE {spec['left_pred']}" if spec["left_pred"] else "")
        rsrc = ("SELECT o_custkey, o_orderdate, "
                f"CAST({spec['agg'].upper()}(o_totalprice) AS DOUBLE) AS order_price "
                "FROM orders"
                + (f" WHERE {spec['right_pred']}" if spec["right_pred"] else "")
                + " GROUP BY o_custkey, o_orderdate")
        jt = "ASOF JOIN" if spec["how"] == "inner" else "ASOF LEFT JOIN"
        core = (f"SELECT e.event_id, e.user_id, e.ts, o.order_price "
                f"FROM ({lsrc}) e {jt} ({rsrc}) o "
                f"ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate")
        if spec["term"] == "agg":
            return ("SELECT CAST(COUNT(*) AS BIGINT) AS n, "
                    "CAST(COUNT(order_price) AS BIGINT) AS n_matched, "
                    f"MIN(order_price) AS mn FROM ({core}) q")
        return core
    if spec.get("kind") == "range":
        asrc = "SELECT * FROM events" + (
            f" WHERE {spec['pred_a']}" if spec["pred_a"] else "")
        bsrc = "SELECT * FROM events" + (
            f" WHERE {spec['pred_b']}" if spec["pred_b"] else "")
        extra = " AND b.user_id = a.user_id" if spec["same_user"] else ""
        return (f"SELECT a.event_id, CAST(COUNT(*) AS BIGINT) AS n_following, "
                f"MIN(b.value) AS mn FROM ({asrc}) a JOIN ({bsrc}) b "
                f"ON b.ts > a.ts AND b.ts <= a.ts + INTERVAL {spec['minutes']} MINUTE"
                f"{extra} GROUP BY a.event_id")
    if spec.get("kind") == "theta":
        if spec["variant"] == "supcust":
            return ("SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, "
                    "MIN(s.s_suppkey) AS mn FROM "
                    f"(SELECT * FROM supplier WHERE {spec['pred_a']}) s JOIN "
                    f"(SELECT * FROM customer WHERE {spec['pred_b']}) c "
                    f"ON s.s_nationkey = c.c_nationkey "
                    f"AND c.c_acctbal {spec['ineq']} s.s_acctbal")
        return ("SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, "
                "MIN(a.p_partkey) AS mn FROM "
                f"(SELECT * FROM part WHERE {spec['pred_a']}) a JOIN "
                f"(SELECT * FROM part WHERE {spec['pred_b']}) b "
                f"ON a.p_brand = b.p_brand AND a.p_size {spec['ineq']} b.p_size")
    if spec.get("kind") == "subq":
        if spec["mode"] == "scalar":
            scalar = (f"SELECT {spec['inner_fn'].upper()}({spec['inner_col']}) "
                      f"% {spec['k']} FROM {spec['inner_table']} "
                      f"WHERE {spec['inner_pred']}")
            return ("SELECT CAST(COUNT(*) AS BIGINT) AS n FROM "
                    f"{spec['base']} WHERE ({spec['pred']}) "
                    f"AND {spec['col']} % {spec['k']} <= ({scalar})")
        p, c, pk, fk = spec["base"], spec["child"], spec["pk"], spec["fk"]
        cp = f" AND ({spec['child_pred']})" if spec["child_pred"] else ""
        where_parent = f"({spec['parent_pred']}) AND " if spec["parent_pred"] else ""
        if spec["mode"] == "count":
            sub = (f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {c} "
                   f"WHERE {c}.{fk} = p.{pk}{cp})")
            return (f"SELECT p.{pk}, p.{spec['keep']}, {sub} AS cnt "
                    f"FROM {p} p WHERE {where_parent}{sub} {spec['cmp']} {spec['n']}")
        sub = (f"(SELECT {spec['fn'].upper()}({spec['agg_col']}) FROM {c} "
               f"WHERE {c}.{fk} = p.{pk}{cp})")
        return (f"SELECT p.{pk}, p.{spec['keep']}, {sub} AS sv "
                f"FROM {p} p WHERE {where_parent}{sub} {spec['cmp']} {spec['lit']}")
    if spec.get("kind") == "cte":
        hv = f" WHERE g.n {spec['having'][0]} {spec['having'][1]}" if spec["having"] else ""
        return (f"WITH a AS (SELECT *, {spec['kexpr']} AS kk FROM {spec['base']} "
                f"WHERE {spec['pred']}), "
                f"g AS (SELECT kk, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY kk) "
                f"SELECT a.{spec['keep']}, a.kk, g.n FROM a JOIN g ON a.kk = g.kk{hv}")
    if spec.get("kind") == "explode":
        src = f"SELECT * FROM {spec['base']}" + (
            f" WHERE {spec['pred']}" if spec["pred"] else "")
        idsel = f"{spec['id']}, " if spec["term"] == "flat" else ""
        toks = (f"SELECT {idsel}unnest(string_split(lower({spec['col']}), "
                f"'{spec['sep']}')) AS tok FROM ({src}) s")
        if spec["nonempty"]:
            toks = f"SELECT * FROM ({toks}) ne WHERE tok <> ''"
        if spec["term"] == "flat":
            return toks
        return (f"SELECT tok, CAST(COUNT(*) AS BIGINT) AS n "
                f"FROM ({toks}) e GROUP BY tok")
    if spec.get("kind") == "funnel":
        src = "SELECT * FROM events" + (
            f" WHERE {spec['pred']}" if spec["pred"] else "")
        if spec["terminal"]["op"] == "retention":
            g = spec["granularity"]
            secs = {"day": 86_400, "week": 604_800}[g]
            return (
                f"WITH src AS ({src}), firsts AS ("
                f"SELECT user_id, date_trunc('{g}', MIN(ts)) AS cohort "
                f"FROM src GROUP BY user_id) "
                f"SELECT CAST(f.cohort AS TIMESTAMP) AS cohort_start, "
                f"CAST((epoch(date_trunc('{g}', e.ts)) - epoch(f.cohort)) "
                f"/ {secs} AS INT) AS bucket_offset, "
                f"CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active "
                f"FROM src e JOIN firsts f USING (user_id) GROUP BY 1, 2")
        steps = spec["steps"]
        ctes = [
            f"s0 AS (SELECT user_id, MIN(CASE WHEN event_type = '{steps[0]}' "
            f"THEN ts END) AS t FROM src GROUP BY user_id)"
        ]
        for i in range(1, len(steps)):
            ctes.append(
                f"s{i} AS (SELECT e.user_id, MIN(e.ts) AS t "
                f"FROM src e JOIN s{i - 1} p USING (user_id) "
                f"WHERE e.event_type = '{steps[i]}' AND p.t IS NOT NULL "
                f"AND e.ts > p.t GROUP BY e.user_id)")
        sels = [
            "(SELECT CAST(COUNT(*) AS BIGINT) FROM s0 WHERE t IS NOT NULL) "
            "AS n_step1"
        ] + [
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM s{i}) AS n_step{i + 1}"
            for i in range(1, len(steps))
        ]
        return (f"WITH src AS ({src}), " + ", ".join(ctes)
                + " SELECT " + ", ".join(sels))
    if spec.get("kind") == "dq":
        src = f"SELECT * FROM {spec['base']}" + (
            f" WHERE {spec['pred']}" if spec["pred"] else "")
        c = spec["check"]
        if c == "row_count":
            return (f"WITH src AS ({src}) SELECT "
                    f"CAST(COUNT(*) AS DOUBLE) AS metric, "
                    f"COUNT(*) >= {spec['min_rows']} AS passed FROM src")
        if c == "null":
            col, mx = spec["col"], spec["max_null_pct"]
            # empty → 0% nulls, passes (mirrors the product's explicit
            # empty-input guard in quality.checks.null_check)
            return (
                f"WITH src AS ({src}), a AS (SELECT COUNT(*) AS n, "
                f"COUNT({col}) AS nn FROM src) SELECT "
                f"CASE WHEN n = 0 THEN 0.0 "
                f"ELSE (n - nn) * 100.0 / n END AS metric, "
                f"CASE WHEN n = 0 THEN TRUE "
                f"ELSE (n - nn) * 100.0 / n <= {mx} END AS passed FROM a")
        if c == "unique":
            kcols = ", ".join(spec["cols"])
            dups = "COALESCE(SUM(CASE WHEN nn > 1 THEN nn - 1 ELSE 0 END), 0)"
            return (
                f"WITH src AS ({src}), g AS (SELECT {kcols}, COUNT(*) AS nn "
                f"FROM src GROUP BY {kcols}) SELECT "
                f"CAST({dups} AS DOUBLE) AS metric, {dups} = 0 AS passed FROM g")
        conds = []
        if spec["min_value"] is not None:
            conds.append(f"{spec['col']} < {spec['min_value']}")
        if spec["max_value"] is not None:
            conds.append(f"{spec['col']} > {spec['max_value']}")
        viol = (f"COALESCE(SUM(CASE WHEN {' OR '.join(conds)} "
                f"THEN 1 ELSE 0 END), 0)")
        return (f"WITH src AS ({src}) SELECT CAST({viol} AS DOUBLE) AS metric, "
                f"{viol} = 0 AS passed FROM src")
    if spec.get("kind") == "textops":
        from pyspark_pipeline_framework_spark.llm.text import (
            BPE_ISH_PATTERN,
            LANG_MARKERS,
        )

        src = "SELECT * FROM documents" + (
            f" WHERE {spec['pred']}" if spec["pred"] else "")
        if spec["term"] == "quality":
            return (
                f"WITH src AS ({src}), feats AS ("
                r"SELECT doc_id, lang, LENGTH(text) AS nc, "
                r"len(regexp_split_to_array(trim(text), '\s+')) AS nt, "
                r"CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) "
                r"AS DOUBLE) / LENGTH(text) AS symbol_ratio, "
                r"CAST(len(list_distinct(regexp_split_to_array(trim(text), "
                r"'\s+'))) AS DOUBLE) "
                r"/ len(regexp_split_to_array(trim(text), '\s+')) AS uniq_ratio "
                f"FROM src) "
                f"SELECT doc_id, lang FROM feats "
                f"WHERE nc >= {spec['min_chars']} AND nc <= {spec['max_chars']} "
                f"AND nt >= {spec['min_tokens']} "
                f"AND symbol_ratio <= {spec['max_symbol_ratio']} "
                f"AND uniq_ratio >= {spec['min_uniq']}"
            )
        if spec["term"] == "langid":
            score_cols, arms = [], []
            for lang in spec["langs"]:
                arr = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
                score_cols.append(
                    f"len(list_intersect(list_distinct(regexp_split_to_array("
                    f"lower(text), '\\s+')), [{arr}])) AS s_{lang}")
                arms.append(f"WHEN s_{lang} = mx THEN '{lang}'")
            greatest = ", ".join(f"s_{lang}" for lang in spec["langs"])
            return (
                f"WITH src AS ({src}), scored AS (SELECT doc_id, "
                + ", ".join(score_cols)
                + f" FROM src), best AS (SELECT *, GREATEST({greatest}) AS mx "
                f"FROM scored) SELECT doc_id, CASE "
                + " ".join(arms) + " END AS lang_pred FROM best"
            )
        feat_sql = {
            "n_chars_m": "CAST(LENGTH(text) AS INT)",
            "n_tokens_ws":
                r"CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)",
            "n_uniq_tokens":
                r"CAST(len(list_distinct(regexp_split_to_array(trim(text), "
                r"'\s+'))) AS INT)",
            "n_tokens_bpe":
                f"CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INT)",
        }
        if spec["grouped"]:
            sums = ", ".join(
                f"CAST(SUM({feat_sql[f]}) AS BIGINT) AS sum_{f}"
                for f in spec["feats"])
            return (f"WITH src AS ({src}) SELECT lang, "
                    f"CAST(COUNT(*) AS BIGINT) AS n_docs, {sums} "
                    f"FROM src GROUP BY lang")
        cols = ", ".join(f"{feat_sql[f]} AS {f}" for f in spec["feats"])
        return f"WITH src AS ({src}) SELECT doc_id, {cols} FROM src"
    if spec.get("kind") == "retrieval":
        if spec["sub"] == "bm25":
            from pyspark_pipeline_framework_spark.suite.llm import _bm25_oracle

            vals = ", ".join(f"({i}, '{q}')" for i, q in spec["queries"])
            return _bm25_oracle(vals, spec["top_k"])
        from pyspark_pipeline_framework_spark.suite.llm import _tfidf_oracle

        return _tfidf_oracle(spec["top_n"])
    if spec.get("kind") == "bloom":
        from pyspark_pipeline_framework_spark.suite.llm import _bloom_oracle

        return _bloom_oracle(
            m_bits=spec["m_bits"], k_hashes=spec["k_hashes"],
            shingle_k=spec["shingle_k"], threshold=spec["threshold"],
            train_pred=f"source <> '{spec['eval_src']}'",
            eval_pred=f"source = '{spec['eval_src']}'",
        )
    if spec.get("kind") == "semdedup":
        from pyspark_pipeline_framework_spark.suite.llm import _semantic_dedup_oracle

        return _scale_embeddings_sql(
            _semantic_dedup_oracle(
                nlist=spec["nlist"], n_train=spec["n_train"],
                threshold=spec["threshold"],
            ),
            spec.get("scale_pow", 0),
        )
    if spec.get("kind") == "ivf":
        from pyspark_pipeline_framework_spark.suite.llm import _ivf_exact_oracle

        return _scale_embeddings_sql(
            _ivf_exact_oracle(
                nlist=spec["nlist"], nprobe=spec["nprobe"], k=spec["k"],
                n_train=spec["n_train"], n_query=spec["n_query"],
            ),
            spec.get("scale_pow", 0),
        )
    if spec.get("kind") == "pq":
        from pyspark_pipeline_framework_spark.suite.llm import _pq_adc_oracle

        return _scale_embeddings_sql(
            _pq_adc_oracle(
                m_sub=spec["m_sub"], ksub=spec["ksub"],
                train_iters=spec["train_iters"], n_train=spec["n_train"],
                k=spec["k"], n_query=spec["n_query"],
            ),
            spec.get("scale_pow", 0),
        )
    if spec.get("kind") == "ivfpq":
        from pyspark_pipeline_framework_spark.suite.llm import _ivfpq_oracle

        return _scale_embeddings_sql(
            _ivfpq_oracle(
                nlist=spec["nlist"], nprobe=spec["nprobe"],
                m_sub=spec["m_sub"], ksub=spec["ksub"],
                train_iters=spec["train_iters"], n_train=spec["n_train"],
                k=spec["k"], n_query=spec["n_query"],
            ),
            spec.get("scale_pow", 0),
        )
    if spec.get("kind") == "packing":
        src = "SELECT * FROM documents" + (
            f" WHERE {spec['pred']}" if spec["pred"] else "")
        if spec["sub"] == "wsample":
            tf, salt, iters = spec["tf"], spec["salt"], spec["iters"]
            wv = {1: "CAST(n_chars AS DOUBLE)",
                  2: "CAST(n_chars AS DOUBLE) * n_chars",
                  3: "(CAST(n_chars AS DOUBLE) * n_chars) * n_chars",
                  }[spec["wpow"]]
            ctes = [
                f"""src AS ({src})""",
                f"""pos AS (
              SELECT doc_id, lang, {wv} AS wv FROM src
              WHERE {wv} > 0 AND NOT isnan({wv}))""",
            ]
            if not iters:
                # the single-pass expression shape, parenthesization
                # mirrored from the engine: LEAST(1, ((tf*N)*w)/S)
                ctes.append(f"""t AS (
              SELECT CAST(SUM(CAST(wv AS DECIMAL(38,9))) AS DOUBLE) AS wsum,
                     CAST(COUNT(*) AS DOUBLE) AS ntot FROM pos)""")
                rate = f"LEAST(1.0, (({tf} * s.ntot) * p.wv) / s.wsum)"
                final = "t"
            else:
                ctes.append(f"""s0 AS (
              SELECT {tf} * CAST(COUNT(*) AS DOUBLE) AS budget,
                     CAST(SUM(CAST(wv AS DECIMAL(38,9))) AS DOUBLE) AS wsum,
                     CAST(COUNT(*) AS DOUBLE) AS ntot FROM pos)""")
                for i in range(1, iters + 1):
                    ctes.append(f"""s{i} AS (
              SELECT {tf} * MAX(s.ntot)
                       - CAST(SUM(CASE WHEN (s.budget * p.wv) / s.wsum >= 1.0
                                        THEN 1 ELSE 0 END) AS DOUBLE) AS budget,
                     CAST(SUM(CASE WHEN (s.budget * p.wv) / s.wsum < 1.0
                                    THEN CAST(p.wv AS DECIMAL(38,9)) END) AS DOUBLE) AS wsum,
                     MAX(s.ntot) AS ntot
              FROM pos p CROSS JOIN s{i - 1} s)""")
                rate = ("CASE WHEN s.wsum IS NULL THEN 1.0 "
                        "ELSE LEAST(1.0, (s.budget * p.wv) / s.wsum) END")
                final = f"s{iters}"
            joined = ",\n    ".join(ctes)
            return f"""
            WITH {joined}
            SELECT doc_id, lang FROM pos p CROSS JOIN {final} s
            WHERE CAST(('0x' || substr(md5(p.doc_id::VARCHAR || ':{salt}'), 1, 8))::BIGINT AS DOUBLE)
                < ({rate}) * 4294967296.0
            """
        if spec["sub"] == "pack":
            m, s = spec["max_tokens"], spec["num_shards"]
            bucket = (
                f"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), "
                f"':shard')), 1, 8)) AS BIGINT) % {s}"
            )
            # greedy packing as a recursive CTE (independent formulation
            # of pack_shard's sequential fold — same shape as the suite's
            # _PACK_ORACLE, parameterized over (max_tokens, num_shards))
            return rf"""
            WITH RECURSIVE src AS ({src}), sharded AS (
              SELECT doc_id, CAST({bucket} AS INT) AS shard,
                     CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
              FROM src
            ), docs AS (
              SELECT doc_id, shard, n_tokens,
                     ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
              FROM sharded
            ), rec AS (
              SELECT shard, rn, doc_id, n_tokens,
                     0::BIGINT AS pack_id,
                     CASE WHEN n_tokens >= {m} THEN 1 ELSE 0 END::BIGINT AS nxt_pack,
                     CASE WHEN n_tokens >= {m} THEN 0 ELSE n_tokens END AS nxt_used
              FROM docs WHERE rn = 1
              UNION ALL
              SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
                     CASE WHEN r.nxt_used > 0 AND r.nxt_used + d.n_tokens > {m}
                          THEN r.nxt_pack + 1 ELSE r.nxt_pack END AS asg,
                     CASE WHEN (CASE WHEN r.nxt_used > 0 AND r.nxt_used + d.n_tokens > {m}
                                     THEN d.n_tokens ELSE r.nxt_used + d.n_tokens END) >= {m}
                          THEN asg + 1 ELSE asg END AS np,
                     CASE WHEN (CASE WHEN r.nxt_used > 0 AND r.nxt_used + d.n_tokens > {m}
                                     THEN d.n_tokens ELSE r.nxt_used + d.n_tokens END) >= {m}
                          THEN 0
                          ELSE (CASE WHEN r.nxt_used > 0 AND r.nxt_used + d.n_tokens > {m}
                                     THEN d.n_tokens ELSE r.nxt_used + d.n_tokens END) END AS nu
              FROM rec r JOIN docs d ON d.shard = r.shard AND d.rn = r.rn + 1
            )
            SELECT doc_id, shard, pack_id, n_tokens FROM rec
            """
        if spec["sub"] == "shuffle":
            ns, salt = spec["num_shards"], spec["salt"]
            return rf"""
            WITH src AS ({src}), b AS (
              SELECT doc_id,
                     CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                            ':{salt}')), 1, 8)) AS BIGINT) % {ns} AS INT) AS shard,
                     md5(concat(CAST(doc_id AS VARCHAR), ':{salt}:pos')) AS h
              FROM src
            )
            SELECT doc_id, shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
                        AS BIGINT) AS pos
            FROM b
            """
        if spec["sub"] == "budget":
            ns, salt, budget = spec["num_shards"], spec["salt"], spec["budget"]
            per = budget // ns
            return rf"""
            WITH src AS ({src}), t AS (
              SELECT doc_id,
                     CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
              FROM src
            ), b AS (
              SELECT doc_id, n_tokens,
                     CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                            ':{salt}')), 1, 8)) AS BIGINT) % {ns} AS INT) AS shard,
                     md5(concat(CAST(doc_id AS VARCHAR), ':{salt}:pos')) AS h
              FROM t
            ), c AS (
              SELECT doc_id, shard,
                     SUM(CAST(n_tokens AS BIGINT)) OVER (
                       PARTITION BY shard ORDER BY h, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens
              FROM b
            )
            SELECT doc_id, shard, CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM c WHERE cum_tokens <= {per}
            """
        if spec["sub"] == "chunk":
            ct, ov = spec["chunk_tokens"], spec["overlap"]
            stride = ct - ov
            return rf"""
            WITH src AS ({src}), words AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM src
            ), starts AS (
              SELECT doc_id, w,
                     unnest(range(1, greatest(len(w) - {ov}, 1) + 1, {stride})) AS s
              FROM words
            )
            SELECT doc_id,
                   CAST((s - 1) // {stride} AS INT) AS chunk_id,
                   CAST(len(list_slice(w, s, s + {ct - 1})) AS INT) AS n_chunk_tokens,
                   array_to_string(list_slice(w, s, s + {ct - 1}), ' ') AS chunk_text
            FROM starts
            """
        c1, c2 = spec["cuts"]
        salt = spec["salt"]
        return f"""
        WITH src AS ({src}), b AS (
          SELECT lang,
                 CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                      ':{salt}')), 1, 8)) AS BIGINT) % 10000 AS bucket
          FROM src
        ), s AS (
          SELECT lang, CASE WHEN bucket < {c1 * 100} THEN 'train'
                            WHEN bucket < {c2 * 100} THEN 'valid'
                            ELSE 'test' END AS split
          FROM b
        )
        SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY split, lang
        """
    if spec.get("kind") == "spans":
        src = "SELECT * FROM documents" + (
            f" WHERE {spec['pred']}" if spec["pred"] else "")
        L = spec["L"]
        base = rf"""
        WITH src AS ({src}), toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM src
        ), gx AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(w) - {L - 1}, 0) + 1),
                   i -> {{'p': CAST(i AS BIGINT),
                         'gh': md5(array_to_string(list_slice(w, i, i + {L - 1}), ' '))}})) AS u
          FROM toks
        ), g AS (
          SELECT doc_id, u.p AS p, u.gh AS gh FROM gx
        ), d AS (
          SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2
        ), dp AS (
          SELECT g.doc_id, g.p,
                 ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.p) AS rn
          FROM g JOIN d USING (gh)
        ), sp AS (
          SELECT doc_id, MIN(p) AS s, MAX(p) + {L - 1} AS e
          FROM dp GROUP BY doc_id, p - rn
        )"""
        if not spec["cut"]:
            return base + """
            SELECT doc_id, s AS start_tok, e AS end_tok,
                   e - s + 1 AS span_tokens FROM sp
            """
        return base + """
        , agg AS (
          SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM sp GROUP BY doc_id
        ), cut AS (
          SELECT t.doc_id,
                 list_filter(COALESCE(t.w, []),
                   (x, i) -> len(list_filter(COALESCE(a.spans, []),
                                  spn -> i >= spn.s AND i <= spn.e)) = 0) AS kept,
                 len(COALESCE(t.w, [])) AS n_all
          FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
        )
        SELECT doc_id,
               COALESCE(array_to_string(kept, ' '), '') AS clean_text,
               CAST(n_all - len(kept) AS BIGINT) AS removed_tokens
        FROM cut
        """
    if spec.get("kind") in ("minhash", "ngram"):
        src = "SELECT * FROM documents" + (
            f" WHERE {spec['pred']}" if spec["pred"] else "")
        k = spec["k"]
        shingles = (
            f"words AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), "
            f"'\\s+') AS w FROM src), "
            f"sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform("
            f"range(1, greatest(len(w) - {k - 1}, 1) + 1), "
            f"i -> array_to_string(list_slice(w, i, i + {k - 1}), ' ')))) AS shingle "
            f"FROM words)"
        )
        if spec["kind"] == "minhash":
            h, b = spec["h"], spec["b"]
            rpb = h // b
            return (
                f"WITH src AS ({src}), {shingles}, "
                f"base AS (SELECT doc_id, md5(shingle) AS bh FROM sh0), "
                f"sig AS (SELECT doc_id, seed, "
                f"MIN(substr(md5(concat(CAST(seed // 4 AS VARCHAR), ':', bh)), "
                f"8 * CAST(seed % 4 AS INT) + 1, 8)) AS mh "
                f"FROM base, range({h}) t(seed) GROUP BY doc_id, seed), "
                f"bands AS (SELECT doc_id, CAST(seed // {rpb} AS INT) AS band_idx, "
                f"md5(string_agg(mh, ',' ORDER BY seed)) AS bhash "
                f"FROM sig GROUP BY doc_id, seed // {rpb}) "
                f"SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
                f"FROM bands a JOIN bands b ON a.band_idx = b.band_idx "
                f"AND a.bhash = b.bhash AND a.doc_id < b.doc_id"
                + (
                    f" WHERE a.doc_id % {spec['split'][0]} = {spec['split'][1]}"
                    f" OR b.doc_id % {spec['split'][0]} = {spec['split'][1]}"
                    if spec.get("split")
                    else ""
                )
            )
        t_, mdf = spec["threshold"], spec["maxdf"]
        return (
            f"WITH src AS ({src}), {shingles}, "
            f"hot AS (SELECT shingle FROM sh0 GROUP BY shingle "
            f"HAVING COUNT(*) > {mdf}), "
            f"sh AS (SELECT * FROM sh0 WHERE shingle NOT IN "
            f"(SELECT shingle FROM hot)), "
            f"sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz "
            f"FROM sh GROUP BY doc_id), "
            f"inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            f"CAST(COUNT(*) AS BIGINT) AS n_common FROM sh a JOIN sh b "
            f"ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            f"SELECT id_a, id_b, n_common, "
            f"CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard "
            f"FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            f"JOIN sizes sb ON sb.doc_id = id_b "
            f"WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= {t_}"
        )
    if spec.get("kind") == "session":
        g, ts, n, unit = spec["group"], spec["ts"], spec["gap"], spec["unit"]
        src = f"SELECT * FROM {spec['base']}" + (
            f" WHERE {spec['pred']}" if spec["pred"] else "")
        # boundaries are computed over DISTINCT (group, ts): with
        # duplicate timestamps the LAG-flag window and the cumsum
        # window may order ties differently, nondeterministically
        # assigning a tied row to the previous session (found by this
        # very shape on orders' date-granularity data); tied rows are
        # always one session, so dedup-then-join-back is exact
        return (
            f"WITH src AS ({src}), "
            f"dts AS (SELECT DISTINCT {g} AS g, {ts} AS ts FROM src), "
            f"flagged AS ("
            f"SELECT g, ts, CASE WHEN LAG(ts) OVER w IS NULL "
            f"OR ts - LAG(ts) OVER w > INTERVAL {n} {unit} THEN 1 ELSE 0 END AS new_s "
            f"FROM dts WINDOW w AS (PARTITION BY g ORDER BY ts)"
            f"), sessions AS ("
            f"SELECT g, ts, SUM(new_s) OVER (PARTITION BY g ORDER BY ts "
            f"ROWS UNBOUNDED PRECEDING) AS sid FROM flagged), "
            f"tagged AS (SELECT x.g, x.ts, x.sid FROM src s JOIN sessions x "
            f"ON s.{g} IS NOT DISTINCT FROM x.g AND s.{ts} = x.ts) "
            f"SELECT g AS {g}, MIN(ts) AS session_start, "
            f"MAX(ts) + INTERVAL {n} {unit} AS session_end, "
            f"CAST(COUNT(*) AS BIGINT) AS n_events "
            f"FROM tagged GROUP BY g, sid"
        )
    if t["op"] == "setop2":
        a, b = t["a"], t["b"]
        return (f"SELECT {a['col']} AS {t['alias']} FROM {a['table']} WHERE {a['pred']} "
                f"{SETOP_KW[t['kind']]} "
                f"SELECT {b['col']} AS {t['alias']} FROM {b['table']} WHERE {b['pred']}")
    if t["op"] == "setop":
        cols = ", ".join(t["cols"])
        return (f"SELECT {cols} FROM {spec['base']} WHERE {t['pred_a']} "
                f"{SETOP_KW[t['kind']]} SELECT {cols} FROM {spec['base']} WHERE {t['pred_b']}")

    sql = f"SELECT * FROM {spec['base']}"
    for i, st in enumerate(spec["stages"]):
        if st["op"] == "derive":
            sql = f"SELECT *, {st['expr']} AS {st['name']} FROM ({sql}) s{i}"
        elif st["op"] == "derive_udf":
            # oracle side is the same arithmetic, no UDF
            sql = (f"SELECT *, ({st['src']} % {st['mod']}) * {st['mul']} + 1 "
                   f"AS {st['name']} FROM ({sql}) s{i}")
        elif st["op"] == "derive_json":
            sql = (f"SELECT *, CAST(json_extract_string({st['src']}, "
                   f"'$.{st['key']}') AS BIGINT) AS {st['name']} FROM ({sql}) s{i}")
        elif st["op"] == "filter":
            sql = f"SELECT * FROM ({sql}) s{i} WHERE {st['pred']}"
        elif st["op"] == "join":
            rsql = f"SELECT * FROM {st['right']}"
            if st["right_derive"] is not None:
                d = st["right_derive"]
                rsql = f"SELECT *, {d['expr']} AS {d['name']} FROM ({rsql}) rr{i}"
            if st["right_pred"] is not None:
                rsql = f"SELECT * FROM ({rsql}) rf{i} WHERE {st['right_pred']}"
            if st["type"] in ("inner", "left", "right", "full"):
                jt = {"inner": "JOIN", "left": "LEFT JOIN",
                      "right": "RIGHT JOIN", "full": "FULL JOIN"}[st["type"]]
                op = ("IS NOT DISTINCT FROM" if st.get("nullsafe") else "=")
                sql = (f"SELECT * FROM ({sql}) L{i} {jt} ({rsql}) R{i} "
                       f"ON L{i}.{st['lk']} {op} R{i}.{st['rk']}")
            else:
                ex = "EXISTS" if st["type"] == "semi" else "NOT EXISTS"
                sql = (f"SELECT * FROM ({sql}) L{i} WHERE {ex} "
                       f"(SELECT 1 FROM ({rsql}) R{i} WHERE R{i}.{st['rk']} = L{i}.{st['lk']})")

    if t["op"] == "agg":
        parts = [AGG_SQL[a["fn"]](a["col"]) + f" AS {a['alias']}" for a in t["aggs"]]
        sel = ", ".join(t["keys"] + parts)
        sql = f"SELECT {sel} FROM ({sql}) fin"
        if t["keys"]:
            klist = ", ".join(t["keys"])
            g = t.get("grouping", "plain")
            sql += " GROUP BY " + {
                "plain": klist,
                "rollup": f"ROLLUP ({klist})",
                "cube": f"CUBE ({klist})",
            }[g]
        if t.get("having"):
            sql = f"SELECT * FROM ({sql}) hv WHERE {t['having']}"
        return sql
    if t["op"] == "window":
        over = "PARTITION BY " + ", ".join(t["part"])
        if t["order"]:
            over += " ORDER BY " + ", ".join(
                f"{c} {d} NULLS {n}" for c, d, n in t["order"])
        fn = t["fn"]
        wexpr = {
            "rank": "RANK()", "dense_rank": "DENSE_RANK()",
            "row_number": "ROW_NUMBER()", "cnt": "COUNT(*)",
            "percent_rank": "PERCENT_RANK()", "cume_dist": "CUME_DIST()",
        }.get(fn)
        if wexpr is not None:
            w = f"{wexpr} OVER ({over})"
            if fn == "cnt":
                w = f"CAST({w} AS BIGINT)"
        elif fn == "sum_int":
            w = f"CAST(SUM({t['arg']}) OVER ({over}) AS BIGINT)"
        elif fn == "max_int":
            w = f"MAX({t['arg']}) OVER ({over})"
        elif fn == "lag":
            w = f"LAG({t['arg']}) OVER ({over})"
        elif fn == "sum_run":
            w = (f"CAST(SUM({t['arg']}) OVER ({over} ROWS BETWEEN UNBOUNDED "
                 f"PRECEDING AND CURRENT ROW) AS BIGINT)")
        elif fn == "sum_slide":
            w = (f"CAST(SUM({t['arg']}) OVER ({over} ROWS BETWEEN {t['frame_n']} "
                 f"PRECEDING AND CURRENT ROW) AS BIGINT)")
        elif fn == "ntile":
            w = f"NTILE({t['ntile_n']}) OVER ({over})"
        elif fn == "first_val":
            w = f"FIRST_VALUE({t['arg']}) OVER ({over})"
        elif fn == "last_val":
            # default frame ends at CURRENT ROW (last == self) — use the
            # full-partition frame so the value is actually interesting
            w = (f"LAST_VALUE({t['arg']}) OVER ({over} ROWS BETWEEN UNBOUNDED "
                 f"PRECEDING AND UNBOUNDED FOLLOWING)")
        sel = ", ".join(t["keep"]) + f", {w} AS {t['alias']}"
        sql = f"SELECT {sel} FROM ({sql}) fin"
        if t["topk"] is not None:
            sql = f"SELECT * FROM ({sql}) tk WHERE {t['alias']} <= {t['topk']}"
        return sql
    if t["op"] == "distinct":
        return f"SELECT DISTINCT {', '.join(t['cols'])} FROM ({sql}) fin"
    if t["op"] == "sortlimit":
        order = ", ".join(f"{c} {d} NULLS {n}" for c, d, n in t["order"])
        return (f"SELECT {', '.join(t['cols'])} FROM ({sql}) fin "
                f"ORDER BY {order} LIMIT {t['limit']}")
    raise AssertionError(t["op"])


def apply_stages(df, stages: list[dict], spark, sf_dir: str):
    """Apply a spec's non-terminal stages to a DataFrame — shared by
    to_spark and the streaming differential (tools/streamfuzz.py),
    which replays the same stages over a readStream base."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.io.readers import table

    for st in stages:
        if st["op"] == "derive":
            df = df.withColumn(st["name"], F.expr(st["expr"]))
        elif st["op"] == "derive_udf":
            from pyspark.sql.functions import pandas_udf

            mod_, mul_ = st["mod"], st["mul"]
            # hint-free form: `from __future__ import annotations` turns
            # pd.Series hints into strings Spark can't resolve against a
            # function-local pandas import
            _arith = pandas_udf(lambda s: (s % mod_) * mul_ + 1, "long")
            df = df.withColumn(st["name"], _arith(F.col(st["src"])))
        elif st["op"] == "derive_json":
            df = df.withColumn(
                st["name"],
                F.get_json_object(st["src"], f"$.{st['key']}").cast("long"),
            )
        elif st["op"] == "filter":
            df = df.filter(F.expr(st["pred"]))
        elif st["op"] == "join":
            r = table(spark, sf_dir, st["right"])
            if st["right_derive"] is not None:
                d = st["right_derive"]
                r = r.withColumn(d["name"], F.expr(d["expr"]))
            if st["right_pred"] is not None:
                r = r.filter(F.expr(st["right_pred"]))
            jt = {"inner": "inner", "left": "left", "right": "right",
                  "full": "full", "semi": "left_semi", "anti": "left_anti"}[st["type"]]
            cond = (F.col(st["lk"]).eqNullSafe(F.col(st["rk"]))
                    if st.get("nullsafe") else F.col(st["lk"]) == F.col(st["rk"]))
            df = df.join(r, cond, jt)
    return df


def to_spark(spec: dict, spark, sf_dir: str, base_df=None):
    """Render the spec through the DataFrame API. ``base_df`` swaps the
    base-table scan for an injected DataFrame (e.g. a readStream of the
    same parquet for batch↔stream differentials) — single-table specs
    only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.io.readers import table

    t = spec["terminal"]
    if spec.get("kind") == "pivot":
        f = table(spark, sf_dir, spec["base"]).filter(F.expr(spec["pred"]))
        x = spec["agg_col"]
        aggc = {"sum": F.sum(x).cast("bigint"), "min": F.min(x)}[spec["agg"]]
        return f.groupBy(spec["key"]).pivot(spec["pivot_col"], spec["values"]).agg(aggc)
    if spec.get("kind") == "unpivot":
        f = table(spark, sf_dir, spec["base"]).filter(F.expr(spec["pred"]))
        return (
            f.select(F.col(spec["id"]).alias("id"), *spec["cols"])
            .unpivot(ids=["id"], values=spec["cols"],
                     variableColumnName="name", valueColumnName="val")
        )
    if spec.get("kind") == "selfjoin":
        pk, key, mod, keep = spec["pk"], spec["key"], spec["mod"], spec["keep"]
        f = table(spark, sf_dir, spec["base"]).filter(F.expr(spec["pred"]))
        a, b = f.alias("a"), f.alias("b")
        sel = (
            a.join(
                b,
                (F.expr(f"a.{key} % {mod}") == F.expr(f"b.{key} % {mod}"))
                & (F.col(f"a.{pk}") < F.col(f"b.{pk}")),
            )
            .select(
                F.col(f"a.{pk}").alias("a_id"),
                F.col(f"b.{pk}").alias("b_id"),
                F.col(f"a.{keep}").alias("a_val"),
            )
        )
        if spec["term"] == "agg":
            return sel.agg(
                F.count(F.lit(1)).alias("n_pairs"), F.min("a_id").alias("min_a")
            )
        return sel.distinct()
    if spec.get("kind") == "rangeframe":
        from pyspark_pipeline_framework_spark.operators.windows import global_range_frame

        order, pk, agg = spec["order"], spec["pk"], spec["agg"]
        lo, hi = spec["lower"], spec["upper"]
        f = table(spark, sf_dir, spec["base"])
        if spec["pred"]:
            f = f.filter(F.expr(spec["pred"]))
        bw = None if spec["widen"] is None else max(hi - lo, 1) * spec["widen"]
        if agg == "sum":
            f = f.select(pk, order, F.col(order).cast("decimal(38,6)").alias("_v"))
            out = global_range_frame(
                f, order_col=order, lower=lo, upper=hi, agg="sum",
                value_col="_v", key_cols=[pk], bin_width=bw, result_col="_res",
            ).withColumn("_res", F.col("_res").cast("double"))
        elif agg == "avg":
            f = f.select(pk, order, F.col(order).cast("decimal(38,6)").alias("_v"))
            out = global_range_frame(
                f, order_col=order, lower=lo, upper=hi, agg="avg",
                value_col="_v", key_cols=[pk], bin_width=bw, result_col="_res",
            )
        elif agg == "count":
            f = f.select(pk, order)
            out = global_range_frame(
                f, order_col=order, lower=lo, upper=hi, agg="count",
                key_cols=[pk], bin_width=bw, result_col="_res",
            )
        else:
            f = f.select(pk, order)
            out = global_range_frame(
                f, order_col=order, lower=lo, upper=hi, agg=agg,
                value_col=order, key_cols=[pk], bin_width=bw, result_col="_res",
            )
        return out.select(
            F.col(pk).alias("id"), F.col(order).alias("v"), F.col("_res").alias("res")
        )
    if spec.get("kind") == "asof":
        from pyspark_pipeline_framework_spark.operators.joins import asof_join

        e = table(spark, sf_dir, "events")
        if spec["left_pred"]:
            e = e.filter(F.expr(spec["left_pred"]))
        e = e.select("event_id", "user_id", "ts")
        o = table(spark, sf_dir, "orders")
        if spec["right_pred"]:
            o = o.filter(F.expr(spec["right_pred"]))
        aggf = {"max": F.max, "min": F.min}[spec["agg"]]
        o = (o.groupBy("o_custkey", "o_orderdate")
             .agg(aggf("o_totalprice").alias("order_price"))
             .withColumnRenamed("o_custkey", "user_id"))
        out = asof_join(
            e, o, key="user_id", left_ts="ts", right_ts="o_orderdate",
            right_values=["order_price"], how=spec["how"],
        ).select("event_id", "user_id", "ts", "order_price")
        if spec["term"] == "agg":
            return out.agg(
                F.count(F.lit(1)).alias("n"),
                F.count("order_price").alias("n_matched"),
                F.min("order_price").alias("mn"),
            )
        return out
    if spec.get("kind") == "range":
        from pyspark_pipeline_framework_spark.operators.joins import range_join

        ev = table(spark, sf_dir, "events")
        a = ev.filter(F.expr(spec["pred_a"])) if spec["pred_a"] else ev
        b = ev.filter(F.expr(spec["pred_b"])) if spec["pred_b"] else ev
        left = a.select("event_id", "ts", "user_id")
        right = b.select(F.col("ts").alias("r_ts"),
                         F.col("value").alias("r_val"), "user_id")
        m = spec["minutes"]
        joined = range_join(
            left, right, left_ts="ts", right_ts="r_ts",
            lower="0 SECOND", upper=f"{m} MINUTE", bucket_seconds=60 * m,
            extra_on=["user_id"] if spec["same_user"] else None,
        )
        return joined.groupBy("event_id").agg(
            F.count(F.lit(1)).alias("n_following"), F.min("r_val").alias("mn"))
    if spec.get("kind") == "theta":
        if spec["variant"] == "supcust":
            s = table(spark, sf_dir, "supplier").filter(F.expr(spec["pred_a"]))
            c = table(spark, sf_dir, "customer").filter(F.expr(spec["pred_b"]))
            ineq = {"<": c.c_acctbal < s.s_acctbal, ">": c.c_acctbal > s.s_acctbal,
                    "<=": c.c_acctbal <= s.s_acctbal, ">=": c.c_acctbal >= s.s_acctbal}
            pairs = s.join(c, (s.s_nationkey == c.c_nationkey) & ineq[spec["ineq"]])
            return pairs.agg(F.count(F.lit(1)).alias("n_pairs"),
                             F.min("s_suppkey").alias("mn"))
        p = table(spark, sf_dir, "part")
        a = p.filter(F.expr(spec["pred_a"])).alias("a")
        b = p.filter(F.expr(spec["pred_b"])).alias("b")
        ineq = (F.col("a.p_size") < F.col("b.p_size") if spec["ineq"] == "<"
                else F.col("a.p_size") > F.col("b.p_size"))
        pairs = a.join(b, (F.col("a.p_brand") == F.col("b.p_brand")) & ineq)
        return pairs.agg(F.count(F.lit(1)).alias("n_pairs"),
                         F.min(F.col("a.p_partkey")).alias("mn"))
    if spec.get("kind") == "subq":
        if spec["mode"] == "scalar":
            base = table(spark, sf_dir, spec["base"]).filter(F.expr(spec["pred"]))
            inner = table(spark, sf_dir, spec["inner_table"]).filter(
                F.expr(spec["inner_pred"]))
            aggf = {"max": F.max, "min": F.min}[spec["inner_fn"]]
            # the one-row scalar joins on a key that is 0 for EVERY row
            # but NOT constant-foldable (xxhash64 of a real column):
            # a literal key folds to `ON true` and Catalyst plans a
            # BroadcastNestedLoopJoin, which the no-cartesian plan gate
            # rightly rejects — this way it stays a BroadcastHashJoin
            scalar = inner.agg((aggf(spec["inner_col"]) % spec["k"]).alias("__sv"))
            scalar = scalar.withColumn(
                "__one", F.pmod(F.xxhash64(F.col("__sv")), F.lit(1)))
            out = (base.withColumn(
                       "__one", F.pmod(F.xxhash64(F.col(spec["col"])), F.lit(1)))
                   .join(F.broadcast(scalar), "__one", "left")
                   .filter(F.col(spec["col"]) % spec["k"] <= F.col("__sv")))
            return out.agg(F.count(F.lit(1)).alias("n"))
        # correlated: decorrelate as child-agg-by-FK + left join
        parent = table(spark, sf_dir, spec["base"])
        if spec["parent_pred"]:
            parent = parent.filter(F.expr(spec["parent_pred"]))
        child = table(spark, sf_dir, spec["child"])
        if spec["child_pred"]:
            child = child.filter(F.expr(spec["child_pred"]))
        pk, fk = spec["pk"], spec["fk"]
        if spec["mode"] == "count":
            aggd = child.groupBy(fk).agg(F.count(F.lit(1)).alias("__cnt"))
            j = parent.join(aggd, parent[pk] == aggd[fk], "left")
            cnt = F.coalesce(F.col("__cnt"), F.lit(0)).cast("bigint")
            j = j.withColumn("cnt", cnt)
            cond = {">=": F.col("cnt") >= spec["n"], "=": F.col("cnt") == spec["n"],
                    "<": F.col("cnt") < spec["n"]}[spec["cmp"]]
            return j.filter(cond).select(pk, spec["keep"], "cnt")
        aggf = {"max": F.max, "min": F.min}[spec["fn"]]
        aggd = child.groupBy(fk).agg(aggf(spec["agg_col"]).alias("sv"))
        j = parent.join(aggd, parent[pk] == aggd[fk], "left")
        lit = F.lit(int(spec["lit"]))
        cond = {">": F.col("sv") > lit, "<=": F.col("sv") <= lit}[spec["cmp"]]
        return j.filter(cond).select(pk, spec["keep"], "sv")
    if spec.get("kind") == "cte":
        a = (table(spark, sf_dir, spec["base"]).filter(F.expr(spec["pred"]))
             .withColumn("kk", F.expr(spec["kexpr"])))
        g = a.groupBy("kk").agg(F.count(F.lit(1)).alias("n"))
        out = a.join(g, "kk")
        if spec["having"]:
            op, n = spec["having"]
            out = out.filter(F.col("n") >= n if op == ">=" else F.col("n") < n)
        return out.select(spec["keep"], "kk", "n")
    if spec.get("kind") == "explode":
        df = table(spark, sf_dir, spec["base"])
        if spec["pred"]:
            df = df.filter(F.expr(spec["pred"]))
        tok = F.explode(F.split(F.lower(F.col(spec["col"])), spec["sep"])).alias("tok")
        cols = ([spec["id"], tok] if spec["term"] == "flat" else [tok])
        out = df.select(*cols)
        if spec["nonempty"]:
            out = out.filter(F.col("tok") != "")
        if spec["term"] == "flat":
            return out
        return out.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    if spec.get("kind") == "funnel":
        from pyspark_pipeline_framework_spark.operators.events import (
            cohort_retention,
            funnel_counts,
        )

        df = table(spark, sf_dir, "events")
        if spec["pred"]:
            df = df.filter(F.expr(spec["pred"]))
        if spec["terminal"]["op"] == "retention":
            return cohort_retention(df, granularity=spec["granularity"])
        return funnel_counts(df, spec["steps"])
    if spec.get("kind") == "dq":
        from pyspark_pipeline_framework_spark.quality.checks import (
            null_check,
            range_check,
            row_count_check,
            unique_check,
        )

        df = table(spark, sf_dir, spec["base"])
        if spec["pred"]:
            df = df.filter(F.expr(spec["pred"]))
        c = spec["check"]
        if c == "row_count":
            chk = row_count_check("d", spec["min_rows"])
        elif c == "null":
            chk = null_check("d", spec["col"], spec["max_null_pct"])
        elif c == "unique":
            chk = unique_check("d", spec["cols"])
        else:
            chk = range_check("d", spec["col"], spec["min_value"],
                              spec["max_value"])
        res = chk.run(df)  # the PRODUCT path: metric_df + evaluate
        return spark.createDataFrame(
            [(bool(res.passed), float(res.metric))],
            "passed boolean, metric double")
    if spec.get("kind") == "textops":
        from pyspark_pipeline_framework_spark.llm.text import (
            LANG_MARKERS,
            language_id,
            quality_filter,
            token_count_regex,
            token_count_ws,
        )

        d = table(spark, sf_dir, "documents")
        if spec["pred"]:
            d = d.filter(F.expr(spec["pred"]))
        if spec["term"] == "quality":
            return quality_filter(
                d,
                min_chars=spec["min_chars"],
                max_chars=spec["max_chars"],
                min_tokens=spec["min_tokens"],
                max_symbol_ratio=spec["max_symbol_ratio"],
                min_uniq_token_ratio=spec["min_uniq"],
            ).select("doc_id", "lang")
        if spec["term"] == "langid":
            markers = {k: LANG_MARKERS[k] for k in spec["langs"]}
            assert len(markers) == len(spec["langs"])
            return language_id(d, markers=markers).select("doc_id", "lang_pred")
        words = F.split(F.trim(F.col("text")), r"\s+")
        feat_col = {
            "n_chars_m": F.length("text"),
            "n_tokens_ws": token_count_ws("text"),
            "n_uniq_tokens": F.size(F.array_distinct(words)),
            "n_tokens_bpe": token_count_regex("text"),
        }
        if spec["grouped"]:
            return d.groupBy("lang").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                *[F.sum(feat_col[f]).cast("bigint").alias(f"sum_{f}")
                  for f in spec["feats"]],
            )
        return d.select(
            "doc_id", *[feat_col[f].alias(f) for f in spec["feats"]])
    if spec.get("kind") == "retrieval":
        from pyspark_pipeline_framework_spark.llm.retrieval import (
            bm25_topk,
            tfidf_topk_terms,
        )

        d = table(spark, sf_dir, "documents")
        if spec["sub"] == "bm25":
            q = spark.createDataFrame(
                [(int(i), t) for i, t in spec["queries"]],
                "query_id long, query string",
            )
            return bm25_topk(d, q, top_k=spec["top_k"], idf_mode="rational")
        return tfidf_topk_terms(d, top_n=spec["top_n"], idf_mode="rational")
    if spec.get("kind") == "bloom":
        from pyspark_pipeline_framework_spark.llm.dedup import bloom_decontaminate

        d = table(spark, sf_dir, "documents")
        return bloom_decontaminate(
            d.filter(F.col("source") != spec["eval_src"]),
            d.filter(F.col("source") == spec["eval_src"]),
            shingle_k=spec["shingle_k"], threshold=spec["threshold"],
            m_bits=spec["m_bits"], k_hashes=spec["k_hashes"],
        )
    if spec.get("kind") == "semdedup":
        from pyspark_pipeline_framework_spark.llm.similarity import semantic_dedup_pairs

        emb = table(spark, sf_dir, "embeddings")
        p = spec.get("scale_pow", 0)
        if p:
            s = 2.0 ** p
            emb = emb.withColumn(
                "embedding",
                F.transform("embedding", lambda x: x.cast("double") * F.lit(s)),
            )
        return semantic_dedup_pairs(
            emb, dim=64, threshold=spec["threshold"], nlist=spec["nlist"],
            train_sample=spec["n_train"],
        )
    if spec.get("kind") == "ivf":
        from pyspark_pipeline_framework_spark.llm.similarity import (
            cosine_topk_ivf,
            ivf_add,
            ivf_index,
            ivf_search,
        )

        emb = table(spark, sf_dir, "embeddings")
        p = spec.get("scale_pow", 0)
        if p:
            s = 2.0 ** p
            emb = emb.withColumn(
                "embedding",
                F.transform("embedding", lambda x: x.cast("double") * F.lit(s)),
            )
        queries = emb.filter(F.col("vec_id") < spec["n_query"]).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        kw = dict(dim=64, train_sample=spec["n_train"])
        if spec["incremental"]:
            cdf, _ = ivf_index(emb, nlist=spec["nlist"], **kw)
            store = ivf_add(
                emb.where(F.col("vec_id") % 2 == 0), cdf, dim=64
            ).union(
                ivf_add(emb.where(F.col("vec_id") % 2 == 1), cdf, dim=64)
            )
            out = ivf_search(
                store, cdf, queries, dim=64, k=spec["k"],
                nprobe=spec["nprobe"],
            )
        else:
            out = cosine_topk_ivf(
                emb, queries, k=spec["k"], nlist=spec["nlist"],
                nprobe=spec["nprobe"], **kw,
            )
        return out.select("query_id", "vec_id", "cos_sim", "rank")
    if spec.get("kind") == "pq":
        from pyspark_pipeline_framework_spark.llm.pq import (
            cosine_topk_pq,
            pq_encode,
            pq_index,
            pq_search_adc,
        )

        emb = table(spark, sf_dir, "embeddings")
        p = spec.get("scale_pow", 0)
        if p:
            s = 2.0 ** p
            emb = emb.withColumn(
                "embedding",
                F.transform("embedding", lambda x: x.cast("double") * F.lit(s)),
            )
        queries = emb.filter(F.col("vec_id") < spec["n_query"]).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        kw = dict(dim=64, m_sub=spec["m_sub"], ksub=spec["ksub"],
                  train_iters=spec["train_iters"], train_sample=spec["n_train"])
        if spec["incremental"]:
            cdf, _ = pq_index(emb, **kw)
            store = pq_encode(
                emb.where(F.col("vec_id") % 2 == 0), cdf, dim=64
            ).union(pq_encode(emb.where(F.col("vec_id") % 2 == 1), cdf, dim=64))
            out = pq_search_adc(store, cdf, queries, dim=64, k=spec["k"])
        else:
            out = cosine_topk_pq(emb, queries, k=spec["k"], **kw)
        return out.select("query_id", "vec_id", "adc_dot", "rank")
    if spec.get("kind") == "ivfpq":
        from pyspark_pipeline_framework_spark.llm.pq import (
            cosine_topk_ivfpq,
            ivfpq_add,
            ivfpq_index,
            ivfpq_search,
        )

        emb = table(spark, sf_dir, "embeddings")
        p = spec.get("scale_pow", 0)
        if p:
            s = 2.0 ** p
            emb = emb.withColumn(
                "embedding",
                F.transform("embedding", lambda x: x.cast("double") * F.lit(s)),
            )
        queries = emb.filter(F.col("vec_id") < spec["n_query"]).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        kw = dict(dim=64, nlist=spec["nlist"], m_sub=spec["m_sub"],
                  ksub=spec["ksub"], train_iters=spec["train_iters"],
                  train_sample=spec["n_train"])
        if spec["incremental"]:
            cent, cb, _ = ivfpq_index(emb, **kw)
            store = ivfpq_add(
                emb.where(F.col("vec_id") % 2 == 0), cent, cb, dim=64
            ).union(ivfpq_add(emb.where(F.col("vec_id") % 2 == 1), cent, cb, dim=64))
            out = ivfpq_search(store, cent, cb, queries, dim=64,
                               k=spec["k"], nprobe=spec["nprobe"])
        else:
            out = cosine_topk_ivfpq(emb, queries, k=spec["k"],
                                    nprobe=spec["nprobe"], **kw)
        return out.select("query_id", "vec_id", "adc_dot", "rank")
    if spec.get("kind") == "packing":
        from pyspark_pipeline_framework_spark.llm.packing import (
            chunk_documents,
            pack_sequences,
            split_by_hash,
        )
        from pyspark_pipeline_framework_spark.llm.text import token_count_ws

        d = table(spark, sf_dir, "documents")
        if spec["pred"]:
            d = d.filter(F.expr(spec["pred"]))
        if spec["sub"] == "wsample":
            from pyspark_pipeline_framework_spark.llm.packing import weighted_sample

            nc = F.col("n_chars")
            wexpr = {1: nc.cast("double"),
                     2: nc.cast("double") * nc,
                     3: (nc.cast("double") * nc) * nc}[spec["wpow"]]
            return weighted_sample(
                d.withColumn("wv", wexpr), "wv", spec["tf"],
                salt=spec["salt"], renormalize_iters=spec["iters"],
            ).select("doc_id", "lang")
        if spec["sub"] == "pack":
            return pack_sequences(
                d.select("doc_id", token_count_ws("text").alias("n_tokens")),
                max_tokens=spec["max_tokens"], num_shards=spec["num_shards"],
            )
        if spec["sub"] == "shuffle":
            from pyspark_pipeline_framework_spark.llm.packing import global_shuffle

            return global_shuffle(
                d, num_shards=spec["num_shards"], salt=spec["salt"]
            ).select("doc_id", "shard", "pos")
        if spec["sub"] == "budget":
            from pyspark_pipeline_framework_spark.llm.packing import (
                sample_to_token_budget,
            )

            return sample_to_token_budget(
                d.withColumn("n_tokens", token_count_ws("text")),
                budget_tokens=spec["budget"], num_shards=spec["num_shards"],
                salt=spec["salt"],
            ).select("doc_id", "shard", "cum_tokens")
        if spec["sub"] == "chunk":
            return chunk_documents(
                d, chunk_tokens=spec["chunk_tokens"], overlap=spec["overlap"]
            )
        c1, c2 = spec["cuts"]
        fr = {"train": c1 / 100, "valid": (c2 - c1) / 100,
              "test": (100 - c2) / 100}
        return (
            split_by_hash(d.select("doc_id", "lang"), "doc_id", fr,
                          salt=spec["salt"])
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    if spec.get("kind") == "spans":
        from pyspark_pipeline_framework_spark.llm.dedup import (
            cut_spans,
            duplicated_spans,
            incremental_duplicated_spans,
            merge_span_tables,
            substring_count_partials,
            substring_gram_stream,
        )

        d = table(spark, sf_dir, "documents")
        if spec["pred"]:
            d = d.filter(F.expr(spec["pred"]))
        if spec.get("split"):
            m, j = spec["split"]
            old = d.where(F.col("doc_id") % m != j)
            new = d.where(F.col("doc_id") % m == j)
            og = substring_gram_stream(old, spec["L"])
            upd = incremental_duplicated_spans(
                substring_gram_stream(new, spec["L"]),
                og, substring_count_partials(og), min_tokens=spec["L"],
            )
            spans = merge_span_tables(
                duplicated_spans(old, min_tokens=spec["L"]),
                upd,
            )
        else:
            spans = duplicated_spans(d, min_tokens=spec["L"])
        if not spec["cut"]:
            return spans
        return cut_spans(d, spans).select(
            "doc_id", "clean_text", "removed_tokens"
        )
    if spec.get("kind") in ("minhash", "ngram"):
        from pyspark_pipeline_framework_spark.llm.dedup import (
            minhash_candidate_pairs,
            ngram_jaccard_pairs,
        )

        d = table(spark, sf_dir, "documents")
        if spec["pred"]:
            d = d.filter(F.expr(spec["pred"]))
        if spec["kind"] == "minhash":
            if spec.get("split"):
                from pyspark_pipeline_framework_spark.llm.dedup import (
                    incremental_candidate_pairs,
                    minhash_bands,
                )

                m, j = spec["split"]
                kw = dict(num_hashes=spec["h"], bands=spec["b"],
                          shingle_k=spec["k"], hash_fn="md5")
                return incremental_candidate_pairs(
                    minhash_bands(d.where(F.col("doc_id") % m == j), **kw),
                    minhash_bands(d.where(F.col("doc_id") % m != j), **kw),
                )
            return minhash_candidate_pairs(
                d, num_hashes=spec["h"], bands=spec["b"],
                shingle_k=spec["k"], hash_fn="md5",
            )
        return ngram_jaccard_pairs(
            d, shingle_k=spec["k"], threshold=spec["threshold"],
            max_doc_freq=spec["maxdf"],
        )
    if spec.get("kind") == "session":
        from pyspark_pipeline_framework_spark.operators.windows import (
            event_session_window,
        )

        df = table(spark, sf_dir, spec["base"])
        if spec["pred"]:
            df = df.filter(F.expr(spec["pred"]))
        unit = {"MINUTE": "minutes", "DAY": "days"}[spec["unit"]]
        return (
            event_session_window(df, spec["ts"], f"{spec['gap']} {unit}",
                                 group_by=[spec["group"]])
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(spec["group"],
                    F.col("win.start").alias("session_start"),
                    F.col("win.end").alias("session_end"), "n_events")
        )
    if t["op"] == "setop2":
        ta, tb = t["a"], t["b"]
        a = (table(spark, sf_dir, ta["table"]).filter(F.expr(ta["pred"]))
             .select(F.col(ta["col"]).alias(t["alias"])))
        b = (table(spark, sf_dir, tb["table"]).filter(F.expr(tb["pred"]))
             .select(F.col(tb["col"]).alias(t["alias"])))
        return {
            "union_all": a.unionAll, "intersect": a.intersect,
            "intersect_all": a.intersectAll, "except": a.subtract,
            "except_all": a.exceptAll,
        }[t["kind"]](b)
    if t["op"] == "setop":
        base = table(spark, sf_dir, spec["base"])
        a = base.filter(F.expr(t["pred_a"])).select(*t["cols"])
        b = base.filter(F.expr(t["pred_b"])).select(*t["cols"])
        return {
            "union_all": a.unionAll, "intersect": a.intersect,
            "intersect_all": a.intersectAll, "except": a.subtract,
            "except_all": a.exceptAll,
        }[t["kind"]](b)

    df = table(spark, sf_dir, spec["base"]) if base_df is None else base_df
    df = apply_stages(df, spec["stages"], spark, sf_dir)

    if t["op"] == "agg":
        exprs = []
        for a in t["aggs"]:
            c, fn = a["col"], a["fn"]
            e = {
                "count_star": lambda c: F.count(F.lit(1)),
                "count": F.count,
                "count_distinct": F.countDistinct,
                "min": F.min,
                "max": F.max,
                "sum_int": lambda c: F.sum(c).cast("bigint"),
                "sum_dbl": lambda c: F.sum(F.col(c).cast("decimal(38,6)")).cast("double"),
            }[fn](c)
            exprs.append(e.alias(a["alias"]))
        if t["keys"]:
            g = t.get("grouping", "plain")
            grouped = {"plain": df.groupBy, "rollup": df.rollup, "cube": df.cube}[g](*t["keys"])
            out = grouped.agg(*exprs)
        else:
            out = df.agg(*exprs)
        if t.get("having"):
            out = out.filter(F.expr(t["having"]))
        return out
    if t["op"] == "window":
        def ocol(c, d, n):
            col = F.col(c)
            if d == "ASC":
                return col.asc_nulls_first() if n == "FIRST" else col.asc_nulls_last()
            return col.desc_nulls_first() if n == "FIRST" else col.desc_nulls_last()

        w = Window.partitionBy(*t["part"])
        if t["order"]:
            w = w.orderBy(*[ocol(*o) for o in t["order"]])
        fn = t["fn"]
        col = {
            "rank": lambda: F.rank().over(w),
            "dense_rank": lambda: F.dense_rank().over(w),
            "row_number": lambda: F.row_number().over(w),
            "cnt": lambda: F.count(F.lit(1)).over(w).cast("bigint"),
            "sum_int": lambda: F.sum(t["arg"]).over(w).cast("bigint"),
            "max_int": lambda: F.max(t["arg"]).over(w),
            "lag": lambda: F.lag(t["arg"]).over(w),
            "sum_run": lambda: F.sum(t["arg"]).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("bigint"),
            "sum_slide": lambda: F.sum(t["arg"]).over(
                w.rowsBetween(-t.get("frame_n", 1), Window.currentRow)
            ).cast("bigint"),
            "percent_rank": lambda: F.percent_rank().over(w),
            "cume_dist": lambda: F.cume_dist().over(w),
            "ntile": lambda: F.ntile(t.get("ntile_n", 4)).over(w),
            "first_val": lambda: F.first(t["arg"]).over(w),
            "last_val": lambda: F.last(t["arg"]).over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        }[fn]()
        out = df.withColumn(t["alias"], col)
        if t["topk"] is not None:
            out = out.filter(F.col(t["alias"]) <= t["topk"])
        return out.select(*t["keep"], t["alias"])
    if t["op"] == "distinct":
        return df.select(*t["cols"]).distinct()
    if t["op"] == "sortlimit":
        def oc(c, d, n):
            col = F.col(c)
            if d == "ASC":
                return col.asc_nulls_first() if n == "FIRST" else col.asc_nulls_last()
            return col.desc_nulls_first() if n == "FIRST" else col.desc_nulls_last()
        return (df.orderBy(*[oc(*o) for o in t["order"]])
                  .limit(t["limit"]).select(*t["cols"]))
    raise AssertionError(t["op"])


# ---------------------------------------------------------------------------
# Harness
# ---------------------------------------------------------------------------

def is_known_empty_grouping_divergence(spec: dict, spdf, opdf) -> bool:
    """The one accepted engine divergence (module docstring): empty-input
    ROLLUP/CUBE — Spark emits 0 rows, the standard emits the grand-total
    grouping-set row (all keys NULL). Exactly that shape, nothing else."""
    term = spec["terminal"]
    return (
        len(spdf) == 0
        and len(opdf) == 1
        and term["op"] == "agg"
        and term.get("grouping") in ("rollup", "cube")
        and all(opdf[k].isnull().all() for k in term["keys"])
    )


def is_portable_sql(spec: dict) -> bool:
    """True when to_sql(spec) is ANSI SQL both engines parse — the
    framework op:sql differential needs this. DuckDB-only renderings:
    ASOF JOIN, unnest(string_split(...)), the WINDOW-clause session
    oracle, and json_extract_string (derive_json)."""
    if spec.get("kind") in ("asof", "explode", "session", "minhash", "ngram",
                            "spans", "ivf", "pq", "ivfpq", "textops", "dq",
                            "funnel", "retrieval", "bloom", "semdedup"):
        return False
    return not any(st["op"] == "derive_json" for st in spec["stages"])


def spec_tables(spec: dict) -> list[str]:
    """All parquet tables a spec reads (base + join right sides +
    cross-table set-op sides)."""
    t = spec["terminal"]
    if t["op"] == "setop2":
        return sorted({t["a"]["table"], t["b"]["table"]})
    if spec.get("kind") == "asof":
        return ["events", "orders"]
    if spec.get("kind") == "theta":
        return (["customer", "supplier"] if spec["variant"] == "supcust"
                else ["part"])
    if spec.get("kind") == "subq":
        if spec["mode"] == "scalar":
            return sorted({spec["base"], spec["inner_table"]})
        return sorted({spec["base"], spec["child"]})
    out = {spec["base"]}
    for st in spec["stages"]:
        if st["op"] == "join":
            out.add(st["right"])
    return sorted(out)


def probe_stats(con: duckdb.DuckDBPyConnection) -> dict:
    stats = {}
    for tname, meta in TABLES.items():
        for c, k in meta["cols"].items():
            if k in ("int", "dbl", "ts"):
                lo, hi = con.execute(
                    f"SELECT min({c}), max({c}) FROM {tname}").fetchone()
                stats[c] = (lo, hi)
    return stats


def spec_for(seed: int, i: int, stats: dict) -> dict:
    return Gen(random.Random(seed * 1_000_003 + i), stats).pipeline()


#: partition-invariance configurations (r9): each pipeline that matches
#: the oracle at the harness default (shuffle.partitions=8, AQE on) is
#: re-run under both extremes — a single shuffle partition with AQE
#: coalescing disabled, and a prime partition count larger than the
#: core count with AQE on. On a 1000-executor cluster the partition
#: count is the FIRST thing that changes, so any operator whose output
#: depends on it (per-partition ordering leaking into results, partition
#: -id-dependent hashing, non-commutative merge order) is a silent
#: wrong-answer at scale. Documented divergence list: currently EMPTY.
_PARTITION_CONFS = (
    {"spark.sql.shuffle.partitions": "1", "spark.sql.adaptive.enabled": "false"},
    {"spark.sql.shuffle.partitions": "37", "spark.sql.adaptive.enabled": "true"},
    # scan-split invariance: a 64 KiB split target forces many input
    # partitions at the parquet scan itself (the read-side analogue of
    # the shuffle knobs — on a cluster the split count follows file
    # layout, never semantics)
    {"spark.sql.files.maxPartitionBytes": "65536",
     "spark.sql.shuffle.partitions": "5",
     "spark.sql.adaptive.enabled": "true"},
)


def run(n: int, seed: int, sf_dir: str, only: set[int], dump: bool,
        ansi_dim: bool = False, part_dim: bool = False) -> int:
    from pyspark_pipeline_framework_spark.io.readers import STAR_TABLES
    from pyspark_pipeline_framework_spark.session import SparkConfig, build_session

    spark = build_session(SparkConfig(master="local[8]", shuffle_partitions=8))
    con = duckdb.connect()
    for tname in STAR_TABLES:
        p = f"{sf_dir}/{tname}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{p}')")
    stats = probe_stats(con)

    failures = []
    t_start = time.time()
    for i in range(n):
        if only and i not in only:
            continue
        spec = spec_for(seed, i, stats)
        sql = to_sql(spec)
        if dump:
            print(f"--- pipeline {i} ---")
            print(json.dumps(spec, indent=1))
            print(sql)
        t0 = time.time()
        try:
            spdf = to_spark(spec, spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(i)
            print(f"FAIL  #{i}: spark error: {ex}\n  spec={json.dumps(spec)}")
            continue
        try:
            opdf = con.execute(sql).df()
        except Exception as ex:
            failures.append(i)
            print(f"FAIL  #{i}: oracle error: {ex}\n  sql={sql}\n  spec={json.dumps(spec)}")
            continue
        scols, ocols = sorted(map(str.lower, spdf.columns)), sorted(map(str.lower, opdf.columns))
        if scols != ocols:
            failures.append(i)
            print(f"FAIL  #{i}: columns spark={scols} oracle={ocols}\n  spec={json.dumps(spec)}")
            continue
        spdf.columns = [c.lower() for c in spdf.columns]
        opdf.columns = [c.lower() for c in opdf.columns]
        if len(spdf) != len(opdf):
            if is_known_empty_grouping_divergence(spec, spdf, opdf):
                # documented Spark-vs-standard divergence: empty-input
                # ROLLUP/CUBE grand-total row (see module docstring)
                print(f"OK*   #{i} known divergence: empty-input "
                      f"{spec['terminal']['grouping']} grand-total row")
                continue
            failures.append(i)
            print(f"FAIL  #{i}: rows spark={len(spdf)} oracle={len(opdf)}\n  sql={sql}\n  spec={json.dumps(spec)}")
            continue
        srows, orows = _norm_df(spdf), _norm_df(opdf)
        if srows != orows:
            failures.append(i)
            bad = next(j for j, (a, b) in enumerate(zip(srows, orows)) if a != b)
            print(f"FAIL  #{i}: values differ at sorted-row {bad}:")
            print(f"      spark : {srows[bad]}")
            print(f"      oracle: {orows[bad]}")
            print(f"  sql={sql}\n  spec={json.dumps(spec)}")
            continue
        # ANSI-off differential dimension (r8 VERDICT item 4): Spark 3.x
        # default confs run ANSI off, where overflow/invalid-cast paths
        # return NULL instead of erroring. Every pipeline that completes
        # under ANSI on (no error path was hit) must produce IDENTICAL
        # results with ANSI off — any divergence is a silent-semantics
        # bug. Documented divergence list: currently EMPTY.
        if ansi_dim:
            spark.conf.set("spark.sql.ansi.enabled", "false")
            try:
                andf = to_spark(spec, spark, sf_dir).toPandas()
            except Exception as ex:
                failures.append(i)
                print(f"FAIL  #{i}: ansi-off error: {ex}\n  spec={json.dumps(spec)}")
                continue
            finally:
                spark.conf.set("spark.sql.ansi.enabled", "true")
            andf.columns = [c.lower() for c in andf.columns]
            arows = _norm_df(andf)
            if arows != srows:
                failures.append(i)
                bad = next((j for j, (a, b) in enumerate(zip(arows, srows))
                            if a != b), min(len(arows), len(srows)))
                print(f"FAIL  #{i}: ANSI-off diverges at sorted-row {bad}:")
                print(f"      ansi-on : {srows[bad] if bad < len(srows) else '<missing>'}")
                print(f"      ansi-off: {arows[bad] if bad < len(arows) else '<missing>'}")
                print(f"  spec={json.dumps(spec)}")
                continue
        # Partition-invariance dimension (r9): identical results under
        # 1-partition/AQE-off and 37-partition/AQE-on re-runs.
        if part_dim:
            part_fail = False
            for conf in _PARTITION_CONFS:
                saved = {k: spark.conf.get(k) for k in conf}
                for k, v in conf.items():
                    spark.conf.set(k, v)
                try:
                    pdf = to_spark(spec, spark, sf_dir).toPandas()
                except Exception as ex:
                    failures.append(i)
                    print(f"FAIL  #{i}: partition-dim error under {conf}: "
                          f"{ex}\n  spec={json.dumps(spec)}")
                    part_fail = True
                    break
                finally:
                    for k, v in saved.items():
                        spark.conf.set(k, v)
                pdf.columns = [c.lower() for c in pdf.columns]
                prows = _norm_df(pdf)
                if prows != srows:
                    failures.append(i)
                    bad = next((j for j, (a, b) in enumerate(zip(prows, srows))
                                if a != b), min(len(prows), len(srows)))
                    print(f"FAIL  #{i}: partition-dim diverges under {conf} "
                          f"at sorted-row {bad}:")
                    print(f"      base : {srows[bad] if bad < len(srows) else '<missing>'}")
                    print(f"      refit: {prows[bad] if bad < len(prows) else '<missing>'}")
                    print(f"  spec={json.dumps(spec)}")
                    part_fail = True
                    break
            if part_fail:
                continue
        print(f"OK    #{i} {spec['terminal']['op']:<9} over {spec['base']:<9} "
              f"({len(spdf)} rows, {time.time() - t0:.1f}s)"
              + (" [ansi-off =]" if ansi_dim else "")
              + (" [part-inv =]" if part_dim else ""))

    ran = len(only) if only else n
    print(f"\n{ran} pipelines, {len(failures)} mismatches, "
          f"{time.time() - t_start:.0f}s (seed={seed})"
          + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, default=200)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.01"))
    ap.add_argument("--only", default="", help="comma-separated pipeline indices")
    ap.add_argument("--dump", action="store_true")
    ap.add_argument("--twins", type=int, default=0, metavar="N",
                    help="instead of SQL-differential pipelines, run N "
                         "randomized twin-agreement pipelines for the "
                         "no-oracle rows (tools/twinfuzz.py)")
    ap.add_argument("--ansi", action="store_true",
                    help="ANSI-off differential dimension: re-run each "
                         "pipeline with spark.sql.ansi.enabled=false and "
                         "assert identical results")
    ap.add_argument("--partitions", action="store_true",
                    help="partition-invariance dimension: re-run each "
                         "pipeline under shuffle.partitions=1/AQE-off and "
                         "=37/AQE-on and assert identical results")
    a = ap.parse_args()
    only = {int(x) for x in a.only.split(",") if x.strip()}
    if a.twins:
        import twinfuzz

        return twinfuzz.run(a.twins, a.seed, a.sf, only)
    return run(a.n, a.seed, a.sf, only, a.dump, ansi_dim=a.ansi,
               part_dim=a.partitions)


if __name__ == "__main__":
    raise SystemExit(main())
