#!/usr/bin/env python
"""Whole-registry physical-plan audit: build every queries() entry at
sf0.001 and assert the 100 TB anti-pattern contract on each formatted plan:

- no CartesianProduct (an unbroadcast all-pairs join would be quadratic);
- no BatchEvalPython (row-at-a-time Python in any hot path);
- BroadcastNestedLoopJoin only where a documented tiny broadcast side makes
  it the idiomatic scalar/demo shape (allowlist below);
- formatted plan under PLAN_CHAR_CAP — a tree bomb regression guard: the
  masked-CASE with_ivf_cells compounded to a 1.7 MB plan under projection
  collapse and could OOM a default-1g driver JVM during optimization
  (fixed 2026-08-19; see operators/similarity.py docstrings).

Each line also shows, as information only, the most repeated heavy calls
in the query's optimized plan (:func:`heavy_calls`): a heavy expression
copied into many consumers is evaluated once per copy; and the columns of
the query's widest shuffle exchange (:func:`exchange_columns`): every value
an exchange row carries is written, read and hashed once per row.

Usage: python scripts/plan_audit.py  →  exit 0 clean / 1 with findings.
tests/test_plan_audit.py pins the high-risk subset on every pytest run;
this script is the full-registry sweep.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
BAD = ("CartesianProduct", "BatchEvalPython")
PLAN_CHAR_CAP = 300_000

# BroadcastNestedLoopJoin is how Spark prints a keyless join whose build
# side is broadcast; with a tiny build side it is the *right* plan.  Each
# entry names the tiny side.
BNLJ_ALLOWED = {
    "q_cosine_topk": "documented exact-ANN demo baseline (small probe set crossJoin)",
    "q_sq8_topk": "same demo-baseline parameterization as q_cosine_topk",
    "q_sparse_cosine": "small probe set against the inverted postings",
    "q_dsir_weights": "1-row corpus-total attach (curation.py)",
    "q_exact_quantiles": "1-row global-count attach",
    "q_zorder_buckets": "2-value global min/max stats attach (layout.py)",
}


def plan_of(df) -> str:
    """Formatted physical plan of a pristine (uncached) frame — the one
    plan-extraction helper shared by the audit and tests/test_plan_audit.py."""
    df.sparkSession.catalog.clearCache()
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# Calls whose per-row cost dominates an expression, as the optimized plan
# prints them: regexes (each a scan of the string), the mercator tile math,
# per-pair set intersections, and lambdas (evaluated without generated code
# or shared subexpressions).
HEAVY_CALLS = (
    "regexp_replace(",
    "regexp_extract(",
    "RLIKE(",
    "ASINH(",
    "TAN(",
    "array_intersect(",
    "lambdafunction(",
)


def heavy_calls(df) -> Counter:
    """How often each heavy call appears in ``df``'s optimized logical plan
    (calls that do not appear are left out).  A count above the number of
    distinct heavy expressions the query needs means some expression was
    copied, by the author or by the optimizer, into several consumers."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    counts = {c: len(re.findall(r"(?<!\w)" + re.escape(c), plan)) for c in HEAVY_CALLS}
    return Counter({c: k for c, k in counts.items() if k})


def exchange_columns(df) -> list[dict]:
    """Each shuffle exchange in ``df``'s physical plan (before execution, as
    AQE starts it; persisted frames included):
    ``{"partitioning": str, "columns": [(name, type)]}``, the columns being
    the exchange's output, i.e. what every shuffled row carries.  Broadcast
    exchanges are left out."""
    found, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        if name.startswith("InMemoryTableScan"):  # a persisted frame's plan
            todo.append(node.relation().cachedPlan())
            continue
        if name == "Exchange":
            out = node.output()
            cols = [out.apply(i) for i in range(out.size())]
            found.append({
                "partitioning": node.outputPartitioning().toString(),
                "columns": [(a.name(), a.dataType().simpleString()) for a in cols],
            })
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return found


def widest_exchange(df) -> str:
    """The exchange whose rows carry the most columns, as
    "widest exchange n cols (typexk ...)" (empty when the plan has no
    shuffle)."""
    exchanges = exchange_columns(df)
    if not exchanges:
        return ""
    cols = max((x["columns"] for x in exchanges), key=len)
    types = Counter(t for _, t in cols)
    return f"widest exchange {len(cols)} cols (" + " ".join(f"{t}x{k}" for t, k in types.most_common()) + ")"


def audit(names: list[str] | None = None) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    selected = names or list(qs)
    findings: list[str] = []
    for name in selected:
        try:
            df = qs[name](spark, SF)
            plan = plan_of(df)
            heavy = heavy_calls(df)
            wide = widest_exchange(df)
        except Exception as e:  # a query that cannot even plan is a finding
            findings.append(f"{name}: failed to build plan: {str(e)[:200]}")
            print(f"BAD  {name}: failed to build plan", flush=True)
            continue
        mine: list[str] = []
        for bad in BAD:
            if bad in plan:
                mine.append(f"{name}: {bad} in physical plan")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            mine.append(
                f"{name}: BroadcastNestedLoopJoin not in the documented allowlist"
            )
        if len(plan) > PLAN_CHAR_CAP:
            mine.append(
                f"{name}: formatted plan {len(plan)} chars > {PLAN_CHAR_CAP} "
                "(expression-tree bomb — see similarity.with_ivf_cells history)"
            )
        findings.extend(mine)
        top = " ".join(f"{c}x{k}" for c, k in heavy.most_common(3))
        print(f"{'BAD ' if mine else 'ok  '} {name}: {len(plan)} chars  {top}  {wide}".rstrip(), flush=True)
    print()
    if findings:
        print("FINDINGS:")
        for f in findings:
            print(" ", f)
        return 1
    print(f"{len(selected)}/{len(selected)} plans clean")
    return 0


if __name__ == "__main__":
    sys.exit(audit(sys.argv[1:] or None))
