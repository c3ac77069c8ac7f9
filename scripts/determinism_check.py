#!/usr/bin/env python
"""Driver-hash stability probe: run registry queries at TWO different
parallelism/shuffle-partition configs at sf0.01 and byte-compare the sorted
results (columns sorted by name, rows sorted — the driver's hash shape).

This catches the one failure mode a single-config `oracle_check.py` pass
cannot: a Spark-side result that depends on partitioning — float SUM/AVG
over a partition-order-dependent schedule, first/last without ordering,
limit-without-sort.  Every operator in this engine that aggregates floats
into a recorded value either uses DECIMAL/bigint accumulation or derives
the float per-row from integers for exactly this reason (e.g. the exact
fixed-point PageRank, operators/graph.py; DECIMAL rollups, queries.py).

Usage: python scripts/determinism_check.py [name ...]   (default: the
driver's 50-row recording window).  Exit 0 = all stable.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"
CONFIGS = [("local[4]", 7), ("local[16]", 64)]


def _canon(v):
    """Order-stable string form for unorderable cells (dict/list/ndarray/
    bytes); floats inside keep repr (17-digit) precision."""
    if isinstance(v, dict):
        return repr(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return repr([_canon(x) for x in v])
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def _run_all(master: str, parts: int, names: list[str]) -> dict[str, str]:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(master)
        .appName("determinism-check")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict[str, str] = {}
    for n in names:
        try:
            pdf = qs[n](spark, SF).toPandas()
            pdf = pdf[sorted(pdf.columns)]
            # maps/arrays arrive as dict/ndarray object cells, which
            # sort_values cannot order — canonicalize them to strings
            # first (dicts by sorted key so Spark's map ordering, which
            # is not guaranteed, can never masquerade as nondeterminism)
            for c in pdf.columns:
                if pdf[c].dtype == object:
                    pdf[c] = pdf[c].map(_canon)
            pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
            out[n] = hashlib.md5(
                pdf.to_csv(index=False, float_format="%.17g").encode()
            ).hexdigest()
        except Exception as e:  # an error string never equals a hash
            out[n] = f"ERR:{type(e).__name__}:{str(e)[:120]}"
    spark.stop()
    return out


def main(names: list[str]) -> int:
    import __spark_entry__ as entry

    if not names:
        names = list(entry.queries())[: entry._DRIVER_ROW_CAP]
    (m1, p1), (m2, p2) = CONFIGS
    a = _run_all(m1, p1, names)
    b = _run_all(m2, p2, names)
    bad = [n for n in names if a[n] != b[n] or a[n].startswith("ERR:")]
    for n in bad:
        print(f"MISMATCH {n}: {a[n]} vs {b[n]}")
    print(f"{len(names) - len(bad)}/{len(names)} stable across {m1}/{p1} vs {m2}/{p2}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
