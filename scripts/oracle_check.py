#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run every queries() entry
through Spark AND its oracle_sql() through DuckDB at sf0.01, compare
row count, column names, and exact values (columns sorted by name, rows
sorted) — stricter than the driver's hash, so passing here implies passing
there.

Usage: python scripts/oracle_check.py [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main(names: list[str]) -> int:
    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    selected = names or list(queries)
    failures = []
    for name in selected:
        fn = queries[name]
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append((name, f"spark error: {str(e)[:300]}"))
            print(f"FAIL {name}: spark error\n  {str(e)[:500]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"OK?  {name}: rows-only ({len(got)} rows)")
            if len(got) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            failures.append((name, f"duckdb error: {str(e)[:300]}"))
            print(f"FAIL {name}: duckdb error\n  {str(e)[:500]}")
            continue

        problems = []
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"columns differ: spark={sorted(got.columns)} duckdb={sorted(exp.columns)}")
        elif len(got) != len(exp):
            problems.append(f"row count: spark={len(got)} duckdb={len(exp)}")
        else:
            cols = sorted(got.columns)
            # result-TYPE equality (r5, VERDICT r4 item 5): the driver's value
            # hash is type-sensitive — DuckDB typing an integer SUM as
            # DECIMAL/HUGEINT lands in pandas as float64 while Spark returns
            # int64, hashing differently even when values agree.  Comparing
            # pandas dtype kinds catches that locally before the driver does.
            # (kind, not dtype: int32-vs-int64 both render identically in the
            # driver's value serialization; int-vs-float does not.)
            for c in cols:
                gk, ek = got[c].dtype.kind, exp[c].dtype.kind
                if gk != ek and not {gk, ek} <= {"i", "u"}:
                    problems.append(
                        f"col {c}: dtype kind differs: spark={got[c].dtype} "
                        f"duckdb={exp[c].dtype} — driver hash will mismatch; cast in the SQL twin"
                    )
            g = got[cols].sort_values(cols).reset_index(drop=True)
            e = exp[cols].sort_values(cols).reset_index(drop=True)
            for c in cols:
                gv, ev = g[c], e[c]
                if gv.dtype.kind == "f" or ev.dtype.kind == "f":
                    mism = ~np.isclose(gv.astype(float), ev.astype(float), atol=0, rtol=0, equal_nan=True)
                else:
                    both_null = gv.isna() & ev.isna()
                    mism = ~(both_null | (gv == ev))
                ok = not np.asarray(mism).any()
                if not ok:
                    idx = np.nonzero(np.asarray(mism))[0][:3]
                    problems.append(
                        f"col {c}: {int(np.asarray(mism).sum())} mismatches, e.g. rows {idx.tolist()}: "
                        f"spark={gv.iloc[idx].tolist()} duckdb={ev.iloc[idx].tolist()}"
                    )
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"OK   {name}: {len(got)} rows, exact match")

    print(f"\n{len(selected) - len(failures)}/{len(selected)} passed")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
