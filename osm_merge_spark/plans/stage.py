"""Keep a heavy per-row expression evaluated once.

Catalyst copies a projected expression into every consumer it pushes a
condition into: a ``filter`` over a projected column is pushed below the
projection (and into a join condition below that) with the column's whole
expression inlined, so the expression runs once in the filter and again in
the projection.  For a cheap column that is free; for a normalized name (15
chained ``regexp_replace``) or a per-pair ``array_intersect`` it doubles the
stage's cost, and nothing in the formatted plan says so unless one counts
calls.

:func:`keep_where` is the filter that stays put.  It is a generator that
emits each row 0 or 1 times, which the optimizer neither pushes through
(its condition reads the generator's input) nor infers a filter from (the
input is not a bare column).  Project the heavy expression once, then
``keep_where`` on the projected column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def keep_where(df: DataFrame, cond: Column) -> DataFrame:
    """``df.filter(cond)`` that is evaluated where it is written, over the
    columns of ``df`` as projected; same columns, same rows."""
    row = F.struct(*[F.col(f"`{c}`") for c in df.columns])
    return df.select(F.inline(F.when(cond, F.array(row))))
