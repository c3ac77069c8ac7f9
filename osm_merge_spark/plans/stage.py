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

A Python UDF is the heaviest per-row expression there is, and the same
inlining evaluates it twice (two stacked ``ArrowEvalPython`` nodes).
:func:`with_batch_columns` is the Python boundary that evaluates once by
construction: one ``mapInArrow`` pass that appends the kernel's columns to
each Arrow record batch, which no filter can be pushed into.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def keep_where(df: DataFrame, cond: Column) -> DataFrame:
    """``df.filter(cond)`` that is evaluated where it is written, over the
    columns of ``df`` as projected; same columns, same rows."""
    row = F.struct(*[F.col(f"`{c}`") for c in df.columns])
    return df.select(F.inline(F.when(cond, F.array(row))))


def with_batch_columns(
    df: DataFrame,
    fields: list[T.StructField],
    kernel: Callable[[pa.RecordBatch], tuple],
    consumed: Sequence[str] = (),
) -> DataFrame:
    """``df`` with ``fields`` appended, computed by ``kernel`` over each Arrow
    record batch in one ``mapInArrow`` pass.

    ``kernel(batch)`` returns ``(rows, columns)``: one NumPy (or Arrow)
    array per field, and ``rows`` either None (one output row per input row,
    in order) or the input row index of each output row, so a row may repeat
    or vanish (an explode).  NaN comes out as null, as it does from a pandas
    UDF.  The ``consumed`` columns are read by the kernel and left out of
    the output: Catalyst cannot prune a column through ``mapInArrow``, so a
    column carried back would cross the boundary a second time and ride
    every row to the consumer's projection.
    """
    kept = [i for i, f in enumerate(df.schema.fields) if f.name not in consumed]
    # a new StructType: ``df.schema`` is cached, and ``.add`` would mutate it
    schema = T.StructType([df.schema.fields[i] for i in kept] + fields)
    names = schema.fieldNames()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            rows, columns = kernel(batch)
            batch = batch.select(kept)
            if rows is not None:
                batch = batch.take(pa.array(rows))
            added = [c if isinstance(c, pa.Array) else pa.array(c, from_pandas=True) for c in columns]
            yield pa.RecordBatch.from_arrays(batch.columns + added, names=names)

    return df.mapInArrow(run, schema)
