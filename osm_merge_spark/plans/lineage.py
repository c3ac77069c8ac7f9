"""Checkpointed, resumable batch execution with per-partition lineage.

North-rule requirement (BASELINE.json): "checkpoints per-partition with
lineage and row-count metrics for resumable runs".  The reference's analog is
tmp-file chunking (`osm_merge/utilities/mvum.py:317-371`) and skip-if-exists
resumability (`osm_merge/fieldwork/basemapper.py:219-237`).

Design: work is split into ``n_buckets`` buckets by a hash of each primary
feature's id (:func:`bucket_of`; buckets are not spatially coherent, so a
bucket's features are spread over the whole map).  Each bucket runs its
job — many Spark jobs, not one: an untraced perfbench ``conflate-roads``
bucket starts ~22 (44 per two-bucket operation, counted per job group with
``statusTracker`` at seed 3) — writes its output under ``out/bucket=<k>/``
and appends one lineage row:

    run_id, bucket, input_rows, output_rows, wall_ms, finished_at

A resumed run reads the lineage table first and skips completed buckets —
crash-at-bucket-17 costs buckets 17.. only.  At cluster scale the same
pattern holds with buckets sized to O(executors × few) jobs.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def bucket_of(col, n_buckets: int):
    """Deterministic bucket assignment (id-hash based; spatially-coherent
    alternatives plug in here)."""
    return F.pmod(F.abs(F.hash(col)), F.lit(n_buckets))


def completed_buckets(spark: SparkSession, lineage_path: str, run_id: str) -> set[int]:
    """Buckets already recorded for ``run_id``; empty on a fresh run, where
    the lineage table does not exist yet.  Existence is asked of the Hadoop
    FileSystem, so a fresh run reads nothing and logs no failed read."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(lineage_path)
    if not path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(path):
        return set()
    rows = spark.read.parquet(lineage_path).filter(F.col("run_id") == run_id).select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def append_lineage(
    spark: SparkSession,
    lineage_path: str,
    run_id: str,
    bucket: int,
    input_rows: int,
    output_rows: int,
    wall_ms: int,
) -> None:
    row = [(run_id, bucket, input_rows, output_rows, wall_ms, datetime.now(timezone.utc).isoformat())]
    df = spark.createDataFrame(
        row, "run_id string, bucket int, input_rows long, output_rows long, wall_ms long, finished_at string"
    )
    df.write.mode("append").parquet(lineage_path)


def run_bucketed(
    spark: SparkSession,
    primary: DataFrame,
    job,
    out_path: str,
    run_id: str,
    id_col: str = "ext_id",
    n_buckets: int = 8,
) -> dict:
    """Run ``job(primary_bucket) -> DataFrame`` per bucket with checkpoint +
    lineage; skips buckets already recorded for this run_id (resume).

    Returns {"completed": [...], "skipped": [...], "output_rows": N}.
    """
    from pyspark.sql import Observation

    lineage_path = f"{out_path}/_lineage"
    done = completed_buckets(spark, lineage_path, run_id)
    completed, skipped = [], []
    total_out = 0
    # one pass over the primary: cache the bucketed frame and take every
    # bucket's input count from a single groupBy (n_buckets re-scans + a
    # count() per bucket otherwise — ~3×n_buckets source reads)
    withb = primary.withColumn("__bucket", bucket_of(F.col(id_col), n_buckets)).persist()
    in_counts = {r["__bucket"]: r["n"] for r in withb.groupBy("__bucket").agg(F.count("*").alias("n")).collect()}
    try:
        for b in range(n_buckets):
            if b in done:
                skipped.append(b)
                continue
            t0 = time.time()
            part = withb.filter(F.col("__bucket") == b).drop("__bucket")
            out = job(part)
            # output rows observed on the write itself — no read-back scan
            obs = Observation(f"lineage_b{b}")
            out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
                f"{out_path}/bucket={b}"
            )
            n_out = int(obs.get["n"])
            append_lineage(
                spark, lineage_path, run_id, b, int(in_counts.get(b, 0)), n_out, int((time.time() - t0) * 1000)
            )
            completed.append(b)
            total_out += n_out
    finally:
        withb.unpersist()
    return {"completed": completed, "skipped": skipped, "output_rows": total_out}


def lineage_report(spark: SparkSession, out_path: str) -> DataFrame:
    """The metrics table: per-bucket rows in/out and wall time."""
    return spark.read.parquet(f"{out_path}/_lineage").orderBy("run_id", "bucket")
