"""Checkpoint/lineage/resume + structured streaming tests."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from osm_merge_spark.plans import lineage as L
from osm_merge_spark.streaming import events as ST


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="oms-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_bucketed_checkpoint_and_resume(spark, tmpdir):
    src = spark.range(0, 1000).select(F.col("id").alias("ext_id"), (F.col("id") * 2).alias("v"))

    calls = []

    def job(part):
        calls.append(1)
        return part.withColumn("out", F.col("v") + 1)

    r1 = L.run_bucketed(spark, src, job, tmpdir + "/out", run_id="r1", n_buckets=4)
    assert len(r1["completed"]) == 4 and not r1["skipped"]
    assert r1["output_rows"] == 1000

    # resume: same run_id → all buckets skipped, no job calls
    n_calls = len(calls)
    r2 = L.run_bucketed(spark, src, job, tmpdir + "/out", run_id="r1", n_buckets=4)
    assert len(r2["skipped"]) == 4 and not r2["completed"]
    assert len(calls) == n_calls

    # lineage metrics: rows in == rows out per bucket, positive wall time
    rep = L.lineage_report(spark, tmpdir + "/out").toPandas()
    assert len(rep) == 4
    assert (rep["input_rows"] == rep["output_rows"]).all()
    assert (rep["input_rows"].sum()) == 1000
    assert (rep["wall_ms"] >= 0).all()

    # a new run_id reruns everything
    r3 = L.run_bucketed(spark, src, job, tmpdir + "/out", run_id="r2", n_buckets=4)
    assert len(r3["completed"]) == 4


def test_partial_resume_after_simulated_crash(spark, tmpdir):
    src = spark.range(0, 100).select(F.col("id").alias("ext_id"))

    class Boom(Exception):
        pass

    state = {"fail_at": 2, "n": 0}

    def flaky(part):
        if state["n"] == state["fail_at"]:
            raise Boom()
        state["n"] += 1
        return part

    with pytest.raises(Boom):
        L.run_bucketed(spark, src, flaky, tmpdir + "/out", run_id="r1", n_buckets=4)
    state["fail_at"] = -1
    r = L.run_bucketed(spark, src, flaky, tmpdir + "/out", run_id="r1", n_buckets=4)
    assert len(r["skipped"]) == 2  # the two buckets that finished pre-crash
    assert len(r["completed"]) == 2
    rep = L.lineage_report(spark, tmpdir + "/out").toPandas()
    assert rep["input_rows"].sum() == 100


def test_streaming_windowed_counts_matches_batch(spark, tmpdir):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.parquet(tmpdir + "/src")

    ST.run_available_now(spark, tmpdir + "/src", tmpdir + "/out", tmpdir + "/ckpt")
    got = spark.read.parquet(tmpdir + "/out")

    # append-mode watermarking never emits windows still above the final
    # watermark (max_ts - 2h) — restrict the batch oracle to emittable ones
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    exp = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
        .filter(F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
    )
    g = got.select("window_start", "event_type", "n_events", "total_value").toPandas()
    e = exp.drop("window_end").toPandas()
    key = ["window_start", "event_type"]
    g = g.sort_values(key).reset_index(drop=True)
    e = e.sort_values(key).reset_index(drop=True)
    assert len(g) == len(e)
    assert (g["n_events"].values == e["n_events"].values).all()

    # checkpointed: a second availableNow run adds nothing
    ST.run_available_now(spark, tmpdir + "/src", tmpdir + "/out", tmpdir + "/ckpt")
    assert spark.read.parquet(tmpdir + "/out").count() == len(g)


def test_stateful_sessionization_with_restart(spark, tmpdir):
    """applyInPandasWithState sessionizer: gap-split within a run, event-time
    timeout via watermark, and state surviving a query restart (same
    checkpoint, two availableNow invocations)."""
    import pandas as pd

    from osm_merge_spark.streaming import sessions as SS

    src = f"{tmpdir}/events_src"
    out = f"{tmpdir}/sessions_out"
    ckpt = f"{tmpdir}/sessions_ckpt"

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(f"{src}/../{name}")
        import glob
        import os
        import shutil as sh

        os.makedirs(src, exist_ok=True)
        for f in glob.glob(f"{src}/../{name}/part-*.parquet"):
            sh.copy(f, f"{src}/{name}.parquet")

    # run 1: user 1 has two events 5 min apart, user 2 one event — all open
    write_batch("b1", [
        (1, "2026-01-01 10:00:00", 1, "click", 1.0, ""),
        (2, "2026-01-01 10:05:00", 1, "click", 2.0, ""),
        (3, "2026-01-01 10:00:00", 2, "view", 5.0, ""),
    ])
    SS.run_sessions_available_now(spark, src, out, ckpt, gap="10 minutes")
    import os

    assert not os.path.exists(out) or spark.read.parquet(out).count() == 0

    # run 2 (restart, same checkpoint): two later files — the first advances
    # the watermark and user 1's 13:00 event gap-splits their old session;
    # the second batch's watermark (13:00) times out user 2's session
    write_batch("b2", [(4, "2026-01-01 13:00:00", 1, "click", 3.0, "")])
    write_batch("b3", [(5, "2026-01-01 13:05:00", 1, "click", 4.0, "")])
    SS.run_sessions_available_now(spark, src, out, ckpt, gap="10 minutes")

    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert (1, "2026-01-01 10:00:00", "2026-01-01 10:05:00", 2, 3.0) in got
    assert (2, "2026-01-01 10:00:00", "2026-01-01 10:00:00", 1, 5.0) in got
    # user 1's second session (13:00-13:05) is still open — not emitted yet
    assert len(got) == 2


def test_stream_dedup_across_microbatches(spark, tmpdir):
    """A key appearing in two separate input files (one file per trigger →
    two micro-batches) must survive only once: the dedup state carries
    across batches within the watermark horizon."""
    import pandas as pd

    base = str(tmpdir)
    src, out, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    t0 = pd.Timestamp("2024-01-01 10:00:00")
    rows1 = pd.DataFrame({
        "event_id": [1, 2, 3],
        "ts": [t0, t0 + pd.Timedelta(minutes=1), t0 + pd.Timedelta(minutes=2)],
        "user_id": [7, 7, 8],
        "event_type": ["a", "b", "a"],
        "value": [1.0, 2.0, 3.0],
        "props": ["", "", ""],
    })
    rows2 = pd.DataFrame({
        "event_id": [4, 5],
        "ts": [t0 + pd.Timedelta(minutes=3), t0 + pd.Timedelta(minutes=4)],
        "user_id": [7, 9],             # (7, a) is a dup of file 1
        "event_type": ["a", "z"],
        "value": [4.0, 5.0],
        "props": ["", ""],
    })
    spark.createDataFrame(rows1).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(rows2).coalesce(1).write.parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema(ST.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        ST.dedup_stream(stream, ["user_id", "event_type"], watermark="10 hours")
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(out).select("user_id", "event_type").collect()
    )
    assert got == [(7, "a"), (7, "b"), (8, "a"), (9, "z")]


def test_interval_join_streams_bounds(spark):
    """Inclusive [p.ts - gap, p.ts] window; cross-user pairs never match.
    (withWatermark is a no-op on a batch frame, so the join semantics are
    testable without a streaming sink; q_stream_stream_join drives the
    real availableNow drain.)"""
    import datetime as dt
    import pandas as pd
    from osm_merge_spark.streaming import events as SE

    t = lambda s: dt.datetime(2026, 1, 1, 1, 0, s)
    purchases = spark.createDataFrame(pd.DataFrame({
        "event_id": [1, 2],
        "user_id": [10, 20],
        "ts": [t(0), t(0)],
        "event_type": ["purchase"] * 2,
    }))
    clicks = spark.createDataFrame(pd.DataFrame({
        "event_id": [100, 101, 102, 103],
        "user_id": [10, 10, 10, 20],
        # -1h exactly (inclusive), inside, after purchase (excluded), wrong user ok
        "ts": [dt.datetime(2026, 1, 1, 0, 0, 0), t(0), dt.datetime(2026, 1, 1, 1, 0, 1), t(0)],
        "event_type": ["click"] * 4,
    }))
    got = (
        SE.interval_join_streams(purchases, clicks)
        .orderBy("p_id", "click_id")
        .toPandas()
    )
    assert list(zip(got["p_id"], got["click_id"])) == [(1, 100), (1, 101), (2, 103)]


def test_completed_buckets_missing_path_reads_nothing(spark, tmpdir):
    sc = spark.sparkContext
    sc.setJobGroup("completed-buckets-missing", "fresh run")
    try:
        assert L.completed_buckets(spark, tmpdir + "/absent/_lineage", "r1") == set()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("completed-buckets-missing")) == []
    L.append_lineage(spark, tmpdir + "/_lineage", "r1", 3, 10, 10, 1)
    assert L.completed_buckets(spark, tmpdir + "/_lineage", "r1") == {3}
    assert L.completed_buckets(spark, tmpdir + "/_lineage", "r2") == set()
