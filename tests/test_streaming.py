"""Batch/stream parity: the streaming tumbling window over the events
parquet (availableNow backfill) must produce exactly the batch t01
result, and streaming dedup must keep one row per key."""

from __future__ import annotations

from big_data_bowl_spark.queries.temporal import t01_tumbling_window
from big_data_bowl_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    streaming_dedup,
    tumbling_counts,
)


def canon(rows):
    return sorted(
        (r.window_start, r.window_end, r.event_type, r.n_events, r.sum_value)
        for r in rows
    )


def test_stream_matches_batch_tumbling(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    # complete mode: windowed agg on a bounded backlog emits final rows
    run_to_memory(
        tumbling_counts(stream), "stream_tumbling", output_mode="complete"
    )
    got = canon(spark.table("stream_tumbling").collect())
    want = canon(t01_tumbling_window(spark, sf_dir).collect())
    assert got == want


def test_streaming_dedup_unique_keys(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    deduped = streaming_dedup(stream, keys=["user_id"])
    run_to_memory(deduped, "stream_dedup", output_mode="append")
    rows = spark.table("stream_dedup").collect()
    user_ids = [r.user_id for r in rows]
    assert len(user_ids) == len(set(user_ids))
    assert len(user_ids) > 0


def test_stream_matches_batch_sliding(spark, sf_dir):
    from big_data_bowl_spark.queries.temporal import t02_sliding_window
    from big_data_bowl_spark.streaming.windows import sliding_sums

    stream = read_events_stream(spark, sf_dir)
    run_to_memory(
        sliding_sums(stream), "stream_sliding", output_mode="complete"
    )
    canon2 = lambda rows: sorted(  # noqa: E731
        (r.window_start, r.window_end, r.n_events, r.sum_value)
        for r in rows
    )
    got = canon2(spark.table("stream_sliding").collect())
    want = canon2(t02_sliding_window(spark, sf_dir).collect())
    assert got == want
    # every event lands in exactly 2 sliding buckets
    n_events = sum(n for _ws, _we, n, _s in want)
    from big_data_bowl_spark.sources.io import load_table
    assert n_events == 2 * load_table(spark, sf_dir, "events").count()


def test_e06_append_withholds_unfinalized_windows(spark, sf_dir):
    """The streaming pipeline's append-mode output must be a strict
    subset of the batch computation: every emitted window matches
    the batch count exactly, and the trailing windows not yet past
    the watermark are withheld (the exactly-once contract — a
    downstream writer never sees a count that could still grow)."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    got = {
        (r.window_start, r.event_type): r.n_active
        for r in REGISTRY["e06_streaming_pipeline"].fn(
            spark, sf_dir
        ).collect()
    }
    assert got
    full = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 5.0)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("hour", "ts").alias("hr"),
        )
        .distinct()
        .groupBy(F.window("hr", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    )
    batch = {(r.ws, r.event_type): r.n for r in full}
    assert set(got) < set(batch)  # strictly withheld tail
    for k, n in got.items():
        assert batch[k] == n
    withheld = {ws for ws, _t in set(batch) - set(got)}
    emitted = {ws for ws, _t in got}
    # only the TRAILING windows (those the watermark has not passed)
    # are withheld — nothing mid-stream goes missing
    assert min(withheld) >= max(emitted)


def test_e06_watermark_boundary_window_is_emitted(spark, tmp_path):
    """Planted boundary case (ADVICE r6): when the max event hour is
    exactly 2h past a 6-hour window boundary, the final watermark
    EQUALS that window's end — and Spark append mode DOES emit a
    window whose end equals the watermark. The oracle must therefore
    keep windows with window_end <= cutoff (not strictly <), or it
    spuriously fails whenever max_hr ≡ 2h (mod 6h). This pins both
    the Spark behavior and the oracle on the same planted lake."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from big_data_bowl_spark.queries import REGISTRY

    # hours 00:00..08:00 on one day: max hr = 08:00 -> watermark
    # 06:00, which is EXACTLY the end of window [00:00, 06:00)
    hours = list(range(9))
    tbl = pa.table(
        {
            "user_id": pa.array([100 + h for h in hours], pa.int64()),
            "event_type": pa.array(["click"] * len(hours)),
            "ts": pa.array(
                [datetime(2024, 1, 1, h, 15, 0) for h in hours],
                pa.timestamp("us"),
            ),
            "value": pa.array([10.0] * len(hours), pa.float64()),
        }
    )
    path = tmp_path / "events.parquet"
    pq.write_table(tbl, str(path))

    q = REGISTRY["e06_streaming_pipeline"]
    got = sorted(
        (r.window_start, r.window_end, r.event_type, r.n_active)
        for r in q.fn(spark, str(tmp_path)).collect()
    )
    # the boundary window [00:00, 06:00) (6 distinct user-hours) IS
    # emitted; [06:00, 12:00) is still open and withheld
    assert got == [
        (
            datetime(2024, 1, 1, 0, 0),
            datetime(2024, 1, 1, 6, 0),
            "click",
            6,
        )
    ]
    # and the oracle, replayed on the same planted lake, agrees
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert want == got


def test_merge_sink_idempotent_under_redelivery(spark, tmp_path):
    """The foreachBatch MERGE sink must make at-least-once delivery
    exactly-once downstream: re-applying a committed batchId is a
    no-op (batchId guard), a NEW batch with overlapping keys REPLACES
    them and inserts the rest while keeping untouched target rows
    (MERGE semantics), and a stale batchId arriving after a newer one
    never regresses the snapshot."""
    from big_data_bowl_spark.streaming.sinks import (
        last_committed_batch,
        merge_batch_into_snapshot,
    )

    path = str(tmp_path / "snap")
    read = lambda: {  # noqa: E731
        (r.k, r.g): r.v for r in spark.read.parquet(path).collect()
    }
    b0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0)], "k long, g string, v double"
    )
    assert merge_batch_into_snapshot(spark, b0, path, ["k", "g"], 0)
    assert read() == {(1, "a"): 10.0, (2, "a"): 20.0}
    assert last_committed_batch(path) == 0

    # re-delivery of batch 0 (crash before checkpoint commit): no-op
    b0_again = spark.createDataFrame(
        [(1, "a", 99.0)], "k long, g string, v double"
    )
    assert not merge_batch_into_snapshot(spark, b0_again, path, ["k", "g"], 0)
    assert read() == {(1, "a"): 10.0, (2, "a"): 20.0}

    # batch 1: update key (2,a), insert (3,b), keep (1,a) untouched
    b1 = spark.createDataFrame(
        [(2, "a", 25.0), (3, "b", 30.0)], "k long, g string, v double"
    )
    assert merge_batch_into_snapshot(spark, b1, path, ["k", "g"], 1)
    assert read() == {(1, "a"): 10.0, (2, "a"): 25.0, (3, "b"): 30.0}

    # stale batch 0 after batch 1: must not regress
    assert not merge_batch_into_snapshot(spark, b0, path, ["k", "g"], 0)
    assert read() == {(1, "a"): 10.0, (2, "a"): 25.0, (3, "b"): 30.0}
    assert last_committed_batch(path) == 1


def test_t24_snapshot_equals_e06_append_output(spark, sf_dir):
    """End-to-end: draining e06 through the MERGE sink must land the
    exact same finalized-window rows in the parquet snapshot that the
    append-mode memory sink emits."""
    from big_data_bowl_spark.queries import REGISTRY

    canon3 = lambda rows: sorted(  # noqa: E731
        (r.window_start, r.window_end, r.event_type, r.n_active)
        for r in rows
    )
    snap = canon3(
        REGISTRY["t24_streaming_merge_sink"].fn(spark, sf_dir).collect()
    )
    mem = canon3(
        REGISTRY["e06_streaming_pipeline"].fn(spark, sf_dir).collect()
    )
    assert snap == mem and snap


def test_merge_sink_crash_recovery_states(spark, tmp_path):
    """The swap sequence guarantees a complete snapshot survives a
    crash at any point; _recover_snapshot must promote the survivor.
    Simulated crash states: (a) only '.old' left (crash between
    move-aside and promote) -> restored and the redelivered batch
    merges into REAL prior state, keeping untouched keys; (b) both
    'path' and stale '.old' (crash before final cleanup) -> newer
    copy kept, '.old' dropped; (c) leftover '.tmp' -> discarded."""
    import os
    import shutil

    from big_data_bowl_spark.streaming.sinks import (
        _recover_snapshot,
        merge_batch_into_snapshot,
    )

    path = str(tmp_path / "snap")
    read = lambda: {  # noqa: E731
        (r.k, r.g): r.v for r in spark.read.parquet(path).collect()
    }
    b0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0)], "k long, g string, v double"
    )
    assert merge_batch_into_snapshot(spark, b0, path, ["k", "g"], 0)

    # (a) crash after move-aside, before promote: only .old on disk,
    # .meta.json still says batch 0 committed. Batch 1 is redelivered.
    os.rename(path, path + ".old")
    b1 = spark.createDataFrame(
        [(2, "a", 25.0), (3, "b", 30.0)], "k long, g string, v double"
    )
    assert merge_batch_into_snapshot(spark, b1, path, ["k", "g"], 1)
    # key (1,'a') was NOT in batch 1; it must survive via the restored
    # .old snapshot (the pre-fix code would have dropped it)
    assert read() == {(1, "a"): 10.0, (2, "a"): 25.0, (3, "b"): 30.0}
    assert not os.path.isdir(path + ".old")

    # (b) stale .old next to a live snapshot: recovery keeps the newer
    # copy at `path` and drops .old
    shutil.copytree(path, path + ".old")
    _recover_snapshot(path)
    assert not os.path.isdir(path + ".old")
    assert read() == {(1, "a"): 10.0, (2, "a"): 25.0, (3, "b"): 30.0}

    # (c) leftover .tmp from an interrupted write: discarded
    os.makedirs(path + ".tmp")
    _recover_snapshot(path)
    assert not os.path.isdir(path + ".tmp")


def test_stream_matches_batch_histogram(spark, sf_dir):
    """t26's operator: the streaming windowed histogram drained in
    complete mode equals the batch window x group x bin GROUP BY, and
    per-window bin counts sum to the strict-range row count."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.histogram import (
        HIST_HI,
        HIST_LO,
        bin_exprs,
    )
    from big_data_bowl_spark.sources.io import load_table
    from big_data_bowl_spark.streaming.windows import windowed_histogram

    stream = read_events_stream(spark, sf_dir)
    run_to_memory(
        windowed_histogram(stream), "stream_hist", output_mode="complete"
    )
    canon3 = lambda rows: sorted(  # noqa: E731
        (r.window_start, r.grp, r.bin_idx, r.bin_lo, r.bin_hi, r.n)
        for r in rows
    )
    got = canon3(spark.table("stream_hist").collect())

    ev = load_table(spark, sf_dir, "events")
    keep, bin_idx, bin_bounds = bin_exprs(
        F.col("value"), HIST_LO, HIST_HI, 40
    )
    bin_lo, bin_hi = bin_bounds(F.col("bin_idx"))
    want = canon3(
        ev.filter(keep)
        .groupBy(
            F.window("ts", "6 hours").alias("w"),
            F.col("event_type").alias("grp"),
            bin_idx.alias("bin_idx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "grp", "bin_idx",
            bin_lo.alias("bin_lo"), bin_hi.alias("bin_hi"), "n",
        )
        .collect()
    )
    assert got == want and got
    v = F.col("value").cast("double")
    n_in_range = ev.filter((v > HIST_LO) & (v < HIST_HI)).count()
    assert sum(r[-1] for r in got) == n_in_range


def test_hadoop_is_dir_scheme_aware(spark, tmp_path):
    """ADVICE r9: the stream-source layout probe must answer through
    the Hadoop FileSystem API so scheme'd URIs resolve (os.path.isdir
    is always False for them), and a missing source must raise rather
    than degrade to an empty stream."""
    import pytest

    from big_data_bowl_spark.streaming.windows import hadoop_is_dir

    d = tmp_path / "events.parquet"
    d.mkdir()
    f = tmp_path / "single.parquet"
    f.write_bytes(b"PAR1")
    assert hadoop_is_dir(spark, str(d)) is True
    assert hadoop_is_dir(spark, str(f)) is False
    # the same answers through an explicit file: URI — the case
    # os.path.isdir can also handle is the degenerate one; the URI
    # path proves resolution goes through Hadoop
    assert hadoop_is_dir(spark, f"file://{d}") is True
    assert hadoop_is_dir(spark, f"file://{f}") is False
    with pytest.raises(FileNotFoundError, match="does not exist"):
        hadoop_is_dir(spark, str(tmp_path / "nope.parquet"))


def test_streaming_state_is_key_bounded(spark, sf_dir):
    """r13: the streaming family's central scale claim — state is
    O(keys / open windows), never O(stream length) — verified from
    the state store's OWN ledger, not the plan. Every drain records
    its final micro-batch stateOperators progress
    (streaming/windows.LAST_STATE_METRICS); numRowsTotal at drain end
    is exactly what the watermark left alive. Representative shapes:
    sessionization and the per-user MIN fold hold one row per USER;
    streaming dedup holds one row per (user, type) key; the
    timer-closed sessionizer's live+evicted total accounts for every
    user exactly once (timers fire and evict as the availableNow
    watermark passes). Each drain's state store is sized to one task
    wave (numShufflePartitions == the session's task slots).
    tools/state_metrics.py prints the full-family table (recorded in
    SCALE.md)."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table
    from big_data_bowl_spark.streaming import windows as W

    ev = load_table(spark, sf_dir, "events")
    card = ev.agg(
        F.countDistinct("user_id").alias("users"),
        F.countDistinct("user_id", "event_type").alias("user_types"),
        F.count(F.lit(1)).alias("events"),
    ).collect()[0]

    def drained_state(name):
        W.LAST_STATE_METRICS.clear()
        REGISTRY[name].fn(spark, sf_dir).collect()
        ops = [op for _, opl in W.LAST_STATE_METRICS for op in opl]
        assert ops, f"{name}: no stateOperators captured"
        # one task wave per micro-batch: the state store has one
        # partition per task slot, not a fixed count
        slots = spark.sparkContext.defaultParallelism
        assert [op["numShufflePartitions"] for op in ops] == [
            slots
        ] * len(ops)
        return ops

    # one session state row per user
    (op,) = drained_state("t08_streaming_sessionization")
    assert op["numRowsTotal"] == card["users"]

    # dedup state: one row per distinct (user, type) key seen
    (op,) = drained_state("t11_streaming_dedup")
    assert op["numRowsTotal"] == card["user_types"]

    # per-user MIN fold: one row per user — and far below events
    (op,) = drained_state("t33_streaming_reach")
    assert op["numRowsTotal"] == card["users"]
    assert op["numRowsTotal"] < card["events"]

    # timer sessionizer: every user's state either still live or
    # evicted by its fired timer — accounted exactly once
    (op,) = drained_state("t35_timer_closed_sessions")
    assert (
        op["numRowsTotal"] + op["numRowsRemoved"] == card["users"]
    )


def test_streaming_drains_capture_every_batch_plan(spark, sf_dir):
    """r14 (VERDICT r13 item 4): the drain helpers pin each
    micro-batch's executed plan so the shuffle-byte audit can weigh
    streaming exchanges. t35 drains in 2 batches (work + the empty
    watermark-commit batch that fires the timers) — exactly the
    shape whose work batch a lastExecution-only capture LOSES — so
    pin: every batch captured, the work batch's shuffle carries
    measurable records at digest weight, and nothing spills."""
    from tools.shuffle_metrics import audit_jplan

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.streaming import windows as W

    # capture is opt-in (ADVICE r14): a plain drain must pin NOTHING
    # (no poll, no JVM plan references) — pin that first
    W.LAST_EXEC_PLANS.clear()
    assert not W.CAPTURE_EXEC_PLANS  # the shipped default
    REGISTRY["t35_timer_closed_sessions"].fn(spark, sf_dir).collect()
    ((_, no_plans, nb_off),) = W.LAST_EXEC_PLANS
    assert no_plans == {} and nb_off >= 2

    W.LAST_EXEC_PLANS.clear()
    W.CAPTURE_EXEC_PLANS = True
    try:
        REGISTRY["t35_timer_closed_sessions"].fn(
            spark, sf_dir
        ).collect()
    finally:
        W.CAPTURE_EXEC_PLANS = False
    ((sink, plans, n_batches),) = W.LAST_EXEC_PLANS
    assert n_batches >= 2  # work batch + watermark-commit batch
    assert sorted(plans) == list(range(n_batches))
    per = [audit_jplan(p) for p in plans.values()]
    shuffled_records = sum(
        s["records"] for b in per for s in b["shuffles"]
    )
    assert shuffled_records > 0  # the work batch is weighed, not lost
    assert all(
        s["bytes_per_record"] <= 256
        for b in per
        for s in b["shuffles"]
        if s["records"]
    )
    assert sum(b["spill_bytes"] for b in per) == 0


def test_plan_capture_survives_forced_multi_batch_drain(
    spark, tmp_path
):
    """The capture poll's riskiest shape: MANY small fast batches
    (maxFilesPerTrigger=1 over several files). Batch N's
    IncrementalExecution stays exposed until batch N+1 begins
    planning, so every batch whose wall exceeds one 10 ms poll is
    captured; n_batches comes from batchId+1 (NOT the capped
    recentProgress), and a genuinely missed batch would surface as
    len(plans) < n_batches — the plan_audit flag. Here all batches
    are Spark-job-sized (>> 10 ms), so all must be captured."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.streaming import windows as W

    # 5k rows per file keeps every micro-batch comfortably above the
    # 10 ms poll period (a Spark job's scheduling floor alone is
    # ~50 ms), so strict all-batches capture is deterministic here
    src = tmp_path / "multi"
    for i in range(4):
        spark.range(i * 5000, (i + 1) * 5000).select(
            F.col("id"), (F.col("id") % 7).alias("grp")
        ).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    W.LAST_EXEC_PLANS.clear()
    W.CAPTURE_EXEC_PLANS = True
    try:
        W.run_to_memory(stream, "multi_batch_capture", "complete")
    finally:
        W.CAPTURE_EXEC_PLANS = False
    ((sink, plans, n_batches),) = W.LAST_EXEC_PLANS
    assert sink == "multi_batch_capture"
    assert n_batches >= 4  # one per file
    assert sorted(plans) == list(range(n_batches))
    total = spark.table("multi_batch_capture").agg(
        F.sum("n")
    ).collect()[0][0]
    assert total == 20000
