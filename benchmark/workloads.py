"""The workloads and the loop that times them.

One op is a registered query fn plus `toArrow()` on its result, so every
output column is computed and delivered.  Batch workloads run as a
closed loop with one client: a warm-up pass (part of set-up), then timed
passes over the op list until `--seconds` of pass time is spent.  Every
timed result is checked against its DuckDB oracle between passes,
outside the timed region.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import threading
import time
from dataclasses import dataclass, field

from . import datagen
from .metrics import generator_lag
from .oracle import Oracle

# Ops per workload, cut from the full surface to what a run can warm up
# and time in about 40 s (README.md, "Size", lists the ops left out).
# e02 is the reference's field-control pipeline: it keeps the `plans`
# layer on a measured path.
CURATION_OPS = (
    "e02_field_control",
    "d01_dedup_exact",
    "d02_dedup_minhash_lsh",
    "n02_quality_score",
    "v01_cosine_topk",
    "v04_ivf_topk",
    "mm02_image_features",
    "mm07_jpeg_roundtrip_features",
)
STREAM_OPS = (
    "t25_stateful_running_stats",
    "t26_streaming_histogram",
)

CURATION_SCALE = 0.001
# Curation's first timed pass after one warm-up pass still ran about 15%
# slower than the next while the JIT settled; a second warm-up pass takes
# that out of the timed passes and puts it in `setup_s`.
CURATION_WARMUP_PASSES = 2
# The backlog is several files and the source reads one file per
# micro-batch, so one drain is STREAM_BACKLOG_FILES batches.
STREAM_BACKLOG_FILES = 4
STREAM_BACKLOG_EVENTS = 1600
LIVE_FILE_EVENTS = 400
LIVE_INTERVAL_S = 2.8  # fixed open-loop rate; README.md, "Workloads", says how it was chosen
# A timed pass during which the hypervisor took more than STEAL_LIMIT of
# the machine's CPU time is kept in the record and redone; timed passes
# stop at REDO_BUDGET times their seconds, redone ones included.
STEAL_LIMIT = 0.05
REDO_BUDGET = 2
STREAM_USERS = 50
LIVE_SINK = "bench_live_stats"
LIVE_OP = "live_t25"
STATE_PARTITIONS = 8  # t25's own state partition count


@dataclass
class OpResult:
    name: str
    pass_idx: int
    wall: float = 0.0
    error: str | None = None
    table: object = field(default=None, repr=False)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from
    /proc/stat.  Steal is time the hypervisor ran other guests while
    this machine's CPUs had work."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


@dataclass
class Reading:
    wall: float  # seconds
    steal_share: float  # share of CPU time the hypervisor stole meanwhile


class Stopwatch:
    """Times an interval and the share of the machine's CPU time that
    other guests of the host took meanwhile.  The share decides whether
    a pass is redone; the metrics are the walls."""

    def __init__(self):
        self.t0, self.c0 = time.perf_counter(), cpu_ticks()

    def read(self) -> Reading:
        wall = time.perf_counter() - self.t0
        steal, total = (b - a for a, b in zip(self.c0, cpu_ticks()))
        return Reading(wall, steal / total if total > 0 else 0.0)


def tables_read(sql: str) -> list[str]:
    """Tables an oracle query names: the op's inputs."""
    return [t for t in datagen.TABLES if re.search(rf"\b{t}\b", sql)]


class Run:
    """State shared by one benchmark run: session, tracer, results."""

    def __init__(self, name: str, seed: int, seconds: float, work: str, tracer):
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.registry = None
        self.passes: list[list[OpResult]] = []
        self.pass_walls: list[float] = []
        self.failures: dict[str, list[str]] = {}
        self.attempted = 0
        self.mismatched = 0
        self.failed_ops = 0
        self.setup_s = 0.0
        self.start_s = 0.0
        self.warmup_s = 0.0
        self.sizes: dict[str, int] = {}
        self.latencies: list[float] = []
        self.extra: dict = {}
        self.layer: dict[str, float] = {}
        self.steal: dict[str, float] = {}  # timed interval -> steal share

    # -- session -----------------------------------------------------------

    def start_session(self) -> None:
        with self.tracer.span("session.start") as s:
            from big_data_bowl_spark.queries import REGISTRY
            from big_data_bowl_spark.session import get_spark

            self.spark = get_spark()
            self.registry = REGISTRY
        self.start_s = s["end"] - s["start"]
        self.tracer.attach(self.spark)

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.tracer.detach()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        self.spark = None

    # -- ops ---------------------------------------------------------------

    def run_op(self, name: str, data_dir: str, pass_idx: int) -> OpResult:
        res = OpResult(name, pass_idx)
        fn = self.registry[name].fn
        t0 = time.perf_counter()
        with self.tracer.span("bench.op", op=name, pass_idx=pass_idx):
            try:
                with self.tracer.span("queries.construct"):
                    df = fn(self.spark, data_dir)
                with self.tracer.span("queries.collect"):
                    res.table = df.toArrow()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                res.error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        res.wall = time.perf_counter() - t0
        return res

    def run_pass(self, ops, data_dir: str, pass_idx: int) -> tuple[list[OpResult], Reading]:
        clock = Stopwatch()
        with self.tracer.span("bench.pass", pass_idx=pass_idx):
            results = [self.run_op(n, data_dir, pass_idx) for n in ops]
        return results, clock.read()

    def record_timed(self, results: list[OpResult], reading: Reading, oracle: Oracle) -> None:
        """Keep a timed pass and check each result against its oracle."""
        self.passes.append(results)
        self.pass_walls.append(reading.wall)
        self.steal[f"pass {len(self.passes)}"] = reading.steal_share
        self.check(results, oracle)

    def check(self, results: list[OpResult], oracle: Oracle) -> None:
        """Count each op and check its result against its oracle."""
        for r in results:
            self.attempted += 1
            msg = r.error
            if msg is None:
                try:
                    msg = oracle.check(r.name, self.registry[r.name].oracle, r.table)
                    if msg is not None:
                        self.mismatched += 1
                        msg = "oracle mismatch: " + msg
                except Exception as exc:  # noqa: BLE001 - an oracle error is a failure
                    self.mismatched += 1
                    msg = f"oracle error: {type(exc).__name__}: {exc}"
            else:
                self.failed_ops += 1
            if msg is not None:
                self.failures.setdefault(r.name, []).append(f"pass {r.pass_idx}: {msg}")
            r.table = None

    def set_up(self, ops, data_dir: str, before_pass=lambda i: None, warm_up_passes: int = 1) -> None:
        """Session start plus the untimed warm-up passes: `setup_s`.
        Warm-up passes are numbered up to 0, timed ones from 1."""
        clock = Stopwatch()
        self.start_session()
        self.warm_up(ops, data_dir, before_pass, warm_up_passes)
        reading = clock.read()
        self.setup_s = reading.wall
        self.steal["setup"] = reading.steal_share

    def traced_extras(self, ops, data_dir: str, oracle: Oracle, before_pass=lambda i: None) -> None:
        if self.tracer.enabled:
            from .layers import traced_extras

            traced_extras(self, ops, data_dir, before_pass, oracle)

    def warm_up(self, ops, data_dir: str, before_pass, passes: int) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("session.warmup"):
            for i in range(1 - passes, 1):
                before_pass(i)
                for r in self.run_pass(ops, data_dir, i)[0]:
                    self.extra.setdefault("warmup_op_s", {}).setdefault(r.name, []).append(r.wall)
                    if r.error:
                        self.extra.setdefault("warmup_errors", {})[r.name] = r.error
        self.warmup_s = time.perf_counter() - t0
        if self.tracer.enabled:
            from .trace import UDF_PROFILER, clear_udf_profiles

            self.spark.conf.set(UDF_PROFILER, "perf")
            clear_udf_profiles(self.spark)

    def counted(self) -> list[int]:
        """Indices of the timed passes the metrics use: those the
        hypervisor left undisturbed, or every pass if none was."""
        clean = [i for i in range(len(self.passes)) if self.steal[f"pass {i + 1}"] <= STEAL_LIMIT]
        return clean or list(range(len(self.passes)))

    def disturbed(self) -> bool:
        """Whether an interval behind the metrics ran while the
        hypervisor took more than STEAL_LIMIT of the CPU time."""
        used = {f"pass {i + 1}" for i in self.counted()}
        return any(
            share > STEAL_LIMIT
            for name, share in self.steal.items()
            if name in used or not name.startswith("pass ")
        )

    @property
    def failed(self) -> int:
        return self.failed_ops + self.mismatched


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------


def _timed_passes(run: Run, ops, data_dir: str, oracle: Oracle, before_pass, seconds=None) -> None:
    """Timed passes until `seconds` (default: the run's) of undisturbed
    pass time, or REDO_BUDGET times that in all."""
    budget = run.seconds if seconds is None else seconds
    clean = spent = 0.0
    i = 1
    while clean < budget and spent < REDO_BUDGET * budget:
        before_pass(i)
        results, reading = run.run_pass(ops, data_dir, i)
        run.record_timed(results, reading, oracle)
        spent += reading.wall
        if reading.steal_share <= STEAL_LIMIT:
            clean += reading.wall
        i += 1


def curation(run: Run) -> None:
    """A fresh corpus shard overwritten in place before every pass:
    every memo keyed on the data must miss."""
    data = os.path.join(run.work, "curation")
    run.sizes = datagen.generate(data, run.seed, CURATION_SCALE)
    oracle = Oracle(data)

    def before_pass(i: int) -> None:
        datagen.write_shard(data, run.seed, i + CURATION_WARMUP_PASSES, CURATION_SCALE)
        oracle.invalidate()

    run.set_up(CURATION_OPS, data, before_pass, CURATION_WARMUP_PASSES)
    _timed_passes(run, CURATION_OPS, data, oracle, before_pass)
    run.traced_extras(CURATION_OPS, data, oracle, before_pass)


# ---------------------------------------------------------------------------
# stream workload
# ---------------------------------------------------------------------------


def stream(run: Run) -> None:
    """Phase 1 drains a fixed backlog of event files (directory layout,
    one micro-batch per file) through t25 and t26, closed loop, for half
    the run's seconds.  Phase 2 feeds t25's shape from an open-loop
    generator at a fixed rate for the other half."""
    import numpy as np

    data = os.path.join(run.work, "stream")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    rng = np.random.default_rng(run.seed)
    backlog = datagen.events_table(rng, STREAM_BACKLOG_EVENTS, STREAM_USERS)
    datagen.write_events_dir(backlog, os.path.join(data, "events.parquet"), STREAM_BACKLOG_FILES)
    run.sizes = {"events": backlog.num_rows, "files": STREAM_BACKLOG_FILES}
    oracle = Oracle(data)
    run.set_up(STREAM_OPS, data)
    _timed_passes(run, STREAM_OPS, data, oracle, lambda i: None, run.seconds / 2)
    open_loop(run, rng, LIVE_INTERVAL_S, seconds=run.seconds / 2)
    run.traced_extras(STREAM_OPS, data, oracle)


def open_loop(run: Run, rng, interval: float, seconds: float) -> None:
    """Land one file of `LIVE_FILE_EVENTS` events every `interval`
    seconds for `seconds` (at least four files) and time each from its
    last event's creation to the commit of the micro-batch that read it.
    The file source reads one file per micro-batch, in landing order, so
    the batch whose offset is k read file k (file 0 primes the source)."""
    import numpy as np

    from big_data_bowl_spark.streaming.stateful import running_user_stats_legacy
    from big_data_bowl_spark.streaming.windows import (
        batch_shuffle_partitions,
        read_events_stream,
    )

    live = os.path.join(run.work, "live")
    shutil.rmtree(live, ignore_errors=True)
    src = os.path.join(live, "events.parquet")
    os.makedirs(src)
    n_files = max(4, math.ceil(seconds / interval))
    landed: list[dict] = []

    def land(k: int) -> dict:
        created = datagen.now_us() + np.arange(LIVE_FILE_EVENTS)
        table = datagen.events_table(
            rng, LIVE_FILE_EVENTS, STREAM_USERS, k * LIVE_FILE_EVENTS, ts_us=created
        )
        datagen.write_table(table, os.path.join(src, f"part-{k:05d}.parquet"))
        return {"file": k, "last_created": float(created[-1]) / 1e6, "landed": time.time()}

    def generate(due: list[float]) -> None:
        for k, d in enumerate(due, start=1):
            time.sleep(max(0.0, d - time.time()))
            landed.append({**land(k), "due": d})

    land(0)
    spark = run.spark
    err, progress = None, []
    with run.tracer.span("bench.op", op=LIVE_OP, pass_idx=1):
        with batch_shuffle_partitions(spark, STATE_PARTITIONS):
            stream_df = read_events_stream(spark, live).select("user_id", "ts", "value")
            q = (
                running_user_stats_legacy(stream_df)
                .writeStream.format("memory")
                .queryName(LIVE_SINK)
                .outputMode("append")
                .start()
            )
        try:
            _await_rows(q, LIVE_FILE_EVENTS)
            clock = Stopwatch()
            t0 = time.time()
            gen = threading.Thread(
                target=generate,
                args=([t0 + k * interval for k in range(n_files)],),
                name="bench-generator",
            )
            gen.start()
            gen.join(timeout=seconds + 10 * interval + 60)
            _await_rows(q, LIVE_FILE_EVENTS * (n_files + 1))
            reading = clock.read()
            progress = [json.loads(p.json) for p in q.recentProgress]
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            err = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        finally:
            q.stop()
    run.attempted += 1
    commits = {
        int(b["sources"][0]["endOffset"]["logOffset"]): _epoch(b["timestamp"])
        + b["durationMs"]["triggerExecution"] / 1e3
        for b in progress
        if b.get("numInputRows", 0) > 0
    }
    if err is None and (len(landed) != n_files or any(r["file"] not in commits for r in landed)):
        err = f"{n_files - len(landed)} files not landed; committed files {sorted(commits)}"
    if err is not None:
        run.failed_ops += 1
        run.failures.setdefault(LIVE_OP, []).append(err)
        return
    run.steal["open_loop"] = reading.steal_share
    run.latencies = [commits[r["file"]] - r["last_created"] for r in landed]
    run.extra["generator_lag_s"] = generator_lag(
        [r["due"] for r in landed], [r["landed"] for r in landed]
    )
    run.extra["open_loop"] = {
        "interval_s": interval,
        "files": n_files,
        "events_per_file": LIVE_FILE_EVENTS,
    }
    _check_live(run, live)


def _await_rows(q, n_rows: int, timeout: float = 90.0) -> None:
    """Block until the query has read `n_rows` input rows."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if sum(p["numInputRows"] for p in q.recentProgress) >= n_rows:
            return
        time.sleep(0.05)
    raise TimeoutError(f"stream read fewer than {n_rows} rows in {timeout}s")


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return (
        datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _check_live(run: Run, live: str) -> None:
    """The live sink's final per-user stats against t25's oracle over
    every file landed, after t25's own max-n_events upsert."""
    from pyspark.sql import functions as F

    result = (
        run.spark.table(LIVE_SINK)
        .groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "n_high", "last_us"), "n_events").alias("s"))
        .select(
            "user_id",
            "s.n_events",
            "s.n_high",
            F.timestamp_micros(F.col("s.last_us")).alias("last_ts"),
        )
        .toArrow()
    )
    msg = Oracle(live).check(STREAM_OPS[0], run.registry[STREAM_OPS[0]].oracle, result)
    run.spark.catalog.dropTempView(LIVE_SINK)
    if msg is not None:
        run.mismatched += 1
        run.failures.setdefault(LIVE_OP, []).append("oracle mismatch: " + msg)


WORKLOADS = {"curation": curation, "stream": stream}
