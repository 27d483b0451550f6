"""Per-layer metrics of the traced run.

The traced run times the same passes as the untraced one, with every
span in its own job group.  Afterwards it makes one pass with the span
hooks off (the tracing overhead is the difference) and then calls a few
layers directly: a standalone scan of each input table and, on
curation, `ml.coverage.train_eval`, `operators.kmeans_fit` and the media
codecs.  `derive()` turns the spans, the event log and the streaming
listener's progress into the per-layer metrics, per timed pass.
"""

from __future__ import annotations

import time
from collections import defaultdict

from .metrics import median, self_time, union_length
from .trace import UDF_PROFILER, udf_python_seconds
from .workloads import Run, tables_read

UNTRACED_PASS = -1

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.slot_idle_s": "s",
    "session.job_s": "s",
    "session.task_run_s": "s",
    "session.task_cpu_s": "s",
    "session.gc_s": "s",
    "session.shuffle_read_bytes": "bytes",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.aqe_updates": "count",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_driver_s": "s",
    "queries.py4j_calls": "count",
    "queries.collect_s": "s",
    "queries.collect_driver_s": "s",
    "operators.kmeans_fit_s": "s",
    "ml.train_eval_s": "s",
    "multimodal.python_s": "s",
    "multimodal.codec_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.trigger_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.offsets_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.generator_lag_s": "s",
    "trace.overhead_s": "s",
    "self.bench_s": "s",
    "self.queries_s": "s",
    "self.session_job_s": "s",
    "self.session_task_s": "s",
}


def traced_extras(run: Run, ops, data: str, before_pass, oracle) -> None:
    """After the traced passes: one untraced pass, then direct calls."""
    spark = run.spark
    run.layer["multimodal.python_s"] = udf_python_seconds(spark) / max(1, len(run.passes))
    spark.conf.unset(UDF_PROFILER)
    run.tracer.paused = True
    before_pass(len(run.passes) + 1)
    results, reading = run.run_pass(ops, data, UNTRACED_PASS)
    run.tracer.paused = False
    run.check(results, oracle)
    run.extra["untraced_pass_s"] = reading.wall

    from big_data_bowl_spark.sources.io import load_table

    tables = sorted({t for n in ops for t in tables_read(run.registry[n].oracle)})
    t0 = time.perf_counter()
    for t in tables:
        with run.tracer.span("sources.scan", op=t):
            load_table(spark, data, t).write.format("noop").mode("overwrite").save()
    run.layer["sources.scan_s"] = time.perf_counter() - t0

    if run.name == "curation":
        from big_data_bowl_spark.ml.coverage import train_eval
        from big_data_bowl_spark.operators.kmeans import kmeans_fit
        from big_data_bowl_spark.queries.ml import FEATURE_COLS, order_features

        t0 = time.perf_counter()
        with run.tracer.span("ml.train_eval"):
            train_eval(
                order_features(spark, data),
                FEATURE_COLS,
                label_col="label",
                id_cols=["l_orderkey"],
            )
        run.layer["ml.train_eval_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with run.tracer.span("operators.kmeans_fit"):
            kmeans_fit(load_table(spark, data, "embeddings"), "vec_id").toArrow()
        run.layer["operators.kmeans_fit_s"] = time.perf_counter() - t0
        run.layer["multimodal.codec_s"] = codec_seconds(run)


def codec_seconds(run: Run, n_images: int = 40) -> float:
    """Encode and decode mm07-shaped block-constant images in-process,
    without Spark, and check each round trip is exact."""
    import numpy as np

    from big_data_bowl_spark.multimodal.media import (
        decode_payload,
        encode_jpeg,
        encode_png,
    )

    rng = np.random.default_rng(run.seed)
    flat_quant = [8] + [16] * 63
    differs = []
    t0 = time.perf_counter()
    with run.tracer.span("multimodal.codec"):
        for i in range(n_images):
            w, h = 8 * (i % 5 + 1), 8 * (i % 2 + 1)
            blocks = rng.integers(0, 256, size=(h // 8, w // 8)).astype(np.uint8)
            img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
            for fmt, payload in (
                ("jpeg", encode_jpeg(img, quant=flat_quant)),
                ("png", encode_png(img)),
            ):
                if not np.array_equal(decode_payload(payload, fmt, w, h), img):
                    differs.append(f"{fmt} round trip differs on image {i}")
    elapsed = time.perf_counter() - t0
    run.attempted += 1
    if differs:
        run.mismatched += 1
        run.failures["multimodal.codec"] = differs
    return elapsed


def _children(spans):
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    return kids


def _subtree(span, kids):
    stack, out = [span], []
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids[s["id"]])
    return out


def _self(span, kids) -> float:
    return self_time(span["start"], span["end"], [(c["start"], c["end"]) for c in kids[span["id"]]])


def derive(run: Run, log: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics per timed pass, plus the self-time breakdown."""
    spans = run.tracer.spans
    kids = _children(spans)
    passes = [
        s for s in spans
        if s["name"] == "bench.pass" and s.get("pass_idx", 0) >= 1
    ]
    passes += [
        s for s in spans
        if s["name"] == "bench.op" and s["parent"] is None and s.get("pass_idx", 0) >= 1
    ]
    n = max(1, len([s for s in passes if s["name"] == "bench.pass"]))
    inside = [d for p in passes for d in _subtree(p, kids)]
    by_name = defaultdict(list)
    for s in inside:
        by_name[s["name"]].append(s)
    jobs, tasks = by_name["session.job"], by_name["session.task"]
    out = dict(run.layer)
    out["session.start_s"] = run.start_s
    out["session.warmup_s"] = run.warmup_s

    def per_pass(v):
        return v / n

    out["session.jobs"] = per_pass(len(jobs))
    out["session.stages"] = per_pass(sum(j["stages"] for j in jobs))
    out["session.tasks"] = per_pass(len(tasks))
    job_s = sum(
        union_length((j["start"], j["end"]) for j in _subtree(op, kids) if j["name"] == "session.job")
        for op in by_name["bench.op"]
    )
    out["session.job_s"] = per_pass(job_s)
    for key, field in (
        ("session.task_run_s", "run_s"),
        ("session.task_cpu_s", "cpu_s"),
        ("session.gc_s", "gc_s"),
        ("session.shuffle_read_bytes", "shuffle_read_bytes"),
        ("session.shuffle_write_bytes", "shuffle_write_bytes"),
        ("session.spill_bytes", "spill_bytes"),
        ("sources.input_bytes", "input_bytes"),
        ("sources.input_rows", "input_rows"),
    ):
        out[key] = per_pass(sum(t[field] for t in tasks))
    out["session.slot_idle_s"] = max(0.0, cores * out["session.job_s"] - out["session.task_run_s"])
    executions = {j["execution"] for j in jobs if j.get("execution") is not None}
    out["session.aqe_updates"] = per_pass(sum(log["aqe"].get(e, 0) for e in executions))

    for phase in ("construct", "collect"):
        ss = by_name[f"queries.{phase}"]
        out[f"queries.{phase}_s"] = per_pass(sum(s["end"] - s["start"] for s in ss))
        out[f"queries.{phase}_driver_s"] = per_pass(sum(_self(s, kids) for s in ss))
    out["queries.construct_jobs"] = per_pass(
        sum(c["name"] == "session.job" for s in by_name["queries.construct"] for c in kids[s["id"]])
    )
    out["queries.py4j_calls"] = per_pass(
        sum(s.get("py4j_calls", 0) for s in by_name["queries.construct"])
    )

    out.update(streaming_metrics(run, passes))

    self_by = defaultdict(float)
    for s in inside:
        layer = {"session.job": "session_job", "session.task": "session_task"}.get(
            s["name"], s["name"].split(".")[0]
        )
        self_by[layer] += s["end"] - s["start"] if s["name"] == "session.task" else _self(s, kids)
    for layer in ("bench", "queries", "session_job", "session_task"):
        out[f"self.{layer}_s"] = per_pass(self_by[layer])
    traced = median(run.pass_walls[i] for i in run.counted())
    out["trace.overhead_s"] = traced - run.extra.get("untraced_pass_s", traced)
    return {k: float(out.get(k, 0.0)) for k in PER_LAYER}


def streaming_metrics(run: Run, passes) -> dict[str, float]:
    """Per-batch medians over the micro-batches of the timed phases, as
    the StreamingQueryListener saw them."""
    from .workloads import _epoch

    windows = [(p["start"], p["end"]) for p in passes]
    batches = [
        b for b in run.tracer.progress
        if b.get("numInputRows", 0) > 0
        and any(s <= _epoch(b["timestamp"]) <= e for s, e in windows)
    ]
    if not batches:
        return {}
    d = [b.get("durationMs", {}) for b in batches]

    def med(*keys):
        return median(sum(x.get(k, 0) for k in keys) / 1e3 for x in d)

    state = [op for b in batches for op in b.get("stateOperators", [])]
    lags = run.extra.get("generator_lag_s", [])
    return {
        "streaming.batches": float(len(batches)),
        "streaming.add_batch_s": med("addBatch"),
        "streaming.trigger_s": med("triggerExecution"),
        "streaming.query_planning_s": med("queryPlanning"),
        "streaming.offsets_s": med("latestOffset", "getBatch"),
        "streaming.wal_commit_s": med("walCommit", "commitOffsets"),
        "streaming.state_rows": float(max((s.get("numRowsTotal", 0) for s in state), default=0)),
        "streaming.state_memory_bytes": float(
            max((s.get("memoryUsedBytes", 0) for s in state), default=0)
        ),
        "streaming.generator_lag_s": max(lags, default=0.0),
    }


def attach_unowned_jobs(run: Run, log: dict) -> None:
    """Give each job that no bench job group claimed (micro-batches run
    under their stream's own group) to the shortest traced span whose
    interval contains the job's submission."""
    owned = {j for s in run.tracer.spans for j in s.get("jobs", [])}
    live = sorted(
        (s for s in run.tracer.spans if s.get("group")),
        key=lambda s: s["end"] - s["start"],
    )
    for jid, job in log["jobs"].items():
        if jid in owned or (job["group"] or "").startswith("bench-"):
            continue
        for s in live:
            if s["start"] <= job["start"] <= s["end"]:
                s.setdefault("jobs", []).append(jid)
                break
