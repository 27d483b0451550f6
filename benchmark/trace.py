"""Spans and Spark-side counters for the traced run.

A `Tracer` records a span (name, start, end, parent, op) around each
call the benchmark makes into a layer.  With tracing on, each span also
runs under its own Spark job group, so the jobs it caused are read back
with `statusTracker().getJobIdsForGroup(group)`; py4j round trips are
counted per span; a `StreamingQueryListener` keeps every micro-batch's
progress.  After the session stops, the Spark event log supplies job,
stage and task records, which become child spans of the span whose job
group ran them.  A disabled tracer records spans only.

Times are epoch seconds, so spans line up with the event log.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

UDF_PROFILER = "spark.sql.pyspark.udf.profiler"


class Py4jCounter:
    """Counts py4j commands this process sends to the JVM, by wrapping the
    connection classes' `send_command`.  Installed for the traced run
    only; `uninstall()` restores the originals."""

    def __init__(self):
        self.count = 0
        self._lock = threading.Lock()
        self._saved = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (
            java_gateway.GatewayConnection,
            clientserver.ClientServerConnection,
        ):
            orig = cls.send_command
            self._saved.append((cls, orig))

            def wrapped(conn, command, *a, _orig=orig, **kw):
                with self._lock:
                    self.count += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = wrapped

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


def make_listener(sink: list):
    """A StreamingQueryListener appending each progress as a dict."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = itertools.count()
        self.sc = None
        self.py4j = Py4jCounter() if enabled else None
        self.progress: list[dict] = []
        self.paused = False

    def attach(self, spark) -> None:
        """Hook the live session: job groups, py4j counter, listener."""
        self.sc = spark.sparkContext
        if self.enabled:
            self.py4j.install()
            spark.streams.addListener(make_listener(self.progress))

    def detach(self) -> None:
        if self.py4j is not None:
            self.py4j.uninstall()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op if op is not None else self._inherited_op(),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        live = self.enabled and not self.paused and self.sc is not None
        if live:
            group = f"bench-{next(self._groups)}"
            rec["group"] = group
            self.sc.setJobGroup(group, name)
            calls0 = self.py4j.count
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if live:
                rec["py4j_calls"] = self.py4j.count - calls0
                rec["jobs"] = list(
                    self.sc.statusTracker().getJobIdsForGroup(group)
                )
                parent = self.spans[rec["parent"]] if rec["parent"] is not None else None
                if parent is not None and parent.get("group"):
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    def _inherited_op(self):
        return self.spans[self._stack[-1]]["op"] if self._stack else None

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, tasks and AQE updates from the event log under `log_dir`
    (a single file, or the rolling `eventlog_v2_*` directory of event
    files).  Times are epoch seconds."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    aqe = defaultdict(int)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                        "group": props.get("spark.jobGroup.id"),
                        "execution": props.get("spark.sql.execution.id"),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev.get("Stage ID"),
                            "start": info.get("Launch Time", 0) / 1e3,
                            "end": info.get("Finish Time", 0) / 1e3,
                            "run_s": m.get("Executor Run Time", 0) / 1e3,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1e3,
                            "input_bytes": im.get("Bytes Read", 0),
                            "input_rows": im.get("Records Read", 0),
                            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    aqe[ev.get("executionId")] += 1
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks, "aqe": dict(aqe)}


def attach_jobs(tracer: Tracer, log: dict) -> None:
    """Add each span's Spark jobs and their tasks as child spans."""
    by_job = defaultdict(list)
    for t in log["tasks"]:
        by_job[t["job"]].append(t)
    for span in list(tracer.spans):
        for jid in span.get("jobs", []):
            job = log["jobs"].get(jid)
            if job is None or job["end"] is None:
                continue
            jrec = {
                "id": len(tracer.spans),
                "name": "session.job",
                "parent": span["id"],
                "op": span["op"],
                "start": job["start"],
                "end": job["end"],
                "job": jid,
                "stages": len(job["stages"]),
                "execution": _int(job["execution"]),
            }
            tracer.spans.append(jrec)
            for t in by_job.get(jid, []):
                tracer.spans.append(
                    {
                        "id": len(tracer.spans),
                        "name": "session.task",
                        "parent": jrec["id"],
                        "op": span["op"],
                        **t,
                    }
                )


def _int(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def udf_python_seconds(spark) -> float:
    """Total Python-worker time the UDF profiler has collected."""
    collector = getattr(spark, "_profiler_collector", None)
    if collector is None:
        return 0.0
    return sum(s.total_tt for s in collector._perf_profile_results.values())


def clear_udf_profiles(spark) -> None:
    collector = getattr(spark, "_profiler_collector", None)
    if collector is not None:
        collector.clear_perf_profiles()
