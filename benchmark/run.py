"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

    python3 benchmark/run.py --workload curation --seed 1 --seconds 15 --trace 0

Workloads: `curation` and `stream` (see workloads.py and README.md).
With `--trace 0` the last line of standard output is a JSON object with
the end-to-end metrics; with `--trace 1` it carries the per-layer
metrics of a traced run.  Lines before it print every metric by name
with its unit, the error rate, any failed op by name, and a run record
(host, versions, seed, input sizes, sample counts, tail percentiles and
the hypervisor's steal share).

Inputs are generated from `--seed` under `benchmark/_work/`; nothing is
read or written outside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


def preflight() -> None:
    """Refuse to run without the engine: nothing to measure."""
    need = ("big_data_bowl_spark/__init__.py", "tools/check_oracle.py")
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"benchmark: missing from the checkout: {missing}", file=sys.stderr)
        sys.exit(3)


def configure_environment(work: str, trace: bool) -> int:
    """The bare-session conditions every workload runs under: all cores,
    the repository on the workers' path, scratch space in the checkout,
    and for the traced run the Spark event log."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
    else:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    return cpus


def _proc_tree_rss(root: int) -> int:
    """Resident bytes of `root` and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                parent[int(entry)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the process tree's resident memory every 0.2 s."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="bench-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _proc_tree_rss(os.getpid()))
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def host_record(cpus: int) -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": cpus,
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def end_to_end(run, peak_rss: int) -> tuple[dict, dict]:
    from benchmark.metrics import median, tail

    passes = [run.passes[i] for i in run.counted()]
    ops = [(r.name, r.wall) for p in passes for r in p]
    if run.name == "stream":
        lat_p50, (lat_tail, lat_pct, n_lat) = median(run.latencies), tail(run.latencies)
    else:
        # closed loop, one client: an op's latency is its wall time.  The
        # tail rule within each pass, median over passes: a run's pass
        # count varies, and pooling passes would move the percentile.
        per_pass = [tail([r.wall for r in p]) for p in passes]
        lat_p50 = median(w for _, w in ops)
        lat_tail = median(v for v, _, _ in per_pass)
        lat_pct, n_lat = median(p for _, p, _ in per_pass), len(ops)
    values = {
        "setup_s": run.setup_s,
        "pass_s": median(run.pass_walls[i] for i in run.counted()),
        "latency_p50_s": lat_p50,
        "latency_tail_s": lat_tail,
    }
    samples = {
        "peak_rss_mb": peak_rss / 2**20,
        "steal_share": run.steal,
        "disturbed": run.disturbed(),
        "pass_walls": run.pass_walls,
        "counted_passes": [i + 1 for i in run.counted()],
        "ops": len(ops),
        "latency_samples": n_lat,
        "latency_tail_percentile": lat_pct,
        "latency_source": "open-loop file to commit" if run.name == "stream" else "op wall",
        "op_median_s": {
            name: median(w for n, w in ops if n == name) for name in dict.fromkeys(n for n, _ in ops)
        },
    }
    return values, samples


DEFAULT_SEED = 1
DEADLINE_S = 170  # a run that has not finished by now is stuck


def _watchdog() -> None:
    """End the process if the run hangs (e.g. the JVM dies while pyspark
    waits for its gateway).  The JVM exits when this process does, and
    the Python workers with it."""
    print(f"benchmark: no result after {DEADLINE_S} s; giving up", file=sys.stderr, flush=True)
    os._exit(5)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("curation", "stream"))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    preflight()

    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = configure_environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    from benchmark.metrics import error_rate
    from benchmark.trace import Tracer
    from benchmark.workloads import STEAL_LIMIT, WORKLOADS, Run

    watchdog = threading.Timer(DEADLINE_S, _watchdog)
    watchdog.daemon = True
    watchdog.start()
    run = Run(args.workload, args.seed, args.seconds, work, Tracer(bool(args.trace)))
    with PeakRss() as rss:
        try:
            WORKLOADS[args.workload](run)
            if run.spark is not None:
                run.extra["jdk"] = run.spark._jvm.System.getProperty("java.version")
        finally:
            run.stop_session()
    watchdog.cancel()
    if not run.pass_walls:
        print("benchmark: no timed pass completed", file=sys.stderr)
        return 4

    values, samples = end_to_end(run, rss.peak)
    if samples["disturbed"]:
        print(
            f"benchmark: the hypervisor took more than {STEAL_LIMIT:.0%} of the CPU time in"
            " an interval behind this run's metrics; its times are suspect",
            file=sys.stderr,
        )
    units = END_TO_END
    if args.trace:
        from benchmark.layers import PER_LAYER, attach_unowned_jobs, derive
        from benchmark.trace import attach_jobs, read_event_log

        log = read_event_log(os.path.join(work, "eventlog"))
        attach_unowned_jobs(run, log)
        attach_jobs(run.tracer, log)
        metrics, units = derive(run, log, cpus), PER_LAYER
        samples["traced_pass_s"] = values["pass_s"]
    else:
        metrics = values

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {**host_record(cpus), "jdk": run.extra.get("jdk")},
        "input_rows": run.sizes,
        "samples": samples,
        **{k: v for k, v in run.extra.items() if k != "jdk"},
    }
    if args.trace:
        run.tracer.dump(
            os.path.join(work, "trace.json"),
            {"record": record, "progress": run.tracer.progress},
        )

    for name, unit in units.items():
        print(f"{name} = {metrics[name]:.6g} {unit}")
    rate = error_rate(run.failed_ops, run.mismatched, run.attempted)
    print(f"error_rate = {rate:.6g} ({run.failed} of {run.attempted} ops)")
    for name, msgs in sorted(run.failures.items()):
        print(f"FAILED {name}: {msgs[0]}" + (f" (+{len(msgs) - 1} more)" if len(msgs) > 1 else ""))
    print("record: " + json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
