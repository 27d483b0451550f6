"""Count Spark jobs + wall for a query's construct and execute phases.

Usage: python tools/job_census.py [--sf DIR] name [name...]

Prints one JSON line per query:
  {"name": ..., "construct_s": ..., "execute_s": ...,
   "jobs_construct": N, "jobs_execute": N}

Each construct and execute call runs under its own job tag, and its
jobs are the ones the status tracker files under that tag: every eager
action a query's fn() runs (localCheckpoint materializations,
convergence isEmpty probes, collects), the checkpoint fill-in jobs the
lazy variants schedule, and the micro-batch jobs of the streams it
drains. A job group would miss those last ones: a stream runs its
batches under its own group (the run id), but inherits the tags of the
thread that starts it. Measurement-only tool (guide §1): nothing here
feeds results back into the queries.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from big_data_bowl_spark.session import get_spark
    from big_data_bowl_spark.queries import REGISTRY

    spark = get_spark()
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    tags = itertools.count()

    def counted(call):
        """(result, wall s, jobs) of `call()` run under a fresh job tag."""
        tag = f"census-{next(tags)}"
        sc.addJobTag(tag)
        try:
            t0 = time.time()
            out = call()
            wall = time.time() - t0
        finally:
            sc.removeJobTag(tag)
        return out, wall, len(tracker.getJobIdsForTag(tag))

    for name in args.names:
        fn = REGISTRY[name].fn
        # warmup (codegen/broadcast cold start), untimed
        fn(spark, args.sf).count()
        best = None
        for _ in range(args.runs):
            sc.setJobDescription(f"census:{name}")
            df, construct_s, jobs_construct = counted(lambda: fn(spark, args.sf))
            n, execute_s, jobs_execute = counted(df.count)
            sc.setJobDescription(None)
            row = {
                "name": name,
                "construct_s": round(construct_s, 3),
                "execute_s": round(execute_s, 3),
                "total_s": round(construct_s + execute_s, 3),
                "jobs_construct": jobs_construct,
                "jobs_execute": jobs_execute,
                "rows": n,
            }
            if best is None or row["total_s"] < best["total_s"]:
                best = row
        print(json.dumps(best))


if __name__ == "__main__":
    main()
