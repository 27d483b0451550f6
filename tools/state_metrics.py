"""Measured streaming state-store audit: what the watermark leaves
alive.

The batch-side analogues (plan shape via plan_audit, exchange weight
via shuffle_metrics) verify claims mechanically; this does the same
for the streaming family's central claim — "state is O(keys / open
windows), never O(stream length)". Every drain helper records the
final micro-batch's `stateOperators` progress
(streaming/windows.LAST_STATE_METRICS): numRowsTotal is the EXACT
number of state rows alive after the availableNow backlog drained
(post-watermark eviction), memoryUsedBytes the provider's footprint.

For each streaming query this tool prints those numbers next to the
relevant key-space cardinality (events, users, event types, time
buckets at sf0.01) so "state == keys, not events" is a read-off, not
an argument. tests/test_streaming.py::test_streaming_state_is_key_bounded
pins the invariant for representative shapes.

Usage:
    python tools/state_metrics.py [--sf DIR] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

STREAMING_QUERIES = [
    "t07_streaming_tumbling",
    "t08_streaming_sessionization",
    "t11_streaming_dedup",
    "t12_streaming_interval_join",
    "t16_streaming_cdc_compaction",
    "t18_streaming_sliding",
    "t21_streaming_stream_stream_join",
    "t24_streaming_merge_sink",
    "t25_stateful_running_stats",
    "t25b_stateful_running_stats_us",
    "t26_streaming_histogram",
    "t29_streaming_topk",
    "t33_streaming_reach",
    "t34_stateful_type_counts",
    "t35_timer_closed_sessions",
    "e06_streaming_pipeline",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.session import get_spark
    from big_data_bowl_spark.sources.io import load_table
    from big_data_bowl_spark.streaming import windows as W

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    ev = load_table(spark, args.sf, "events")
    card = ev.agg(
        F.count(F.lit(1)).alias("events"),
        F.countDistinct("user_id").alias("users"),
        F.countDistinct("event_type").alias("event_types"),
        F.countDistinct(F.date_trunc("hour", "ts")).alias("hours"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "sf": args.sf,
                "events": card["events"],
                "users": card["users"],
                "event_types": card["event_types"],
                "hours": card["hours"],
            }
        )
    )

    names = args.queries or [
        n for n in STREAMING_QUERIES if n in REGISTRY
    ]
    for name in names:
        W.LAST_STATE_METRICS.clear()
        try:
            REGISTRY[name].fn(spark, args.sf).collect()
        except Exception as ex:  # report a failed drain, keep going
            print(json.dumps({"query": name, "err": str(ex)[:140]}))
            continue
        drains = []
        for sink, ops in W.LAST_STATE_METRICS:
            drains.append(
                {
                    "sink": sink,
                    "state_ops": [
                        {
                            "rows": op.get("numRowsTotal"),
                            "mem_bytes": op.get("memoryUsedBytes"),
                            "evicted": op.get("numRowsRemoved"),
                        }
                        for op in ops
                    ],
                }
            )
        print(json.dumps({"query": name, "drains": drains}))


if __name__ == "__main__":
    main()
