"""Local replica of the driver's t2 correctness gate.

Runs every registered query (or a named subset) through Spark AND its
DuckDB oracle on the same parquet tables, then compares row count,
sorted column names, the full order-insensitive multiset of values,
AND the per-column value-type classes — stricter than a hash: on
mismatch it prints the first differing rows so the gap is debuggable.

The type-class compare exists because the driver's hash is
type-sensitive in one specific way this gate was historically blind
to (it cost rounds 8 AND 9): DuckDB returns HUGEINT for SUM(int),
which surfaces through Arrow as decimal128(38,0) and float-normalizes
to "123.0", while Spark emits int64 "123" — hash mismatch even though
the integer VALUES are identical. Driver-green evidence (a21/t26's
decimal(22,1) bin bounds vs Spark double were green in r9) shows
Decimal-vs-float is tolerated, so the classes are: bool | int |
real(float+Decimal) | datetime | datetime[tz] | date | str | bytes |
list<elem-classes>. An oracle column classed "real" (e.g. an un-cast
integer SUM's Decimal) against a Spark "int" column now FAILS locally.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.001] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_value(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, list):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def norm_rows(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(norm_value(r[i]) for i in order) for r in rows)


def type_class(v):
    """Driver-hash-equivalent type class of a collected Python value.

    None → None (nulls carry no class). bool before int (bool is an
    int subclass). float and Decimal share one class because the
    driver's hash float-normalizes both (proven by a21/t26 being
    driver-green with decimal(22,1) oracle bins vs Spark doubles),
    while int stays distinct (proven by t25/t31 being driver-RED with
    decimal128(38,0) oracle sums vs Spark int64).
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, (float, Decimal)):
        return "real"
    if isinstance(v, datetime):
        return "datetime[tz]" if v.tzinfo is not None else "datetime"
    if isinstance(v, date):
        return "date"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, (list, tuple)):
        inner = sorted({c for x in v if (c := type_class(x)) is not None})
        return "list<" + ",".join(inner) + ">"
    return type(v).__name__


def col_type_classes(rows, colnames):
    """Per-column set of non-null value type classes."""
    classes = {c: set() for c in colnames}
    for r in rows:
        for c, v in zip(colnames, r):
            tc = type_class(v)
            if tc is not None:
                classes[c].add(tc)
    return classes


def typed_mismatches(srows, scols, orows, ocols):
    """Columns whose Spark vs oracle type classes differ (both non-empty)."""
    sc = col_type_classes(srows, scols)
    oc = col_type_classes(orows, ocols)
    bad = []
    for c in scols:
        s, o = sc.get(c, set()), oc.get(c, set())
        if s and o and s != o:
            bad.append((c, sorted(s), sorted(o)))
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--plain",
        action="store_true",
        help="use a bare SparkSession (driver-like) instead of get_spark()",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from big_data_bowl_spark.queries import REGISTRY

    if args.plain:
        # The driver imports __spark_entry__ and calls queries() with
        # ITS OWN bare session — --plain reproduces that, catching any
        # accidental dependency on get_spark()'s config.
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from big_data_bowl_spark.session import get_spark

        spark = get_spark(shuffle_partitions=8)

    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{tbl}.parquet')"
        )

    names = args.names or list(REGISTRY)
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            # a typo'd name counts as a failure and the run continues
            # (a raw KeyError would abort every name after it)
            print(f"FAIL  {name}: not in REGISTRY")
            n_fail += 1
            continue
        t0 = time.time()
        try:
            df = spec.fn(spark, args.sf)
            scols = df.columns
            srows = df.collect()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            n_rows_only += 1
            continue
        try:
            cur = con.execute(spec.oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns {sorted(scols)} != {sorted(ocols)}")
            n_fail += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount {len(srows)} != {len(orows)}")
            n_fail += 1
            continue
        tbad = typed_mismatches(srows, scols, orows, ocols)
        if tbad:
            c, s, o = tbad[0]
            print(
                f"FAIL  {name}: TYPE mismatch on {len(tbad)} col(s); "
                f"first: {c!r} spark={s} oracle={o} — the driver hash "
                f"is type-sensitive (un-cast integer SUM in the oracle? "
                f"CAST it to BIGINT)"
            )
            n_fail += 1
            continue
        sn = norm_rows(srows, scols)
        on = norm_rows(orows, ocols)
        if sn != on:
            diffs = [(a, b) for a, b in zip(sn, on) if a != b]
            print(
                f"FAIL  {name}: {len(diffs)} differing rows of {len(sn)}; "
                f"first: spark={diffs[0][0]} oracle={diffs[0][1]} "
                f"(cols sorted: {sorted(scols)})"
            )
            n_fail += 1
            continue
        print(f"PASS  {name}: {len(srows)} rows  [{dt:.1f}s]")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
