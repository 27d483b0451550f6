"""Seeded input generator for the benchmark.

Writes the star-schema tables the engine reads (``region`` ... ``lineitem``,
``events``, ``documents``, ``embeddings``) with the same column names,
Arrow types and value domains as the engine's reference test data:
five event types, 64-dim unit embeddings with ten labels, documents over
a thirty-word vocabulary with planted near-duplicates, and foreign keys
that always resolve.  The same ``(seed, scale)`` gives byte-identical
tables.

``scale`` follows the TPC-H convention of the reference data: lineitem
has about ``6_000_000 * scale`` rows.  ``documents`` and ``embeddings``
never drop below 500 rows, as in the reference data.

Spark-free: only numpy and pyarrow.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMBED_DIM = 64
N_LABELS = 10
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_SOURCES = 20
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

TS = pa.timestamp("us")

SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [
            ("n_nationkey", pa.int32()),
            ("n_name", pa.string()),
            ("n_regionkey", pa.int32()),
        ]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", TS),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", TS),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", TS),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}
TABLES = tuple(SCHEMAS)

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000
_EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
_EVENTS_SPAN_US = 30 * _DAY_US


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at `scale` (lineitem ~ 6M x scale)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, round(150_000 * scale)),
        "supplier": max(5, round(10_000 * scale)),
        "part": max(20, round(200_000 * scale)),
        "orders": max(150, round(1_500_000 * scale)),
        "lineitem": max(600, round(6_000_000 * scale)),
        "events": max(100, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _days(rng, n: int, start: str, stop: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(stop, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, size=n)
    return days.astype(np.int64) * _DAY_US


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), pa.int64()).cast(TS)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _table(name: str, cols: dict) -> pa.Table:
    return pa.Table.from_pydict(cols, schema=SCHEMAS[name])


def events_table(
    rng: np.random.Generator,
    n: int,
    n_users: int,
    first_id: int = 0,
    ts_us: np.ndarray | None = None,
) -> pa.Table:
    """`n` events with ids from `first_id`; `ts_us` (epoch micros) if
    given, else sorted uniform times over January 2024."""
    if ts_us is None:
        start = (_EVENTS_START - _EPOCH).astype(np.int64)
        ts_us = np.sort(start + rng.integers(0, _EVENTS_SPAN_US, size=n))
    value = np.round(rng.exponential(50.0, size=n), 2) + 0.01
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    return _table(
        "events",
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": _ts(np.asarray(ts_us)),
            "user_id": rng.integers(0, n_users, size=n, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": value,
            "props": props,
        },
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents over the vocabulary; 5% are near-duplicates (another
    document's text plus " dup") and 0.2% exact copies."""
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 101, size=n)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lengths]
    for i in rng.choice(n, size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, size=max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return _table(
        "documents",
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        },
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors clustered around one random centre per label."""
    centres = rng.normal(size=(N_LABELS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n).astype(np.int32)
    vecs = centres[labels] + rng.normal(scale=0.12, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return _table(
        "embeddings",
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels,
        },
    )


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Every table at (seed, scale), with consistent foreign keys."""
    rng = np.random.default_rng(seed)
    n = row_counts(scale)
    nc, ns, npart, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"],
    )
    out: dict[str, pa.Table] = {}
    out["region"] = _table(
        "region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = _table(
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
    )
    out["customer"] = _table(
        "customer",
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        },
    )
    out["supplier"] = _table(
        "supplier",
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, size=ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        },
    )
    pk = np.arange(npart, dtype=np.int64)
    out["part"] = _table(
        "part",
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(PART_ADJ), size=npart),
                    rng.integers(0, len(PART_NOUN), size=npart),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=npart)],
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": rng.integers(1, 51, size=npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        },
    )
    out["orders"] = _table(
        "orders",
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, size=no, dtype=np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(_days(rng, no, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        },
    )
    out["lineitem"] = _table(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, no, size=nl, dtype=np.int64),
            "l_partkey": rng.integers(0, npart, size=nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, ns, size=nl, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, size=nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, size=nl) / 100.0,
            "l_tax": rng.integers(0, 9, size=nl) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _ts(_days(rng, nl, "1995-01-02", "2001-11-04")),
        },
    )
    out["events"] = events_table(rng, n["events"], n_users(scale))
    out["documents"] = documents_table(rng, n["documents"])
    out["embeddings"] = embeddings_table(rng, n["embeddings"])
    return out


def n_users(scale: float) -> int:
    """Distinct event users: one per ten customers."""
    return max(5, row_counts(scale)["customer"] // 10)


def write_table(table: pa.Table, path: str) -> None:
    """Write one parquet file atomically (temp file, then rename), so a
    reader never sees a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_events_dir(table: pa.Table, path: str, n_files: int) -> list[str]:
    """The directory layout `events.parquet/part-NNNNN.parquet`, split
    into `n_files` consecutive slices in ts order."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    files = []
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        write_table(table.slice(i * step, step), f)
        files.append(f)
    return files


def generate(out_dir: str, seed: int, scale: float, events_files: int = 0) -> dict[str, int]:
    """Write every table under `out_dir` as `<name>.parquet`; with
    `events_files > 0`, events uses the directory layout split into that
    many files.  Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    built = build_tables(seed, scale)
    for name, table in built.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name == "events" and events_files:
            write_events_dir(table, path, events_files)
        else:
            write_table(table, path)
    return {name: table.num_rows for name, table in built.items()}


def write_shard(out_dir: str, seed: int, shard: int, scale: float) -> dict[str, int]:
    """Overwrite `documents` and `embeddings` in place with shard
    `shard` of the corpus: fresh rows at the same path."""
    rng = np.random.default_rng([seed, shard])
    n = row_counts(scale)
    tables = {
        "documents": documents_table(rng, n["documents"]),
        "embeddings": embeddings_table(rng, n["embeddings"]),
    }
    for name, table in tables.items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


def now_us() -> int:
    """Wall-clock epoch micros, the events' creation stamp."""
    return time.time_ns() // 1000
