"""The seeded input generator, without Spark: schemas, determinism,
domains, foreign keys, and rows from every workload op's oracle."""

import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from benchmark import datagen, workloads
from benchmark.oracle import Oracle

SEED = 1  # run.py's DEFAULT_SEED


@pytest.fixture(scope="module")
def tables():
    return datagen.build_tables(SEED, workloads.CURATION_SCALE)


def test_schemas_match_the_declared_ones(tables, tmp_path):
    datagen.generate(str(tmp_path), SEED, workloads.CURATION_SCALE)
    for name, schema in datagen.SCHEMAS.items():
        assert tables[name].schema.equals(schema), name
        on_disk = pq.read_schema(tmp_path / f"{name}.parquet")
        assert on_disk.remove_metadata().equals(schema), name
    assert str(datagen.SCHEMAS["events"].field("ts").type) == "timestamp[us]"


def test_schemas_match_the_reference_test_data():
    ref = os.environ.get("SPARK_GRAFT_TEST_SF")
    if not ref or not os.path.isdir(ref):
        pytest.skip("SPARK_GRAFT_TEST_SF names no reference data directory")
    for name, schema in datagen.SCHEMAS.items():
        got = pq.read_schema(os.path.join(ref, f"{name}.parquet")).remove_metadata()
        assert got.equals(schema), name


def test_same_seed_same_tables_other_seed_other_tables(tables):
    again = datagen.build_tables(SEED, workloads.CURATION_SCALE)
    other = datagen.build_tables(SEED + 1, workloads.CURATION_SCALE)
    for name in datagen.TABLES:
        assert tables[name].equals(again[name]), name
    assert not tables["lineitem"].equals(other["lineitem"])


def test_value_domains(tables):
    ev = tables["events"]
    assert set(pc.unique(ev["event_type"]).to_pylist()) == set(datagen.EVENT_TYPES)
    ts = ev["ts"].cast("int64").to_numpy()
    assert np.all(np.diff(ts) >= 0)
    emb = tables["embeddings"]
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    assert vecs.shape[1] == datagen.EMBED_DIM
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
    assert set(pc.unique(emb["label"]).to_pylist()) == set(range(datagen.N_LABELS))
    words = {w for t in tables["documents"]["text"].to_pylist() for w in t.split()}
    assert words <= set(datagen.WORDS) | {"dup"}
    docs = tables["documents"]
    assert pc.all(pc.equal(docs["n_chars"], pc.utf8_length(docs["text"]))).as_py()


def test_foreign_keys_resolve(tables):
    def keys(t, c):
        return set(tables[t][c].to_pylist())

    assert keys("lineitem", "l_orderkey") <= keys("orders", "o_orderkey")
    assert keys("lineitem", "l_partkey") <= keys("part", "p_partkey")
    assert keys("lineitem", "l_suppkey") <= keys("supplier", "s_suppkey")
    assert keys("orders", "o_custkey") <= keys("customer", "c_custkey")
    assert keys("customer", "c_nationkey") <= keys("nation", "n_nationkey")
    assert keys("nation", "n_regionkey") <= keys("region", "r_regionkey")


def test_shard_overwrites_in_place_with_fresh_rows(tmp_path):
    datagen.write_shard(str(tmp_path), SEED, 1, workloads.CURATION_SCALE)
    first = pq.read_table(tmp_path / "documents.parquet")
    datagen.write_shard(str(tmp_path), SEED, 2, workloads.CURATION_SCALE)
    second = pq.read_table(tmp_path / "documents.parquet")
    assert first.num_rows == second.num_rows
    assert not first.equals(second)


def test_events_directory_layout(tmp_path):
    datagen.generate(str(tmp_path), SEED, 0.001, events_files=3)
    parts = sorted(os.listdir(tmp_path / "events.parquet"))
    assert parts == [f"part-{i:05d}.parquet" for i in range(3)]
    assert pq.read_table(tmp_path / "events.parquet").num_rows == 1000


@pytest.mark.parametrize("ops", [workloads.CURATION_OPS, workloads.STREAM_OPS])
def test_every_workload_op_returns_rows(ops, tmp_path):
    from big_data_bowl_spark.queries import REGISTRY

    datagen.generate(
        str(tmp_path), SEED, workloads.CURATION_SCALE, events_files=workloads.STREAM_BACKLOG_FILES
    )
    oracle = Oracle(str(tmp_path))
    for name in ops:
        _, rows, _ = oracle.expected(name, REGISTRY[name].oracle)
        assert rows, name
