"""The declared table contract (core.TABLE_SCHEMAS) and what it buys.

Every table access used to launch a Spark job to infer the parquet
footer schema, and so did building the events stream. The declared
schemas replace those jobs, which is only sound while each one equals
what footer inference returns on every layout the engine reads: names,
order, types and nullability.
"""

from __future__ import annotations

import importlib.util
import os
import uuid

import pytest

from data_table_spark.core import TABLE_SCHEMAS, load_tables

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTDATA = "/root/testdata"


@pytest.fixture(scope="module")
def bench_dir(tmp_path_factory) -> str:
    """The benchmark's generated tables at sf0.001 (the schema does not
    depend on the data seed)."""
    spec = importlib.util.spec_from_file_location(
        "datagen", os.path.join(ROOT, "perfbench", "datagen.py"))
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    out = str(tmp_path_factory.mktemp("bench_tables"))
    datagen.write_tables(out, 0.001, 1)
    return out


def _jobs_launched(spark, build) -> list[int]:
    """Spark job ids launched while ``build()`` runs, by job group."""
    sc = spark.sparkContext
    group = f"contract-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_contract(spark, sf_dir):
    for name, declared in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert declared == inferred, (name, declared, inferred)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_contract_matches_testdata(spark, sf):
    sf_dir = os.path.join(TESTDATA, sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    _assert_contract(spark, sf_dir)


def test_contract_matches_benchmark_tables(spark, bench_dir):
    _assert_contract(spark, bench_dir)


def test_contract_matches_spark_written_copy(spark, bench_dir, tmp_path):
    # directories of part files, as bench.scan_parallel_copy and
    # tools/make_scale_data.py write them
    for name in TABLE_SCHEMAS:
        spark.read.parquet(f"{bench_dir}/{name}.parquet").repartition(2).write.parquet(
            f"{tmp_path}/{name}.parquet")
    _assert_contract(spark, str(tmp_path))


def test_name_outside_contract_is_inferred(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 2.5)], "k short, s string, x float")
    df.write.parquet(f"{tmp_path}/extra.parquet")
    t = load_tables(spark, str(tmp_path))
    assert "extra" not in TABLE_SCHEMAS
    got = t["extra"].df
    assert got.schema == spark.read.parquet(f"{tmp_path}/extra.parquet").schema
    assert [tuple(r) for r in got.collect()] == [(1, "a", 2.5)]


def test_declared_tables_build_without_jobs(spark, bench_dir, tmp_path):
    t = load_tables(spark, bench_dir)
    for name in TABLE_SCHEMAS:
        assert _jobs_launched(spark, lambda: t[name]) == [], name
    # the probe does see a job: footer inference of an undeclared name
    spark.createDataFrame([(1,)], "k int").write.parquet(
        f"{tmp_path}/extra.parquet")
    extra = load_tables(spark, str(tmp_path))
    assert _jobs_launched(spark, lambda: extra["extra"])


def test_events_stream_builds_without_jobs(spark, bench_dir):
    from data_table_spark.streaming import read_events_stream

    out = {}
    jobs = _jobs_launched(
        spark, lambda: out.setdefault("s", read_events_stream(spark, bench_dir)))
    assert jobs == []
    batch = load_tables(spark, bench_dir)["events"].df
    assert out["s"].isStreaming
    assert out["s"].schema == batch.schema
