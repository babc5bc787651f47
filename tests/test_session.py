"""Warm-session reuse: the generated-class cache holds a working set larger
than Spark's default 100 entries, and parquet schemas are inferred once
per (path, file listing, inference confs)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from who_owns_mass_processing_spark.sources.parquet import read_parquet

# more distinct generated classes than the default cache holds
N_PLANS = 130


def _compilations(spark) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def _plan_mix(spark) -> list:
    # integer literals are inlined into the generated source, so every
    # plan compiles a class of its own
    return [
        spark.range(3).selectExpr(f"id * {7_000_003 + i} + {i} AS x").where(f"x >= {i}").collect()
        for i in range(N_PLANS)
    ]


def test_second_run_of_a_large_plan_mix_compiles_nothing(spark):
    before = _compilations(spark)
    first = _plan_mix(spark)
    compiled = _compilations(spark) - before
    assert compiled > 100, compiled  # the mix really exceeds the default cache
    before = _compilations(spark)
    assert _plan_mix(spark) == first
    assert _compilations(spark) - before == 0


def _write(path, table: pa.Table) -> None:
    pq.write_table(table, str(path))


def test_second_read_launches_no_job_and_matches_plain_read(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"k": pa.array([1, 2, 3], pa.int64()), "s": ["a", "b", None]}))
    read_parquet(spark, path)
    jobs = _jobs(spark)
    df = read_parquet(spark, path)
    assert _jobs(spark) == jobs
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert df.schema.json() == plain.schema.json()
    assert sorted(df.collect()) == sorted(plain.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"k": pa.array([1, 2], pa.int64())}))
    assert read_parquet(spark, path).columns == ["k"]
    _write(path, pa.table({"k": pa.array([1, 2], pa.int64()), "extra": ["x", "y"]}))
    df = read_parquet(spark, path)
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_added_wider_part_file_is_merged(spark, tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    _write(d / "part-0.parquet", pa.table({"k": pa.array([1], pa.int64())}))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert read_parquet(spark, str(d)).columns == ["k"]
        _write(d / "part-1.parquet", pa.table({"k": pa.array([2], pa.int64()), "w": [1.5]}))
        df = read_parquet(spark, str(d))
        assert set(df.columns) == {"k", "w"}
        assert sorted(df.select("k", "w").collect()) == [(1, None), (2, 1.5)]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_inference_conf_change_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    _write(path, pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}))
    assert read_parquet(spark, path).schema["b"].dataType.simpleString() == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df = read_parquet(spark, path)
        assert df.schema["b"].dataType.simpleString() == "string"
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert read_parquet(spark, path).schema["b"].dataType.simpleString() == "binary"
