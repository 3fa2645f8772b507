"""Parquet schema memo behind ``catalog.load_table``.

A warm load of an unchanged table must not run Spark's schema-inference
job, while any rewrite of the table (single file or directory, new
columns or new partition values) or a change of an inference conf must
be seen on the next load. Every load returns a fresh relation, so
self-joins stay resolvable.
"""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from aws_datalake_platform_spark.catalog import _SCHEMA_MEMO, load_table

from .conftest import SF_SMOKE


def _next_job_id(spark) -> int:
    # synchronous DAGScheduler counter (observability.MetricsCollector)
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture
def lake(tmp_path):
    for t in ("lineitem", "events"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    return str(tmp_path)


def test_warm_load_submits_no_job(spark, lake):
    _SCHEMA_MEMO.clear()
    before = _next_job_id(spark)
    cold = load_table(spark, lake, "lineitem")
    assert _next_job_id(spark) > before  # the miss infers with a job
    before = _next_job_id(spark)
    warm = load_table(spark, lake, "lineitem")
    assert _next_job_id(spark) == before
    assert warm.schema == cold.schema
    assert warm.count() == cold.count() > 0


def test_single_file_rewrite_with_extra_column_is_seen(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]  # hit
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]


def test_directory_rewrite_with_extra_column_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, 7)], "a long, p int").write.partitionBy("p").parquet(path)
    assert load_table(spark, str(tmp_path), "t").dtypes == [("a", "bigint"), ("p", "int")]
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "p"]  # hit
    shutil.rmtree(path)  # dynamic overwrite would keep the p=7 partition
    spark.createDataFrame([(1, "x", "q")], "a long, b string, p string").write.partitionBy(
        "p"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    # partition directory names are in the signature: p=q re-infers p
    assert df.dtypes == [("a", "bigint"), ("b", "string"), ("p", "string")]
    assert [tuple(r) for r in df.collect()] == [(1, "x", "q")]


def test_self_join_matches_unmemoized(spark, lake):
    def pairs(a, b):
        return sorted(
            map(
                tuple,
                a.join(
                    b,
                    (a["l_orderkey"] == b["l_orderkey"])
                    & (a["l_linenumber"] < b["l_linenumber"]),
                )
                .select(a["l_orderkey"], a["l_linenumber"], b["l_linenumber"])
                .collect(),
            )
        )

    expected = pairs(
        spark.read.parquet(f"{lake}/lineitem.parquet"),
        spark.read.parquet(f"{lake}/lineitem.parquet"),
    )
    _SCHEMA_MEMO.clear()
    load_table(spark, lake, "lineitem")  # populate: both sides below hit
    got = pairs(load_table(spark, lake, "lineitem"), load_table(spark, lake, "lineitem"))
    assert got == expected and len(expected) > 0


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_type_same_on_hit_and_miss(spark, tmp_path, unit):
    src = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = src.schema.get_field_index("ts")
    ev = src.set_column(i, "ts", src.column("ts").cast(pa.timestamp(unit)))
    pq.write_table(ev, tmp_path / "events.parquet", version="2.6")
    _SCHEMA_MEMO.clear()
    miss = load_table(spark, str(tmp_path), "events")
    hit = load_table(spark, str(tmp_path), "events")
    assert miss.schema["ts"].dataType == hit.schema["ts"].dataType == T.TimestampType()
    key = ["event_id", "ts"]
    assert hit.select(key).orderBy("event_id").collect() == miss.select(key).orderBy(
        "event_id"
    ).collect()


def test_inference_conf_change_is_seen(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), tmp_path / "t.parquet")
    conf = "spark.sql.parquet.binaryAsString"
    prior = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
        spark.conf.set(conf, "true")
        assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "string")]
    finally:
        spark.conf.set(conf, prior)


def test_missing_path_raises_spark_error_and_is_not_memoized(spark, tmp_path):
    _SCHEMA_MEMO.clear()
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "absent")
    assert not _SCHEMA_MEMO


def test_events_stream_schema_reads_through_memo(spark, lake):
    """The events stream plan takes its schema from the memo too."""
    from aws_datalake_platform_spark.plans.temporal import _events_stream

    _SCHEMA_MEMO.clear()
    load_table(spark, lake, "events")
    before = _next_job_id(spark)
    sdf = _events_stream(spark, lake)
    assert _next_job_id(spark) == before
    assert sdf.isStreaming
    assert sdf.schema["ts"].dataType == T.TimestampType()
