"""Table resolution in ``sources.readers``: each parquet table's schema
is inferred once per file and memoized, so a warm ``load_table`` starts
no Spark job. The memo must never serve a stale schema (a rewrite in
place is picked up on the next load), must keep the TIMESTAMP(NANOS)
``events`` handling, and a missing table must fail with a named error
before Spark is asked anything."""

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import TimestampNTZType

from dataframe_retail_e_inventarios_spark.functions.timewall import to_wall_ntz
from dataframe_retail_e_inventarios_spark.plans.queries_dq import (
    q_dataset_stats_manifest,
)
from dataframe_retail_e_inventarios_spark.sources.readers import (
    TESTDATA_TABLES,
    load_table,
)
from dataframe_retail_e_inventarios_spark.testing import spark_jobs
from tests.conftest import SF_SMOKE


def _jobs(spark, fn):
    """Number of Spark jobs ``fn()`` starts."""
    with spark_jobs(spark, f"resolution-{uuid.uuid4().hex}") as ids:
        fn()
    return len(ids)


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_memoized_schema_matches_inference_and_warm_load_runs_no_job(spark, name):
    uncached = to_wall_ntz(spark.read.parquet(os.path.join(SF_SMOKE, f"{name}.parquet")))
    load_table(spark, SF_SMOKE, name)
    holder = []
    assert _jobs(spark, lambda: holder.append(load_table(spark, SF_SMOKE, name))) == 0
    assert holder[0].schema == uncached.schema
    assert holder[0].count() == uncached.count()


def test_two_loads_are_distinct_relations(spark):
    # the memo holds a schema, never a DataFrame: a self-join must
    # resolve its two sides
    a = load_table(spark, SF_SMOKE, "nation").alias("a")
    b = load_table(spark, SF_SMOKE, "nation").alias("b")
    pairs = a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey"))
    n = spark.read.parquet(os.path.join(SF_SMOKE, "nation.parquet"))
    expected = n.groupBy("n_regionkey").count().select(F.sum(F.col("count") ** 2)).first()[0]
    assert pairs.count() == expected


def test_spark_directory_overwrite_is_picked_up(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(7).withColumn("extra", F.lit("x")).write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "extra"]
    assert df.count() == 7


def test_single_file_replaced_under_the_same_name_is_picked_up(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    staged = tmp_path / "staged"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), staged)
    os.replace(staged, path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y"]


def test_nanos_events_arrive_as_micro_ntz(spark, tmp_path):
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**9
    # sub-micro remainders truncate toward zero, as DuckDB reads them,
    # also before the epoch and where a double division would round up
    ts = pa.array([base + 1_500, base + 2_000_999, -1_500], type=pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": [1, 2, 3], "ts": ts}),
        tmp_path / "events.parquet",
        coerce_timestamps=None,
        allow_truncated_timestamps=False,
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    try:
        # cold, then warm with the conf reset in between: the memoized
        # footer probe must set it again
        for _ in range(2):
            spark.conf.unset(conf)
            df = load_table(spark, str(tmp_path), "events")
            assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
            got = sorted(r["ts"] for r in df.collect())
            assert got == [dt.datetime(1969, 12, 31, 23, 59, 59, 999_999),
                           dt.datetime(2024, 1, 1, 0, 0, 0, 1),
                           dt.datetime(2024, 1, 1, 0, 0, 0, 2000)]
    finally:
        spark.conf.set(conf, before)


def test_missing_table_raises_a_named_error(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match=f"{tmp_path}/lineitem.parquet"):
        load_table(spark, str(tmp_path), "lineitem")


def test_manifest_raises_on_a_changed_column_list(spark, tmp_path):
    for name in TESTDATA_TABLES:
        os.symlink(os.path.join(SF_SMOKE, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    os.remove(tmp_path / "region.parquet")
    region = pq.read_table(os.path.join(SF_SMOKE, "region.parquet"))
    pq.write_table(region.append_column("r_extra", pa.array([0] * len(region))),
                   tmp_path / "region.parquet")
    with pytest.raises(ValueError, match="region schema drift"):
        q_dataset_stats_manifest(spark, str(tmp_path))
