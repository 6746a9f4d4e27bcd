"""Footer-derived table schemas: parity with Spark's own inference, and
``load_table`` launching no Spark job."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from ai_data_pipeline_spark.catalog import TABLES, load_table, parquet_schema
from ai_data_pipeline_spark.streaming.windows import _events_schema
from tests.conftest import SF_DIR

# the three testdata scales next to the suite's own, and the benchmark's copy
SF_DIRS = [str(Path(SF_DIR).parent / f"sf{sf}") for sf in ("0.001", "0.01", "0.1")] + [
    str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.01"),
]


def _inferring_load(spark, sf_dir: str, name: str):
    """load_table as it reads without a footer schema: Spark infers the
    schema (one job), then the same timestamp normalisation."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    declared = dict(TABLES.get(name, []))
    for field in df.schema.fields:
        if declared.get(field.name) != "timestamp":
            continue
        if isinstance(field.dataType, LongType):
            df = df.withColumn(field.name, F.expr(f"timestamp_micros({field.name} div 1000)"))
        elif isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


@pytest.mark.parametrize("table", list(TABLES))
@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_footer_schema_matches_spark_inference(spark, sf_dir, table):
    path = f"{sf_dir}/{table}.parquet"
    if not Path(path).exists():
        pytest.skip(f"{path} not present")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def _events_table(ts_type: pa.DataType) -> pa.Table:
    ts = pd.to_datetime(
        ["2024-03-01 10:15:30.123456", None, "1999-12-31 23:59:59.999999", "2024-03-01 00:00:00"],
        format="ISO8601",
    )
    return pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(ts, ts_type),
            "user_id": pa.array([7, 7, None, 9], pa.int64()),
            "event_type": ["click", "view", None, "click"],
            "value": [1.5, None, -2.25, 0.0],
            "props": ['{"a": 1}', "", None, "x\\y'z"],
        }
    )


# planted events files: pyarrow-written NANOS, NTZ micros and INT96 ts,
# Spark-written flat and partitioned directories, and all-null columns
ENCODINGS = [
    "nanos",
    "ntz_micros",
    "int96",
    "spark_dir",
    "partitioned_dir",
    "null_column",
    "nanos_null_column",
]


def _plant(spark, sf_dir: Path, encoding: str) -> None:
    path = sf_dir / "events.parquet"
    if encoding in ("nanos", "nanos_null_column"):
        table = _events_table(pa.timestamp("ns"))
    else:
        table = _events_table(pa.timestamp("us"))
    if encoding.endswith("null_column"):  # parquet type NULL, no physical values
        table = table.append_column("extra", pa.nulls(table.num_rows))
    if encoding in ("nanos", "nanos_null_column"):
        pq.write_table(table, path, version="2.6")
    elif encoding == "int96":
        pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    elif encoding == "spark_dir":  # part files, one column non-nullable
        spark.createDataFrame(table.to_pandas()).withColumn(
            "event_id", F.coalesce("event_id", F.lit(0))
        ).repartition(2).write.parquet(str(path))
    elif encoding == "partitioned_dir":
        spark.createDataFrame(table.to_pandas()).write.partitionBy("event_type").parquet(
            str(path)
        )
    else:
        pq.write_table(table, path)


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_load_table_matches_inferring_read(spark, tmp_path, encoding):
    _plant(spark, tmp_path, encoding)
    path = tmp_path / "events.parquet"
    assert path.is_dir() == encoding.endswith("_dir")
    physical = {
        "nanos": "INT64",
        "ntz_micros": "INT64",
        "int96": "INT96",
        "nanos_null_column": "INT64",
    }.get(encoding)
    if physical is not None:
        assert pq.read_metadata(path).schema.column(1).physical_type == physical
    expected = _inferring_load(spark, str(tmp_path), "events")
    assert parquet_schema(spark, str(path)) == spark.read.parquet(str(path)).schema
    got = load_table(spark, str(tmp_path), "events")
    assert got.schema == expected.schema
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert sorted(got.collect(), key=repr) == sorted(expected.collect(), key=repr)


@pytest.mark.parametrize(
    "encoding, mode",
    [("nanos", "nanos"), ("nanos_null_column", "nanos"), ("ntz_micros", "ntz"), ("int96", "utc")],
)
def test_events_stream_mode_follows_footer(spark, tmp_path, encoding, mode):
    """The stream's ts mode needs no earlier load to have set nanosAsLong,
    and reading it launches no job."""
    _plant(spark, tmp_path, encoding)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    got = {}

    def probe():
        got["schema"], got["mode"] = _events_schema(spark, str(tmp_path))

    assert _jobs_in_group(spark, f"events-schema-{encoding}", probe) == 0
    assert got["mode"] == mode
    ts_type = {"nanos": LongType(), "ntz": TimestampNTZType(), "utc": TimestampType()}[mode]
    assert got["schema"]["ts"].dataType == ts_type


def _jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs ``action`` launches, read from the status store."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_launches_no_job(spark):
    sf_dir = SF_DIR
    # the counter sees an inferring read's schema job
    assert _jobs_in_group(
        spark, "catalog-inferring-read", lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ) >= 1

    def load_all():
        for table in TABLES:
            load_table(spark, sf_dir, table)
        _events_schema(spark, sf_dir)

    assert _jobs_in_group(spark, "catalog-footer-load", load_all) == 0
