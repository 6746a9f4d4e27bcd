"""Testdata catalog: fixed schemas of the driver-generated tables.

The schemas mirror /root/testdata/sf*/ (see TESTDATA.md / FIXTURES.md §F7).
They are hard-coded so the DuckDB oracle SQL generator (which has no
SparkSession) and the Spark-side profiler share one source of truth.

``kind`` is the engine's physical-type class used to pick the string
rendering for pattern matching (see profiling/profiler.py).
"""

from __future__ import annotations

import json
import os

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# kind ∈ {int, long, double, string, timestamp, vector}
TABLES: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "long"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "long"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "long"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "long"),
        ("o_custkey", "long"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "long"),
        ("l_partkey", "long"),
        ("l_suppkey", "long"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "long"),
        ("ts", "timestamp"),
        ("user_id", "long"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "long"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "long"),
    ],
    "embeddings": [("vec_id", "long"), ("embedding", "vector"), ("label", "int")],
}

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


# Spark's parquet package, whose footer-to-schema rules the loads reuse
_SPARK_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."


def _first_data_file(path: str) -> str | None:
    """``path`` itself, or for a flat directory its first data file
    (Spark skips names starting with ``_`` or ``.``); None for anything
    else, e.g. a partitioned directory."""
    if not os.path.isdir(path):
        return path
    names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
    if not names or any(os.path.isdir(os.path.join(path, n)) for n in names):
        return None
    return os.path.join(path, names[0])


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema Spark infers for a parquet file or directory, with
    ``legacy.parquet.nanosAsLong`` on (set here), so TIMESTAMP(NANOS)
    columns come out as raw nanosecond longs.

    For a file or a flat directory this reads one footer on the driver
    and applies Spark's own rules to it: ``readSchemaFromFooter`` takes a
    Spark-written footer's row-metadata schema (which covers INT96),
    otherwise ``ParquetToSparkSchemaConverter`` under the session conf,
    and every field is made nullable as in a file read. That is what
    Spark's inference does with the same footer, minus the job it
    launches to read it. Any other layout takes Spark's inferring read.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    data_file = _first_data_file(path)
    if data_file is None:
        return spark.read.parquet(path).schema

    def jclass(name: str) -> JavaClass:
        # a direct handle: resolving a dotted name through ``spark._jvm``
        # costs one JVM class lookup per package segment
        return JavaClass(name, spark._jvm._gateway_client)

    state = spark._jsparkSession.sessionState()
    file = jclass("org.apache.hadoop.fs.Path")(data_file)
    reader = jclass("org.apache.parquet.hadoop.ParquetFileReader")
    footer = jclass("org.apache.parquet.hadoop.Footer")(
        file, reader.readFooter(state.newHadoopConf(), file)
    )
    converter = jclass(_SPARK_PARQUET + "ParquetToSparkSchemaConverter")(state.conf())
    fmt = getattr(jclass(_SPARK_PARQUET + "ParquetFileFormat$"), "MODULE$")
    schema = fmt.readSchemaFromFooter(footer, converter).asNullable()
    return T.StructType.fromJson(json.loads(schema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projections into it.

    The schema comes from the parquet footer (``parquet_schema``), so the
    load launches no schema-inference job. Pandas-written parquet may
    carry TIMESTAMP(NANOS) columns, which Spark does not read natively; we
    read them as raw nanosecond longs (legacy.parquet.nanosAsLong) and
    convert to microsecond timestamps. Parquet TIMESTAMP(MICROS,
    isAdjustedToUTC=false) columns are inferred as TIMESTAMP_NTZ by Spark
    4; we cast those back to TIMESTAMP (session TZ is UTC, so the
    wall-clock values are unchanged and oracle parity holds), keeping the
    catalog schema (TABLES) authoritative.
    """
    path = f"{sf_dir}/{name}.parquet"
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    declared = dict(TABLES.get(name, []))
    for field in schema.fields:
        if declared.get(field.name) != "timestamp":
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                field.name, F.expr(f"timestamp_micros({field.name} div 1000)")
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
