"""Single-pass Spark column profiler.

Re-expresses the reference's per-column pandas loops
(pattern_classifier.py:110-137 / base.py:121-152) as one job over the
whole table: the scalar columns are melted into (column id, rendering)
pairs, counted per distinct rendering, then aggregated per column:

    count(*), and per column: count, count(distinct),
    one regex-hit count per pattern (21), BK-code hits, sorted sample

— a single scan with two keyed hash aggregations and whole-stage
codegen (see ``_scalar_stats``). No per-column passes, no driver-side
data loops: the only thing that leaves the executors is one tiny stats
row per column. The statistics are built as SQL expression strings,
like the cascade, so building the plan costs a few JVM calls rather than
one per Column node.

Scale notes (100 TB posture):
- The scan is columnar parquet; Catalyst prunes to exactly the profiled
  columns.
- Exact distinct counts are the number of first-level groups per
  column, so no Expand operator is needed; at the 100 TB tier pass
  ``exact_distinct=False`` to use ``approx_count_distinct`` (HLL sketch)
  instead — the oracle-checked path keeps exact.
- The cascade runs on the exploded stats rows (C rows), declared via the
  same SQL expression strings the DuckDB oracle uses (cascade.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ai_data_pipeline_spark.profiling import cascade, patterns as P

SAMPLE_TRUNC = 40
SAMPLE_N = 5


def kind_of(dtype: T.DataType) -> str:
    """Map a Spark physical type to the engine's rendering class."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dtype, T.LongType):
        return "long"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return "double"
    if isinstance(dtype, T.DecimalType):
        return "double"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dtype, T.DateType):
        return "date"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.ArrayType):
        return "vector"
    if isinstance(dtype, T.BinaryType):
        return "binary"
    return "other"


def _qname(name: str) -> str:
    """Backtick-quoted column reference: profiled inputs are arbitrary
    uploads, so names may contain dots/spaces that would otherwise parse
    as struct access (op35 robustness)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """Spark SQL string literal. Spark unescapes backslash sequences inside
    literals, so backslashes are doubled and quotes backslash-escaped
    (cascade._sq's quote doubling is DuckDB's rule, which has no backslash
    escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def render_sql(col: str, kind: str) -> str | None:
    """Lossless string rendering, as Spark SQL, used for pattern matching —
    the Spark analogue of the reference's ``sample.astype(str)``
    (pattern_classifier.py:73).

    Mirrors the DuckDB oracle's ``duck_render`` (oracle.py): plain cast
    for ints/doubles/bools, explicit formatting for dates and timestamps.
    Timestamps keep microsecond precision (Spark's native resolution) so
    the rendering is injective — distinct renderings == distinct values,
    and ``count(distinct col)`` can be computed on the melted string
    stream; the matching rendering (second precision, as the oracle's) is
    its first 19 chars. (Caveat, documented: Java renders |x| >= 1e7
    doubles in scientific notation where DuckDB does not — irrelevant for
    pattern ratios unless a column straddles 1e7.)
    """
    c = _qname(col)
    if kind == "string":
        return c
    if kind in ("int", "long", "double", "boolean"):
        return f"CAST({c} AS STRING)"
    if kind == "timestamp":
        return f"date_format({c}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    if kind == "date":
        return f"date_format({c}, 'yyyy-MM-dd')"
    return None  # vector/binary/other: no string rendering


def _scalar_stats(
    df: DataFrame, columns: list[tuple[str, str]], exact_distinct: bool
) -> DataFrame:
    """Per-column stats for scalar columns via melt + two-level aggregation.

    Plan shape (one scan, two keyed shuffles, NO Expand operator):

      scan → inline to (cid, render_l)                    [C× rows, map-side]
           → groupBy(cid, render_l) count                 [shuffle 1: distincts]
           → groupBy(cid): weighted regex hits, counts,   [shuffle 2: C rows]
             distinct count, sorted sample

    Why: regexes run on *distinct rendered values weighted by counts*, not
    on raw rows — for low-cardinality columns (flags, dates, quantities)
    that is orders of magnitude less regex work, and it is exactly
    equivalent because the hit count is sum(cnt · matches(v)) either way.
    The rendering is injective, so count(distinct render_l) ==
    count(distinct value). Map-side partial aggregation absorbs the C×
    melt before the shuffle; high-cardinality columns degrade gracefully
    to ~row-count work (hash agg spills as needed).

    Every expression is a SQL string, parsed in the JVM in one call,
    rather than a tree of Column calls that each cross to the JVM.
    """
    scalars = [
        (i, render)
        for i, (c, kind) in enumerate(columns)
        if (render := render_sql(c, kind)) is not None
    ]
    if not scalars:
        return None
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        # CPU-bound pass: a single-row-group parquet file scans as ~1 task
        # no matter its size; redistribute first. No-ops at cluster scale
        # where the scan already has thousands of splits.
        df = df.repartition(parallelism)
    melt = ", ".join(
        f"named_struct('cid', {i}, 'render_l', {render})" for i, render in scalars
    )
    level1 = (
        df.selectExpr(f"inline(array({melt}))")
        .groupBy("cid", "render_l")
        .agg(F.expr("count(1) AS cnt"))
    )

    ts_cids = [i for i, (c, kind) in enumerate(columns) if kind == "timestamp"]
    render = (
        f"CASE WHEN cid IN ({', '.join(map(str, ts_cids))}) "
        "THEN substring(render_l, 1, 19) ELSE render_l END"
        if ts_cids
        else "render_l"
    )
    level1 = level1.selectExpr("*", f"{render} AS render")

    n_distinct = (
        "count(render_l)"
        # rsd 0.02 (~2.7k registers, a few KB/column, still mergeable):
        # keeps the sketch within the ±5% bound the property tests pin
        # (default 0.05 measured 6.6% off on l_shipdate at sf0.001)
        if exact_distinct
        else "approx_count_distinct(render_l, 0.02)"
    )
    aggs = [
        "sum(cnt) AS n_total",
        "sum(CASE WHEN render_l IS NOT NULL THEN cnt ELSE 0 END) AS n_nonnull",
        f"{n_distinct} AS n_distinct",
    ]
    for _, pname, rx in P.PATTERNS:
        aggs.append(
            f"sum(CASE WHEN render RLIKE {sql_str(rx)} THEN cnt ELSE 0 END) AS h_{pname}"
        )
    aggs.append(
        "concat_ws(',', slice(array_sort(collect_set("
        f"substring(render, 1, {SAMPLE_TRUNC}))), 1, {SAMPLE_N})) AS sample_values"
    )
    return level1.groupBy("cid").agg(*map(F.expr, aggs))


def _nonscalar_stats(df: DataFrame, columns: list[tuple[str, str]]) -> DataFrame:
    """Counts/distincts for vector/binary columns (no string rendering):
    one tiny wide agg, reshaped to per-cid rows."""
    nonscalars = [
        (i, _qname(c))
        for i, (c, kind) in enumerate(columns)
        if render_sql(c, kind) is None
    ]
    if not nonscalars:
        return None
    aggs = ["count(1) AS n_total"]
    for i, c in nonscalars:
        aggs.append(f"count({c}) AS c{i}__nonnull")
        aggs.append(f"count(DISTINCT {c}) AS c{i}__distinct")
    wide = df.agg(*map(F.expr, aggs))
    hits = "".join(f", 'h_{pname}', CAST(NULL AS BIGINT)" for pname in P.PATTERN_NAMES)
    rows = ", ".join(
        f"named_struct('cid', {i}, 'n_total', n_total, 'n_nonnull', c{i}__nonnull, "
        f"'n_distinct', c{i}__distinct{hits}, 'sample_values', '')"
        for i, _ in nonscalars
    )
    return wide.selectExpr(f"inline(array({rows}))")


def profile_table(
    df: DataFrame,
    columns: list[tuple[str, str]] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Profile every column of ``df`` → one profile row per column.

    Output schema: cascade.PROFILE_COLUMNS. Equivalent of the reference's
    ``analyze_dataframe`` (pattern_classifier.py:110-137), as one Spark job.
    """
    if columns is None:
        columns = [(f.name, kind_of(f.dataType)) for f in df.schema.fields]

    stats = _scalar_stats(df, columns, exact_distinct)
    ns_stats = _nonscalar_stats(df, columns)
    if stats is None:
        stats = ns_stats
    elif ns_stats is not None:
        stats = stats.unionByName(ns_stats)

    spark = df.sparkSession
    flags = spark.createDataFrame(
        [
            (
                i,
                c,
                kind if kind in ("vector", "binary") else "scalar",
                P.name_has(c, P.ID_NAME_PARTS),
                "id" in c.lower(),
                P.name_has(c, ("id", "key")),
                P.name_has(c, P.BK_NAME_PARTS),
                P.name_pii(c),
                P.snake_case(c),
            )
            for i, (c, kind) in enumerate(columns)
        ],
        schema=(
            "cid int, column_name string, kind string, f_idname boolean, "
            "f_id_in_name boolean, f_pkname boolean, f_bkname boolean, "
            "f_name_pii string, f_suggested string"
        ),
    )
    zero = {"n_total": "0", "n_nonnull": "0", "n_distinct": "0", "sample_values": "''"}
    stats_rel = flags.join(stats, "cid", "left").withColumns(
        {c: F.expr(f"coalesce({c}, {z})") for c, z in zero.items()}
    )

    l1 = cascade.layer1_exprs()
    out = stats_rel.selectExpr("*", *[f"{sql} AS {name}" for name, sql in l1.items()])
    l2 = cascade.layer2_exprs(None)
    return out.selectExpr(*[f"{sql} AS {name}" for name, sql in l2.items()])


def profile_summary(profile_df: DataFrame) -> DataFrame:
    """op14 summary rollup (base.py:82-106): counts by data_type + avg
    confidence, over the profile DataFrame."""
    return (
        profile_df.groupBy("data_type")
        .agg(
            F.count(F.lit(1)).alias("n_columns"),
            F.round(F.avg("confidence"), 6).alias("avg_confidence"),
        )
    )
