"""DuckDB oracle answers and the result comparison.

Answers are computed once, before any timed region, from
``__spark_entry__.oracle_sql()`` over the same parquet files Spark reads.
Rows are normalized and sorted exactly as ``tools/drive_contract.py``
does (its ``norm`` and type categories are imported, so the repo keeps a
single comparator): sorted column names, order-insensitive exact values,
matching int/decimal/float/... type categories, no HUGEINT oracle column
and no DECIMAL Spark output column.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

from ai_data_pipeline_spark.catalog import TABLES
from tools.drive_contract import _duck_type_cat, _spark_type_cat, norm


@dataclass(frozen=True)
class Answer:
    cols: list[str]
    rows: list[tuple]
    types: dict[str, str]  # column -> type category


def sorted_rows(rows, cols: list[str], index_of) -> list[tuple]:
    return sorted((tuple(norm(r[index_of(c)]) for c in cols) for r in rows), key=repr)


def answers(names: list[str], oracles: dict[str, str], data_dir: str) -> dict[str, Answer]:
    con = duckdb.connect()
    try:
        for table in TABLES:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data_dir}/{table}.parquet')"
            )
        out = {}
        for name in names:
            res = con.execute(oracles[name])
            raw = [d[0] for d in res.description]
            cols = sorted(raw)
            rows = sorted_rows(res.fetchall(), cols, raw.index)
            types = {
                c: _duck_type_cat(t)
                for c, t, *_ in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            }
            out[name] = Answer(cols, rows, types)
        return out
    finally:
        con.close()


def mismatch(expected: Answer, dtypes: list[tuple[str, str]], rows) -> str | None:
    """None when the collected Spark rows equal the oracle answer, else a
    one-line reason."""
    stypes = dict(dtypes)
    cols = sorted(stypes)
    decimal_cols = [c for c, t in stypes.items() if t.startswith("decimal")]
    if decimal_cols:
        return f"decimal output columns {decimal_cols}"
    if cols != expected.cols:
        return f"columns {cols} != oracle {expected.cols}"
    huge = [c for c, t in expected.types.items() if t == "hugeint"]
    if huge:
        return f"oracle HUGEINT columns {huge}"
    types = {c: _spark_type_cat(stypes[c]) for c in cols}
    skew = {c: (types[c], expected.types[c]) for c in cols if types[c] != expected.types[c]}
    if skew:
        return f"type categories (spark, oracle) {skew}"
    got = sorted_rows(rows, cols, lambda c: c)
    if len(got) != len(expected.rows):
        return f"{len(got)} rows != oracle {len(expected.rows)}"
    if got != expected.rows:
        return "values differ from oracle"
    return None
