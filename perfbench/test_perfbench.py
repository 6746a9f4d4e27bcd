"""Checks of the benchmark's own parsers, comparator and tracing.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last two tests share a local SparkSession (about a minute).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import run as bench  # noqa: E402
from oracle import Answer, mismatch  # noqa: E402
from oracle import answers as oracle_answers  # noqa: E402
from tracing import (  # noqa: E402
    Tracer,
    metric_value,
    parse_metric_map,
    plan_counts,
    streaming_counts,
)
from workloads import WORKLOADS  # noqa: E402

DATA = str(HERE / "data" / "sf0.01")


def test_metric_value_reads_the_total():
    assert metric_value("2.8 s") == pytest.approx(2.8)
    assert metric_value("0 ms") == 0
    assert metric_value("10,000") == 10000
    assert metric_value(
        "total (min, med, max (stageId: taskId))\n1.5 KiB (0.5 KiB, 0.5 KiB, 0.5 KiB (stage 3.0: task 7))"
    ) == pytest.approx(1536)


def test_parse_metric_map_splits_multiline_values():
    text = (
        "HashMap(12 -> 3.0 s, 7 -> total (min, med, max (stageId: taskId))\n"
        "2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 2)), 9 -> 1,024)"
    )
    values = parse_metric_map(text)
    assert sorted(values) == [7, 9, 12]
    assert metric_value(values[12]) == 3.0
    assert metric_value(values[7]) == 2 * 2**20
    assert metric_value(values[9]) == 1024


def test_plan_counts_finds_exchanges_and_python_nodes():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- Project [id#1]
   +- BroadcastHashJoin [a#2], [b#3], Inner, BuildRight
      :- Exchange hashpartitioning(a#2, 4), ENSURE_REQUIREMENTS, [plan_id=5]
      :  +- ArrowEvalPython [f(x#4)#9], [pythonUDF0#10], 200
      +- BroadcastExchange HashedRelationBroadcastMode(List(b#3)), [plan_id=6]
         +- MapInPandas passthrough(id#1), [id#11L], false
"""
    assert plan_counts(plan) == {"plan.exchanges": 2, "plan.python_nodes": 2}


def test_streaming_counts_keeps_final_state_per_query():
    progress = [
        {"run_id": "a", "input_rows": 10, "add_batch_ms": 100, "wal_commit_ms": 5, "state_rows": 3},
        {"run_id": "a", "input_rows": 0, "add_batch_ms": 50, "wal_commit_ms": 5, "state_rows": 4},
        {"run_id": "b", "input_rows": 7, "add_batch_ms": 0, "wal_commit_ms": 0, "state_rows": 2},
    ]
    assert streaming_counts(progress) == {
        "streaming.batches": 3,
        "streaming.input_rows": 17,
        "streaming.add_batch_s": 0.15,
        "streaming.wal_commit_s": 0.01,
        "streaming.state_rows": 6,
    }


def test_mismatch_follows_the_contract_comparator():
    expected = Answer(["k", "v"], [(1, "x"), (2, "y")], {"k": "int", "v": "str"})
    dtypes = [("v", "string"), ("k", "bigint")]
    rows = [{"k": 2, "v": "y"}, {"k": 1, "v": "x"}]
    assert mismatch(expected, dtypes, rows) is None
    assert "values differ" in mismatch(expected, dtypes, [{"k": 2, "v": "y"}, {"k": 1, "v": "z"}])
    assert "rows" in mismatch(expected, dtypes, rows[:1])
    assert "type categories" in mismatch(expected, [("v", "string"), ("k", "double")], rows)
    assert "decimal" in mismatch(expected, [("v", "string"), ("k", "decimal(10,0)")], rows)


def test_every_workload_query_has_an_oracle():
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    declared = set(entry.queries())
    for _, names in WORKLOADS.values():
        assert set(names) <= declared & set(oracles)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    bench.isolate_environment(tmp_path_factory.mktemp("spark") / "tmp")
    from ai_data_pipeline_spark.session import get_spark

    session = get_spark("perfbench-test", cpus=2)
    yield session
    session.stop()


def test_load_table_is_traced_at_every_binding(spark):
    """All 48 table loads of a tpch pass are seen, although most query
    modules bound ``load_table`` by name at import."""
    import __spark_entry__ as entry

    tracer = Tracer()
    tracer.wrap_load_table()
    assert len(tracer._patched) > 1
    try:
        tracer.bind(spark)
        queries = entry.queries()
        tracer.active = True
        for name in WORKLOADS["tpch"][1]:
            with tracer.span("build", query=name):
                queries[name](spark, DATA)
        tracer.active = False
        loads = [s for s in tracer.spans if s["name"] == "catalog.load_table"]
        assert len(loads) == 48
        assert all(s["parent"] is not None for s in loads)
        assert sum(s["job_end"] - s["job_start"] for s in loads) > 0
    finally:
        tracer.close()


def test_traced_query_is_not_charged_the_untraced_pass_before_it(spark):
    """A traced pass that follows an untraced one reports the same
    Python-worker and stream counters as one that follows a traced pass."""
    import __spark_entry__ as entry

    names = WORKLOADS["pipeline"][1]
    answers = oracle_answers(names, entry.oracle_sql(), DATA)
    tracer = Tracer()
    tracer.bind(spark)
    runner = bench.Runner(spark, entry.queries(), names, DATA, answers, 2, 0, tracer)
    try:
        runner.run_pass("warm", True)
        runner.run_pass("untraced", False)
        after_untraced = runner.run_pass("traced1", True)
        after_traced = runner.run_pass("traced2", True)
    finally:
        tracer.close()
    assert runner.failures == []
    a, b = bench.layer_totals([after_untraced, after_traced], 2)
    assert a["python_workers.bytes_sent"] == b["python_workers.bytes_sent"] > 0
    assert a["python_workers.run_s"] == pytest.approx(b["python_workers.run_s"], rel=0.5)
    assert a["streaming.batches"] == b["streaming.batches"] > 0
    assert a["streaming.input_rows"] == b["streaming.input_rows"]
