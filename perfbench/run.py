"""Oracle-checked end-to-end and per-layer benchmark of the query engine.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

One process, ``local[nproc]``, one client in a closed loop: each query is
built, planned (``executedPlan`` forced) and fully collected before the
next starts, with ``spark.catalog.clearCache()`` before each. A run:

1. sets up: ``setup_s`` is the time from process start until
   ``get_spark()`` returns and the three warm-up actions of ``bench.py``
   finish;
2. computes every query's DuckDB oracle answer (untimed);
3. runs one cold pass over the workload, then warm passes until their
   summed time reaches ``--seconds`` (at least three, four when traced);
   ``--seed`` permutes the query order of every pass. ``warm_pass_s`` is
   the fastest warm pass: the JIT is still compiling during the first
   warm passes, which made their median vary by a quarter between runs
   while the fastest pass varied by a tenth;
4. checks every collected result against its oracle answer, prints every
   metric with its unit and, as the last stdout line, one JSON object.

With ``--trace 1`` the cold pass and half of the warm passes are traced
(see tracing.py) and the per-layer metrics are reported instead: each is
summed per pass and the median over traced warm passes is reported;
``trace.overhead_s`` is the fastest traced minus the fastest untraced
warm pass of the same run, and ``peak_rss_mb`` is the peak resident memory of
the Spark JVM plus this Python process. Spans and per-query records go to
``perfbench/results/``. The tables are the sf0.01 testdata set in
``perfbench/data/sf0.01``; ``--data`` points a manual run elsewhere.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = ROOT / "perfbench"
RESULTS = HERE / "results"
sys.path[:0] = [str(ROOT), str(HERE)]

import __spark_entry__ as entry  # noqa: E402
from ai_data_pipeline_spark.session import get_spark  # noqa: E402
from oracle import answers as oracle_answers, mismatch  # noqa: E402
from tracing import Tracer, duration, query_record  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}
QUERY_SPLIT = ("wall_s", "catalog.s", "build.self_s", "plan.s", "execution.s", "catalog.calls",
               "build.jobs", "execution.jobs")


def process_age() -> float:
    """Seconds since this process started (from /proc, boot-time clock)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate_environment(tmp: Path) -> None:
    """Keep every file Spark and its workers write inside the checkout and
    let Python workers import the package from any working directory."""
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "spark").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={tmp / 'warehouse'} pyspark-shell"
    )


def passthrough(batches):
    yield from batches


def warm_up(spark, queries, data: str) -> None:
    """The three warm-up actions ``bench.py`` runs: scheduler, profiler
    codegen and a Python worker."""
    spark.range(1000).count()
    queries["profile_region"](spark, data).count()
    spark.range(100).mapInPandas(passthrough, schema="id long").count()


def stop(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it.

    ``spark.stop()`` ends the Python workers but leaves the JVM running
    until its stdin closes; it then takes about 0.4 s to exit (4-core
    host). Waiting for it keeps a run from ending while its JVM is still
    exiting, which would overlap the next run's set-up."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def provenance(seed: int, cores: int, spark_version: str, data: str) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = None  # checkout without git metadata
    digest = hashlib.sha1()
    sources = sorted((ROOT / "ai_data_pipeline_spark").rglob("*.py"))
    for path in [ROOT / "__spark_entry__.py", *sources]:
        digest.update(path.read_bytes())
    return {
        "seed": seed,
        "nproc": cores,
        "spark_version": spark_version,
        "git_sha": sha,
        "source_sha1": digest.hexdigest(),
        "sf": Path(data).name.removeprefix("sf"),
    }


class Runner:
    """One workload's passes over one SparkSession, optionally traced."""

    def __init__(self, spark, queries, names, data, answers, cores, seed, tracer):
        self.spark = spark
        self.queries = queries
        self.names = names
        self.data = data
        self.answers = answers
        self.cores = cores
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []

    def run_pass(self, label: str, traced: bool) -> dict:
        order = list(self.names)
        self.rng.shuffle(order)
        seconds_by_query = {}
        records = []
        for name in order:
            self.spark.catalog.clearCache()
            if traced:
                seconds, result, record = self._traced_query(label, name)
                records.append(record)
            else:
                seconds, result = self._query(name)
            seconds_by_query[name] = seconds
            self._check(label, name, result)
        return {"pass": label, "traced": traced, "wall_s": sum(seconds_by_query.values()),
                "query_s": seconds_by_query, "queries": records}

    def _query(self, name: str):
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.data)
            df._jdf.queryExecution().executedPlan()
            result = (df.dtypes, df.collect())
        except Exception as ex:  # noqa: BLE001 — a failing query is counted, not fatal
            result = ex
        return time.perf_counter() - t0, result

    def _traced_query(self, label: str, name: str):
        tr = self.tracer
        first_event = tr.start_query()
        first_span = len(tr.spans)
        result, plan_text = None, ""
        tr.active = True
        try:
            with tr.span("query", query=f"{label}/{name}") as qspan:
                try:
                    with tr.span("build"):
                        df = self.queries[name](self.spark, self.data)
                    with tr.span("plan"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    plan_text = qe.executedPlan().toString()
                    with tr.span("execute"):
                        rows = df.collect()
                    result = (df.dtypes, rows)
                except Exception as ex:  # noqa: BLE001 — counted as failed
                    result = ex
        finally:
            tr.active = False
        seconds = qspan["end"] - qspan["start"]
        tr.drain()
        spans = tr.spans[first_span + 1 :]
        if isinstance(result, Exception):
            return seconds, result, {"query": name, "wall_s": seconds, "error": repr(result)}
        record = query_record(
            tr, qspan, spans, len(result[1]), plan_text, self.cores,
            tr.stream.progress[first_event:],
        )
        return seconds, result, {"query": name, **record}

    def _check(self, label: str, name: str, result) -> None:
        self.attempted += 1
        if isinstance(result, Exception):
            reason = f"raised {type(result).__name__}: {str(result)[:300]}"
        else:
            reason = mismatch(self.answers[name], *result)
        if reason is not None:
            self.failures.append(f"{label} {name}: {reason}")


def layer_totals(passes: list[dict], cores: int) -> dict[str, float]:
    """Per-pass sums of the per-query layer counters."""
    out = []
    for p in passes:
        keys = dict.fromkeys(k for q in p["queries"] for k in q if "." in k)
        sums = {k: sum(q.get(k, 0) for q in p["queries"]) for k in keys}
        if sums:
            sums["execution.core_busy_frac"] = sums["execution.executor_run_s"] / (
                sums["execution.s"] * cores
            )
        out.append(sums)
    return out


def unit_of(layer_metric: str) -> str:
    if layer_metric.endswith(("_s", ".s")):
        return "s"
    if layer_metric.endswith("_frac"):
        return "fraction"
    return "bytes" if layer_metric.endswith("_bytes") or ".bytes_" in layer_metric else "count"


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--data", default=str(HERE / "data" / "sf0.01"))
    args = parser.parse_args(argv)

    isolate_environment(RESULTS / "tmp")
    why, names = WORKLOADS[args.workload]
    data = str(Path(args.data).resolve())
    cores = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    tracer = Tracer()

    with tracer.span("session.start") as start:
        spark = get_spark("perfbench", cpus=cores)
    queries = entry.queries()
    with tracer.span("session.warmup") as warmup:
        warm_up(spark, queries, data)
    setup_s = process_age()

    t0 = time.perf_counter()
    answers = oracle_answers(names, entry.oracle_sql(), data)
    oracle_s = time.perf_counter() - t0
    if traced:
        tracer.wrap_load_table()
        tracer.bind(spark)
    runner = Runner(spark, queries, names, data, answers, cores, args.seed, tracer)
    cold = runner.run_pass("cold", traced)
    warm: list[dict] = []
    # Traced runs order warm passes untraced, traced, traced, untraced, ...
    # so that the warming JVM favours neither side of trace.overhead_s.
    min_warm = 4 if traced else 3
    while len(warm) < min_warm or sum(p["wall_s"] for p in warm) < args.seconds:
        warm.append(runner.run_pass(f"warm{len(warm) + 1}", traced and len(warm) % 4 in (1, 2)))
    tracer.close()

    rss = peak_rss_mb(spark)
    record = provenance(args.seed, cores, spark.version, data)
    stop(spark)

    untraced = [p["wall_s"] for p in warm if not p["traced"]]
    metrics = {
        "setup_s": setup_s,
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": min(untraced),
    }
    failed = len(runner.failures)
    out = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
    }
    print(f"# workload {args.workload}: {why}")
    print(f"# {json.dumps(record)}")
    print(f"# passes (s): cold {cold['wall_s']:.3f}, warm "
          + ", ".join(f"{p['wall_s']:.3f}{'*' if p['traced'] else ''}" for p in warm)
          + ("  (* traced)" if traced else ""))
    for failure in runner.failures:
        print(f"# FAILED {failure}")
    for k, v in metrics.items():
        print(f"{k} = {v:.4f} {END_TO_END[k]}")
    print(f"failed_frac = {failed / runner.attempted:.4f} ({failed}/{runner.attempted})")
    if not traced:
        print(f"peak_rss_mb = {rss:.1f} MB")

    if traced:
        traced_warm = [p for p in warm if p["traced"]]
        totals = layer_totals(traced_warm, cores)
        cold_totals = layer_totals([cold], cores)[0]
        layers = {
            "peak_rss_mb": (rss, "MB"),
            "session.start_s": (duration(start), "s"),
            "session.warmup_s": (duration(warmup), "s"),
        }
        for key in totals[0]:
            layers[key] = (statistics.median(t[key] for t in totals), unit_of(key))
        for key in ("catalog.s", "build.self_s", "plan.s", "execution.s",
                    "python_workers.init_s"):
            layers[f"cold.{key}"] = (cold_totals[key], "s")
        layers["trace.warm_pass_s"] = (min(p["wall_s"] for p in traced_warm), "s")
        layers["trace.overhead_s"] = (
            layers["trace.warm_pass_s"][0] - metrics["warm_pass_s"], "s")
        for p in [cold, *traced_warm]:
            for q in p["queries"]:
                split = ", ".join(f"{k}={q[k]:.3f}" for k in QUERY_SPLIT if k in q)
                print(f"# {p['pass']} {q['query']}: {split or q.get('error')}")
        for k, (v, unit) in layers.items():
            print(f"{k} = {v:.6g} {unit}")
        out["metrics"] = {k: {"value": v, "unit": unit} for k, (v, unit) in layers.items()}

    RESULTS.mkdir(exist_ok=True)
    report = {
        **record,
        "workload": args.workload,
        "trace": args.trace,
        "result": out,
        "oracle_s": oracle_s,
        "passes": [cold, *warm],
        "failures": runner.failures,
        "spans": tracer.spans,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (RESULTS / name).write_text(json.dumps(report, indent=1, default=str) + "\n")
    shutil.rmtree(RESULTS / "tmp", ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
