"""The repository's benchmark: the ingest pipeline and the query surface.

Usage, from the repository root::

    python3 perfbench/run.py --workload ingest_aged --seed 1 --seconds 15 --trace 0

Workloads (BENCHMARK.json says why each exists), all on ``local[4]``:

- ``ingest_aged``: one client in a closed loop, one DAG run per hour. Set-up
  lands 10 days of history through ``IngestPipeline.run_once`` itself; each
  step then renames one pre-rendered gzip JSON hour-file into the landing
  zone and calls ``run_once()``. The first ``WARMUP_STEPS`` steps are not
  sampled: the JIT is still compiling the incremental path over them.
- ``queries``: one pass over registered queries, the SQL set first, then
  the LLM-data set; each query is ``Query.fn`` plus a ``collect()``, so the
  rows the clock saw are the rows the oracle checks. They read ``data/sf0.01``:
  a byte-for-byte copy of the project's seed-42 sf0.01 test fixture (the
  tables TESTDATA.md describes), kept here so that the benchmark reads
  nothing outside its checkout.

Every run makes the ingest inputs from ``--seed`` under ``.perfbench/`` in
the working directory (the query fixture is the same for every seed),
removes its files at the end, checks every output after
the timed window (DuckDB oracles; exact ingest end state) and prints, as its
last stdout line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` gives the end-to-end metrics; ``--trace 1``
the per-layer ones, read from Spark's status stores and ``/proc``. The lines
before it repeat the metrics for people, under their per-workload names
(``ingest_events_per_s``, ``freshness_p50_s``, ``sql_suite_s``, ...).

End-to-end metrics are CPU seconds of the program: the Spark driver JVM
and its Python workers, read from ``/proc`` around each timed call, without
the JVM's JIT compiler threads (``jvm.jit_cpu_s``). On a shared virtual
machine the hypervisor takes a share of the CPUs that swings between
minutes (``host.cpu_steal_share``), and wall clocks stretch with it by far
more than a bound can absorb; CPU time is charged only while the program
runs, so it tracks the program's own work.

- ``setup_s``: median of several set-ups. Ingest: seeding a fresh warehouse
  through the pipeline (the first also warms the JVM). Queries:
  registering the fixture tables through the catalog (``register_views``).
- ``work_cpu_s``: the measured work. Ingest: the sampled DAG runs. Queries:
  the sum over the queries, i.e. the suite.

The wall clocks are per-layer metrics and ``# `` lines: ``wall.setup_s`` and
``wall.work_s`` (the same spans), and per unit of work the median and
nearest-rank p90 latency ``latency.p50_s`` / ``latency.tail_s``. Ingest: an
hour-file, from its rename into the landing zone until ``run_once`` returns
with the summary swapped (freshness; events made visible per second is the
planned event count over ``wall.work_s``). Queries: one query. The driver
JVM's peak RSS is ``jvm.peak_rss_mb`` (VmHWM).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import collectors  # noqa: E402
import gen  # noqa: E402
from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import register_views  # noqa: E402
from aws_snowflake_kinesis_airflow_pipeline_spark.plans.registry import QUERIES  # noqa: E402
from aws_snowflake_kinesis_airflow_pipeline_spark.session import get_spark  # noqa: E402
from aws_snowflake_kinesis_airflow_pipeline_spark.streaming.pipeline import (  # noqa: E402
    IngestPipeline,
)

# Sizes below keep a run under 80 s on 4 cores while the host is busy:
# 4 + 22 runs per workload must fit 3420 s, and one cold pass of every
# registered query alone takes ~90 s.
WORKLOADS = ("ingest_aged", "queries")
CPUS = 4
DRIVER_MEM = "2g"
SETUP_REPS = 3
TAIL_PCT = 90
STOP_TIMEOUT_S = 30

# ingest_aged: 10 days x 1 file x 1 000 events of history, 1 000-line steps.
HISTORY_DAYS, HISTORY_FILES_PER_DAY, HISTORY_EVENTS_PER_FILE = 10, 1, 1000
STEP_EVENTS = 1000
MIN_SAMPLES = 8
STEP_NOMINAL_S = 2.5  # sampled steps = max(MIN_SAMPLES, seconds / this)
#: DAG runs before the sampled ones, not timed: the JIT is still compiling
#: the incremental path over the first few.
WARMUP_STEPS = 2

# queries: the fixture; one pass per PASS_NOMINAL_S of --seconds.
FIXTURE = os.path.join(HERE, "data", "sf0.01")
PASS_NOMINAL_S = 30.0
#: The SQL set: the reference's summary, dedup-insert and DQ queries, and
#: one relational query per plan shape (aggregate, multi-way join, range
#: join).
SQL_QUERIES = (
    "ref_daily_event_summary",
    "ref_insert_dedup_anti_join",
    "ref_dq_counts",
    "q1_pricing_summary",
    "b2_multiway_join_revenue_by_nation",
    "b_range_join_price_bands",
)
#: The LLM-data set: a pandas UDF, exact dedup with its incremental index
#: write->probe, SimHash near-dups, embedding top-k, and near-dup
#: survivors with their localCheckpoint pins.
LLM_QUERIES = (
    "b17_pandas_udf_token_count",
    "c1_exact_dedup",
    "c4_simhash_near_dups",
    "c6_cosine_topk_pack",
    "c16_near_dup_dedup_survivors",
)

END_TO_END = ("setup_s", "work_cpu_s")
PLAN_FIELDS = (
    "build_s", "exec_s", "jobs", "stages", "exchanges", "smj", "bhj", "bnlj",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "executor_cpu_s", "gc_s",
    "python_eval_nodes",
)
BATCH_FIELDS = (
    "process_batch_s", "jobs_per_batch", "stages_per_batch", "input_bytes_per_batch",
    "shuffle_write_bytes_per_batch", "executor_cpu_s_per_batch",
)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def unit(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith("_s") or "_s_per_" in metric:
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if "bytes" in metric:
        return "bytes"
    return "ratio" if metric.endswith(("ratio", "share")) else "count"


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(1, -(-len(ordered) * pct // 100)) - 1]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json declares them."""
    names = [f"streaming.pipeline.{f}" for f in BATCH_FIELDS]
    names += ["streaming.pipeline.insert_ratio", "streaming.pipeline.corrupt_rows"]
    names += ["sources.json_landing.trigger_overhead_s", "sources.json_landing.latest_offset_ms"]
    names += ["sources.storage.bytes_written_per_event", "sources.storage.events_files"]
    names += [f"plans.{s}.{f}" for s in ("sql", "llm") for f in PLAN_FIELDS]
    names += ["latency.p50_s", "latency.tail_s", "functions.python_worker_cpu_s"]
    names += ["wall.setup_s", "wall.work_s", "trace.work_cpu_s"]
    names += ["jvm.jit_cpu_s", "jvm.peak_rss_mb", "host.cpu_steal_share"]
    names += [f"query.{n}.wall_s" for n in SQL_QUERIES + LLM_QUERIES]
    return names


class Result:
    """What one run attempted, what failed, and what it measured."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.aliases: dict[str, float] = {}  # issue-facing names, printed only

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED {what}")

    def report(self, trace: bool) -> dict:
        """The result line: every declared metric of the chosen kind. A
        per-layer metric of a layer the workload does not run (``plans.*``
        and ``query.*`` on ingest, ``streaming.*`` and ``sources.*`` on
        queries) reads 0."""
        if trace:
            metrics = {n: self.metrics.get(n, 0.0) for n in per_layer_names()}
        else:
            metrics = {n: self.metrics[n] for n in END_TO_END}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": v, "unit": unit(n)} for n, v in metrics.items()},
        }


# -- session ------------------------------------------------------------------


def start_spark(workdir: str):
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # Python workers import the package and inherit this environment; temp
    # files (index stores, gateway handshake) stay inside the run directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = None
    spark = get_spark(
        app_name="perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            # A fixed heap from the start: a heap that grows on demand
            # grows differently run to run, and GC time follows it.
            # Compiler threads that live as long as the JVM keep their CPU
            # readable, so program_cpu_s can leave it out.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.ui.showConsoleProgress": "false",
            # The traced run reads every job and stage back from the store.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    jvm = spark.sparkContext._jvm
    # Lazy localCheckpoint lineage WARNs, and the stack trace the streaming
    # sink probe prints for a table not written yet, would fill the output.
    for logger in (
        "org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.streaming",
    ):
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger, jvm.org.apache.logging.log4j.Level.ERROR
        )
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM pyspark launched and every process
    under this one, and wait until each has ended. pyspark keeps the JVM
    until the interpreter exits, and the JVM would then shut down on its own
    after this process is gone."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        procs = collectors.descendants(os.getpid())
        gateway = SparkContext._gateway
        if gateway is not None:
            # The JVM exits when its stdin reaches end of file.
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            # A later session in this process launches a JVM of its own.
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + STOP_TIMEOUT_S
        while collectors.running(procs) and time.monotonic() < deadline:
            time.sleep(0.05)
        for pid in collectors.running(procs):
            log(f"killing pid {pid}, still running after the JVM ended")
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while collectors.running(procs):
            time.sleep(0.05)


def warm_up(spark) -> None:
    """One job to load and JIT the scheduler, shuffle and codegen paths and
    to start one Python worker per core (the first pandas UDF forks them and
    loads Arrow). Both suites hold a query that runs Python."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100_000, 1, CPUS).selectExpr("id", "id % 97 AS k")

    @F.pandas_udf("long")
    def _same(s: pd.Series) -> pd.Series:
        return s

    df.join(df.groupBy("k").count(), "k").select(_same("id")).write.format("noop").mode("overwrite").save()


def release_blocks(spark) -> None:
    """Drop blocks that finished queries' localCheckpoints left behind."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


# -- workloads ------------------------------------------------------------------


def suite_of(name: str) -> str:
    return "sql" if name in SQL_QUERIES else "llm"


def run_queries(spark, names: tuple[str, ...], seconds: int, trace: bool, res: Result) -> None:
    data = FIXTURE
    jvm = collectors.jvm_pid(spark)
    setups, setup_cpu = [], []
    for _ in range(SETUP_REPS):
        c0, t0 = collectors.program_cpu_s(jvm), time.perf_counter()
        register_views(spark, data)
        setups.append(time.perf_counter() - t0)
        setup_cpu.append(collectors.program_cpu_s(jvm) - c0)

    cpu0 = collectors.descendant_cpu_s(jvm) if trace else 0.0
    jit0 = collectors.jit_cpu_s(jvm) if trace else 0.0
    passes = max(1, round(seconds / PASS_NOMINAL_S))
    walls: dict[str, list[float]] = {n: [] for n in names}
    cpus: dict[str, list[float]] = {n: [] for n in names}
    runs = []  # (name, job group, build_s, exec_s, df, rows)
    for p in range(passes):
        for name in names:
            res.attempted += 1
            group = f"perfbench-{name}-{p}"
            if trace:
                # The group is the job description too, which SQL executions
                # record: plan_nodes finds a query's executions by it.
                spark.sparkContext.setJobGroup(group, group)
            try:
                c0, t0 = collectors.program_cpu_s(jvm), time.perf_counter()
                df = QUERIES[name].fn(spark, data)
                t1 = time.perf_counter()
                rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
                cpus[name].append(collectors.program_cpu_s(jvm) - c0)
            except Exception:
                res.fail(f"{name}: {traceback.format_exc()}")
                continue
            finally:
                release_blocks(spark)
            walls[name].append(t2 - t0)
            log(f"{name}: {t2 - t0:.2f} s")
            runs.append((name, group, t1 - t0, t2 - t1, df, rows))
    cpu1 = collectors.descendant_cpu_s(jvm) if trace else 0.0
    jit1 = collectors.jit_cpu_s(jvm) if trace else 0.0

    # Correctness, outside the timed window.
    con = check.duck_con(data)
    for name, _, _, _, df, rows in runs:
        oracle = QUERIES[name].oracle
        why = oracle and check.oracle_mismatch(con, rows, df.columns, oracle)
        if why:
            res.fail(f"{name}: {why}")
    con.close()

    medians = {n: statistics.median(w) for n, w in walls.items() if w}
    if not medians:
        raise RuntimeError("no query completed; nothing to report")
    res.metrics["setup_s"] = statistics.median(setup_cpu)
    res.metrics["work_cpu_s"] = sum(statistics.median(c) for c in cpus.values() if c)
    res.metrics["wall.setup_s"] = statistics.median(setups)
    res.metrics["wall.work_s"] = sum(medians.values())
    res.metrics["latency.p50_s"] = statistics.median(medians.values())
    res.metrics["latency.tail_s"] = percentile(list(medians.values()), TAIL_PCT)
    for suite in ("sql", "llm"):
        res.aliases[f"{suite}_suite_s"] = sum(m for n, m in medians.items() if suite_of(n) == suite)
    if not trace:
        return
    reader = collectors.StatusReader(spark)
    reader.refresh()
    for name, group, build_s, exec_s, _, _ in runs:
        layer = {"build_s": build_s, "exec_s": exec_s}
        layer.update(reader.totals(reader.job_ids(group)))
        layer.update(collectors.node_counts(collectors.plan_nodes(spark, group)))
        for f in PLAN_FIELDS:
            key = f"plans.{suite_of(name)}.{f}"
            res.metrics[key] = res.metrics.get(key, 0.0) + layer[f] / passes
    res.metrics["functions.python_worker_cpu_s"] = (cpu1 - cpu0) / passes
    res.metrics["jvm.jit_cpu_s"] = (jit1 - jit0) / passes
    for n, m in medians.items():
        res.metrics[f"query.{n}.wall_s"] = m


class TimedPipeline(IngestPipeline):
    """The pipeline with ``process_batch`` timed; the traced run uses it."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.batch_s: list[float] = []

    def process_batch(self, batch_df, batch_id):
        t0 = time.perf_counter()
        try:
            super().process_batch(batch_df, batch_id)
        finally:
            self.batch_s.append(time.perf_counter() - t0)


def run_ingest(spark, seed: int, seconds: int, trace: bool, workdir: str, res: Result) -> None:
    n_steps = WARMUP_STEPS + max(MIN_SAMPLES, round(seconds / STEP_NOMINAL_S))
    plan = gen.ingest_plan(
        seed, HISTORY_DAYS, HISTORY_FILES_PER_DAY, HISTORY_EVENTS_PER_FILE,
        n_steps, STEP_EVENTS,
    )
    history_dir = os.path.join(workdir, "history")
    staged_dir = os.path.join(workdir, "staged")
    for hf in plan.history:
        gen.write_hour_file(history_dir, hf)
    for hf in plan.steps:
        gen.write_hour_file(staged_dir, hf)

    jvm = collectors.jvm_pid(spark)
    setups, setup_cpu = [], []
    for rep in range(SETUP_REPS):
        landing = os.path.join(workdir, f"landing{rep}")
        warehouse = os.path.join(workdir, f"warehouse{rep}")
        shutil.copytree(history_dir, landing)
        c0, t0 = collectors.program_cpu_s(jvm), time.perf_counter()
        pipe = (TimedPipeline if trace else IngestPipeline)(spark, landing, warehouse)
        pipe.run_once()
        setups.append(time.perf_counter() - t0)
        setup_cpu.append(collectors.program_cpu_s(jvm) - c0)
        log(f"setup {rep}: {setups[-1]:.2f} s, {setup_cpu[-1]:.2f} CPU s")
        if rep < SETUP_REPS - 1:
            shutil.rmtree(landing)
            shutil.rmtree(warehouse)
    tables = (pipe.raw_path, pipe.events_path, pipe.summary_path)

    cpu0 = collectors.descendant_cpu_s(jvm) if trace else 0.0
    jit0 = collectors.jit_cpu_s(jvm) if trace else 0.0
    samples, cpu_samples, inserted, steps = [], [], 0, []
    for i, hf in enumerate(plan.steps):
        dst = os.path.join(landing, hf.rel_path)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        bytes0 = sum(map(dir_bytes, tables)) if trace else 0
        res.attempted += 1
        c0, t0 = collectors.program_cpu_s(jvm), time.perf_counter()
        os.replace(os.path.join(staged_dir, hf.rel_path), dst)
        try:
            q = pipe.run_once()
        except Exception:
            res.fail(f"step {i}: {traceback.format_exc()}")
            continue
        wall = time.perf_counter() - t0
        cpu = collectors.program_cpu_s(jvm) - c0
        log(f"step {i}: {wall:.2f} s, {cpu:.2f} CPU s")
        if i < WARMUP_STEPS:
            continue
        samples.append(wall)
        cpu_samples.append(cpu)
        inserted += len(hf.fresh_ids)
        if trace:
            progress = q.lastProgress or {}
            steps.append(
                {
                    "group": str(q.runId),
                    "wall": wall,
                    "latest_offset_ms": progress.get("durationMs", {}).get("latestOffset", 0.0),
                    "bytes": sum(map(dir_bytes, tables)) - bytes0,
                }
            )
    cpu1 = collectors.descendant_cpu_s(jvm) if trace else 0.0
    jit1 = collectors.jit_cpu_s(jvm) if trace else 0.0

    # Correctness, outside the timed window.
    for why in check.ingest_mismatches(
        pipe.stats.history, plan.steps, plan.event_ids, pipe.events_path, pipe.summary_path
    ):
        res.fail(why)
    if not samples:
        raise RuntimeError("no step completed; nothing to report")
    res.metrics["setup_s"] = statistics.median(setup_cpu)
    res.metrics["work_cpu_s"] = sum(cpu_samples)
    res.metrics["wall.setup_s"] = statistics.median(setups)
    res.metrics["wall.work_s"] = sum(samples)
    res.metrics["latency.p50_s"] = statistics.median(samples)
    res.metrics["latency.tail_s"] = percentile(samples, TAIL_PCT)
    res.aliases["ingest_events_per_s"] = inserted / sum(samples)
    res.aliases["freshness_p50_s"] = res.metrics["latency.p50_s"]
    res.aliases[f"freshness_p{TAIL_PCT}_s"] = res.metrics["latency.tail_s"]
    if not trace:
        return
    reader = collectors.StatusReader(spark)
    reader.refresh()
    # One batch per DAG run: batch i's process_batch time pairs with step i.
    batch_s = pipe.batch_s[-len(steps):]
    for row, b in zip(steps, batch_s):
        t = reader.totals(reader.job_ids(row["group"]))
        row.update(
            process_batch_s=b,
            trigger_overhead_s=row["wall"] - b,
            jobs_per_batch=t["jobs"],
            stages_per_batch=t["stages"],
            input_bytes_per_batch=t["input_bytes"],
            shuffle_write_bytes_per_batch=t["shuffle_write_bytes"],
            executor_cpu_s_per_batch=t["executor_cpu_s"],
        )
    for f in BATCH_FIELDS:
        res.metrics[f"streaming.pipeline.{f}"] = statistics.median(r[f] for r in steps)
    sampled = pipe.stats.history[-len(steps):]
    res.metrics["streaming.pipeline.insert_ratio"] = sum(h["inserted"] for h in sampled) / sum(
        h["seen"] - h["corrupt"] for h in sampled
    )
    res.metrics["streaming.pipeline.corrupt_rows"] = float(sum(h["corrupt"] for h in sampled))
    for f in ("trigger_overhead_s", "latest_offset_ms"):
        res.metrics[f"sources.json_landing.{f}"] = statistics.median(r[f] for r in steps)
    res.metrics["sources.storage.bytes_written_per_event"] = sum(r["bytes"] for r in steps) / inserted
    res.metrics["functions.python_worker_cpu_s"] = cpu1 - cpu0
    res.metrics["jvm.jit_cpu_s"] = jit1 - jit0
    res.metrics["sources.storage.events_files"] = float(
        sum(f.endswith(".parquet") for _, _, fs in os.walk(pipe.events_path) for f in fs)
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    workdir = os.path.join(os.getcwd(), ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    res = Result()
    spark = None
    ticks0, steal0 = collectors.cpu_steal_ticks()
    try:
        spark = start_spark(workdir)
        log("session up")
        if args.workload == "ingest_aged":
            # The first of the three set-ups warms the JVM; the median skips it.
            run_ingest(spark, args.seed, args.seconds, trace, workdir, res)
        else:
            warm_up(spark)
            log("warm")
            run_queries(spark, SQL_QUERIES + LLM_QUERIES, args.seconds, trace, res)
        res.metrics["jvm.peak_rss_mb"] = collectors.vm_hwm_mb(collectors.jvm_pid(spark))
        ticks1, steal1 = collectors.cpu_steal_ticks()
        # Time the hypervisor gave to other guests: wall clocks stretch with it.
        res.metrics["host.cpu_steal_share"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
        log(f"host CPU steal share {res.metrics['host.cpu_steal_share']:.3f}")
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    res.metrics["trace.work_cpu_s"] = res.metrics["work_cpu_s"]
    out = res.report(trace)
    shown = {**res.aliases, **res.metrics, **{n: m["value"] for n, m in out["metrics"].items()}}
    for n, v in shown.items():
        print(f"# {n} {v:.6g} {unit(n)}")
    print(f"# failed_ops {res.failed} of {res.attempted} attempted")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
