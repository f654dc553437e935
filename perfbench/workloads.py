"""The workloads, each one client in a closed loop.

Every workload runs a cold pass first: the first execution of every
operation in a fresh process, with its outputs checked. A fixed number
of warm passes follows (more if the measuring window is not used up
yet; only the fixed number is counted, so a faster program does not
get a best-of-more).

- ``query_mix``: eight of the headline queries on the base inputs, in a
  seed-chosen order. Cold pass: build + ``toPandas``, checked against
  the DuckDB oracle (or a kept digest); warm pass: build + a noop-sink
  write. The cache is cleared before every query.
- ``transit_dag``: the ten-step pipeline DAG, one ``run_pipeline`` call
  per step in canonical order, each pass on a fresh lake whose tables
  are checked against kept digests. After the first warm pass the DAG
  runs again on the completed lake, where every step must skip.
"""

from __future__ import annotations

import dataclasses
import random
import shutil
import sys
import time
import traceback

import pyarrow.parquet as pq

from spans import critical_path, digest, median_with_count

# construction-heavy queries (eager jobs, deep plans) next to small
# relational ones and one bench-only pipeline
MIX_QUERIES = [
    "a0_pricing_summary", "j2_interval_join", "w4_sessionize",
    "j13_asof_join", "q5_local_supplier_volume", "emb_lsh_topk",
    "txt_bpe_vocab", "pipe_clipper_linked",
]
BASE_SF = 0.01
# warm passes counted in every workload; a third would make a run
# 6-10 s longer, too long for the run budget of the benchmark
WARM_PASSES = 2
WORKLOADS = ("query_mix", "transit_dag")


class Bench:
    """State of one run: the session, the tracer, the counters."""

    def __init__(self, spark, tracer, status, seed, cores, expected, record):
        self.spark, self.tracer, self.status = spark, tracer, status
        self.seed, self.cores = seed, cores
        self.expected, self.record = expected, record
        self.attempted = self.failed = 0
        self.layer: dict[str, float] = {}
        self.details: dict = {}

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def group(self, op: str, phase: str) -> None:
        """Label the jobs that follow (traced runs only)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"{op}/{phase}", op)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"# FAILED {what}", file=sys.stderr)

    def check(self, key: str, pdf) -> None:
        """Compare an output with its kept order-insensitive digest."""
        self.attempted += 1
        got = digest(pdf)
        if self.record:
            self.expected[key] = got
        elif self.expected.get(key) != got:
            self.fail(f"{key}: digest {got} != {self.expected.get(key)}")

    def start_op(self) -> None:
        """Mark the start of an operation (traced runs only)."""
        if self.tracer.enabled:
            self.status.start_op()

    def read_layers(self, op: str, build_s: float, action_s: float,
                    dfs) -> None:
        """Read Spark's status for one operation's jobs (traced runs)."""
        from sparkstatus import analysis_ms

        self.add("plans.build_s", build_s)
        self.add("operators.action_s", action_s)
        self.details.setdefault("traced_ops", {})[op] = {
            "build_s": build_s, "action_s": action_s}
        with self.tracer.span("trace.read", op) as sp:
            st = self.status
            build = st.stage_totals(f"{op}/build")
            self.add("plans.build_jobs", build["jobs"])
            for k, v in st.stage_totals(f"{op}/action").items():
                self.add(f"operators.{k}", v)
            for k, v in st.plan_nodes(f"{op}/action").items():
                self.add(f"plans.{k}", v)
            for k, v in st.executed_phase_ms().items():
                self.add(f"plans.{k}_ms", v)
            for df in dfs:
                self.add("plans.analysis_ms", analysis_ms(df))
        self.add("trace.read_s", sp["s"])

    def read_schema(self, data_dir: str) -> None:
        with self.tracer.span("sources.read_schema") as sp:
            self.spark.read.parquet(f"{data_dir}/lineitem.parquet")
        self.add("sources.read_schema_s", sp["s"])


def _passes(b: Bench, seconds: float, cold_pass, warm_pass) -> dict:
    """The cold pass, then :data:`WARM_PASSES` warm passes, and more
    while ``seconds`` have not gone by since the cold pass started. Each
    pass returns {op: seconds}; only the first :data:`WARM_PASSES` warm
    passes enter the figures.

    Warm figures take each operation's best counted time: an operation
    slowed by a burst of contention from outside the process is
    discarded instead of averaged in."""
    t0 = time.perf_counter()
    cold = cold_pass()
    warm: list[dict[str, float]] = []
    while len(warm) < WARM_PASSES or time.perf_counter() - t0 < seconds:
        warm.append(warm_pass(len(warm) + 1))
    b.details.update(cold=cold, warm=warm, warm_passes=len(warm),
                     warm_passes_counted=WARM_PASSES)
    warm = warm[:WARM_PASSES]
    best = {op: min(p[op] for p in warm if op in p)
            for op in cold if any(op in p for p in warm)}
    p50, n = median_with_count(best.values())
    b.details["p50_samples"] = n
    return {
        "cold_wall_s": sum(cold.values()),
        "wall_s": sum(best.values()),
        "p50_s": p50,
    }


# --------------------------------------------------------------------------
# query workloads


def _oracle(data_dir: str):
    import duckdb

    from gen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _check_query(b: Bench, con, name: str, spec, pdf, tag: str) -> None:
    from check_oracle import canon, rows_equal

    if spec.get("oracle") is None:
        b.check(f"{tag}/{name}", pdf)
        return
    b.attempted += 1
    scols, srows = canon(pdf)
    ocols, orows = canon(con.sql(spec["oracle"]).df())
    if scols != ocols or not rows_equal(srows, orows, exact=True):
        b.fail(f"{name}: output differs from its DuckDB oracle")


def _query_pass(b: Bench, specs, order, data_dir, n: int, con, tag):
    """Pass ``n``; pass 0 is the cold, collecting, checked one."""
    lat = {}
    for name in order:
        op = f"pass{n}:{name}"
        b.spark.catalog.clearCache()
        b.start_op()
        b.attempted += 1
        try:
            with b.tracer.span("query", op) as sq:
                with b.tracer.span("plans.build", op) as sb:
                    b.group(op, "build")
                    df = specs[name]["fn"](b.spark, data_dir)
                with b.tracer.span("operators.action", op) as sa:
                    b.group(op, "action")
                    if n == 0:
                        pdf = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception:
            traceback.print_exc()
            b.fail(op)
            continue
        lat[name] = sq["s"]
        if n == 0:
            _check_query(b, con, name, specs[name], pdf, tag)
        elif n == 1 and b.tracer.enabled:
            b.read_layers(op, sb["s"], sa["s"], [df])
    return lat


def run_queries(b: Bench, names, data_dir, seconds, tag) -> dict:
    from sfdata_wrangler_spark.pipelines.workloads import BENCH_WORKLOADS
    from sfdata_wrangler_spark.plans import QUERIES

    specs = {n: QUERIES.get(n) or {"fn": BENCH_WORKLOADS[n]} for n in names}
    order = list(names)
    random.Random(b.seed).shuffle(order)
    b.details["order"] = order
    con = _oracle(data_dir)
    try:
        e2e = _passes(
            b, seconds,
            lambda: _query_pass(b, specs, order, data_dir, 0, con, tag),
            lambda n: _query_pass(b, specs, order, data_dir, n, con, tag))
    finally:
        con.close()
    if b.tracer.enabled:
        # independent queries: the longest one is the critical path
        b.add("pipelines.critical_path_s",
              max(b.details["warm"][0].values()))
        b.read_schema(data_dir)
    return e2e


# --------------------------------------------------------------------------
# transit_dag


def _check_lake(b: Bench, lake: str, steps) -> None:
    from sfdata_wrangler_spark.pipelines.runner import table_path

    for s in steps:
        for t in s.outputs:
            try:
                pdf = pq.read_table(table_path(lake, t)).to_pandas()
            except (OSError, ValueError):  # missing or unreadable table
                b.attempted += 1
                b.fail(f"transit_dag/{t}: no readable table")
                continue
            b.check(f"transit_dag/{t}", pdf)


def _timed_step(b: Bench, step, op: str, builds: list):
    """``step`` with its build in a span and a job group of its own."""
    def build(spark, sf_dir, read):
        with b.tracer.span("plans.build", op) as sb:
            b.group(op, "build")
            outs = step.build(spark, sf_dir, read)
        b.group(op, "action")
        builds.append((sb["s"], list(outs.values())))
        return outs

    return dataclasses.replace(step, build=build)


def _dag_pass(b: Bench, data_dir, lake, steps, n: int):
    """Pass ``n`` over a fresh lake, one step at a time."""
    from sfdata_wrangler_spark.pipelines.runner import run_pipeline

    shutil.rmtree(lake, ignore_errors=True)
    walls = {}
    for s in steps:
        op = f"pass{n}:{s.name}"
        builds: list = []
        b.start_op()
        b.attempted += 1
        try:
            with b.tracer.span("pipelines.step", op) as sp:
                res = run_pipeline(b.spark, data_dir, lake,
                                   steps=[_timed_step(b, s, op, builds)])
        except Exception:
            traceback.print_exc()
            b.fail(op)
            continue
        if res[0]["status"] != "ran":
            b.fail(f"{op}: {res[0]['status']} on a fresh lake")
        walls[s.name] = sp["s"]
        if n == 1 and b.tracer.enabled:
            b.read_layers(op, builds[0][0], sp["s"] - builds[0][0],
                          builds[0][1])
    _check_lake(b, lake, steps)
    return walls


def _dag_whole(b: Bench, data_dir, lake, expect: str) -> float | None:
    """The whole DAG in one call at ``parallelism=cores``; every step
    must report ``expect``."""
    from sfdata_wrangler_spark.pipelines.runner import run_pipeline

    b.attempted += 1
    try:
        with b.tracer.span("pipelines.dag", expect) as sp:
            res = run_pipeline(b.spark, data_dir, lake, parallelism=b.cores)
    except Exception:
        traceback.print_exc()
        b.fail(f"dag ({expect})")
        return None
    if any(r["status"] != expect for r in res):
        b.fail(f"dag: a step did not report {expect}")
    return sp["s"]


def run_dag(b: Bench, data_dir, work, seconds) -> dict:
    from sfdata_wrangler_spark.pipelines.runner import transit_steps

    steps = transit_steps()
    lake = f"{work}/lake"

    def warm(n):
        walls = _dag_pass(b, data_dir, lake, steps, n)
        if n == 1:
            b.details["skip_pass_s"] = _dag_whole(b, data_dir, lake,
                                                  "skipped")
        return walls

    e2e = _passes(b, seconds,
                  lambda: _dag_pass(b, data_dir, lake, steps, 0), warm)
    if b.tracer.enabled:
        deps = {s.name: s.deps for s in steps}
        b.add("pipelines.critical_path_s",
              critical_path(b.details["warm"][0], deps))
        shutil.rmtree(lake)
        b.details["par_wall_s"] = _dag_whole(b, data_dir, lake, "ran")
        _check_lake(b, lake, steps)
        b.read_schema(data_dir)
    return e2e


# --------------------------------------------------------------------------


def make_inputs(work: str, seed: int) -> str:
    """Write the inputs under ``work``; returns their dir."""
    from gen import write_inputs

    base = f"{work}/base"
    write_inputs(base, BASE_SF, seed)
    return base


def run(b: Bench, workload: str, data_dir: str, work: str, seconds: float):
    if workload == "query_mix":
        return run_queries(b, MIX_QUERIES, data_dir, seconds, workload)
    return run_dag(b, data_dir, work, seconds)
