"""Benchmark of the engine on local[cores], one workload per run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 30 \
        --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/.work`` (outside the timed region, reported as
``inputs.gen_s``) and deleted at exit. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it holds the run's details (cores, pyspark version, seed, per
operation timings). With ``--trace 0`` the metrics are the end-to-end
ones, with ``--trace 1`` the per-layer ones, and the spans go to
``perfbench/out/spans-<workload>-<seed>.jsonl``.

Metric names and units are those of BENCHMARK.json. End-to-end metrics
(every workload):

- ``setup_s``: median of two session set-ups in the run, each in a JVM
  of its own (launched for it and stopped after it, apart from the
  last, which runs the workload) and each up to a finished one-task
  job: what a command-line user pays on every run.
- ``cold_wall_s``: the cold pass, the first execution of every operation
  in a fresh process, as a command-line user pays it.
- ``wall_s``: a warm pass, each operation (query or DAG step) taken at
  its best over the counted warm passes (a fixed number, see
  ``workloads.py``).
- ``p50_s``: median over operations (queries or DAG steps) of each
  one's best counted warm latency.

Per-layer metrics (traced run; summed over the first warm pass unless
noted):

- ``session.start_s``: the part of ``setup_s`` up to a running session
  (JVM launch included), ``session.first_job_s`` the rest;
  ``session.warmup_s``: ``cold_wall_s - wall_s``; ``session.peak_rss_mb``:
  peak resident memory of the driver JVM plus Python, whole run.
- ``inputs.gen_s``: input generation, outside every timed region.
- ``sources.read_schema_s``: one ``spark.read.parquet`` on the warm
  session; ``sources.input_mb``/``output_mb``: stage input/output bytes.
- ``plans.build_s``: time in the query function or step build;
  ``plans.build_jobs``: jobs launched while building;
  ``plans.analysis_ms``: analysis of the built DataFrames;
  ``plans.optimization_ms``/``planning_ms``: those Catalyst phases of
  every query execution the operations ran; ``plans.exchanges``/
  ``python_nodes``: nodes in the executed plans.
- ``operators.*``: the rest of each operation (``action_s``) and the
  stage metrics of its jobs; ``busy_frac`` is executor run time over
  ``action_s * cores``; ``cached_mb_after`` is storage still pinned when
  the workload ends.
- ``pipelines.critical_path_s``: longest dependency chain of step times
  (for queries, which have none, the slowest query).
- ``trace.wall_s``: ``wall_s`` of the traced run (its difference from the
  untraced ``wall_s`` is the tracing overhead); ``trace.read_s``: time
  spent reading Spark's status, outside every timed span.

Failed or wrong outputs count in ``failed`` against ``attempted``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
SETUPS = 2
# the session's default is 8g; the workloads peak near 2 GB resident
DRIVER_MEM = "3g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(cores: int) -> None:
    """Everything the session reads at import or launch: the core count
    (``session.py`` defaults to 32), driver memory and every scratch
    directory, kept inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for {pid}")


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = fh.read().rsplit(")", 1)[1].split()[1]
                parent[int(d)] = int(ppid)
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    each to end; the next session launches a JVM of its own."""
    from pyspark import SparkContext

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    workers = _descendants(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for pid in [jvm_pid, *workers]:
        if not _wait_gone(pid, 20):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
            _wait_gone(pid, 5)


def _wait_gone(pid: int, seconds: float) -> bool:
    deadline = time.monotonic() + seconds
    while _alive(pid):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected.json from this run's outputs")
    args = ap.parse_args(argv)

    for need in ("BENCHMARK.json", "sfdata_wrangler_spark/session.py",
                 "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} missing; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{workloads.WORKLOADS}", file=sys.stderr)
        return 2

    cores = _cores()
    shutil.rmtree(WORK, ignore_errors=True)
    _pin_environment(cores)
    try:
        return _run(args, cores, workloads)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args, cores, workloads) -> int:
    import pyspark

    from sfdata_wrangler_spark.session import get_spark
    from spans import Tracer, busy_frac, self_times
    from sparkstatus import RETENTION_CONF, SparkStatus

    tracer = Tracer(bool(args.trace))
    with tracer.span("inputs.gen") as sg:
        data_dir = workloads.make_inputs(WORK, args.seed)
    conf = dict(RETENTION_CONF)
    conf["spark.sql.warehouse.dir"] = os.path.join(WORK, "warehouse")
    expected_path = os.path.join(HERE, "expected.json")
    with open(expected_path) as fh:
        expected = json.load(fh)
    setups, starts = [], []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                _shutdown(spark)
                spark = None
            with tracer.span("session.setup") as su:
                with tracer.span("session.start") as ss:
                    spark = get_spark("perfbench", extra_conf=conf)
                    spark.sparkContext.setLogLevel("ERROR")
                spark.range(1).count()
            setups.append(su["s"])
            starts.append(ss["s"])
        status = SparkStatus(spark) if args.trace else None
        b = workloads.Bench(spark, tracer, status, args.seed, cores,
                            expected, args.record)
        e2e = workloads.run(b, args.workload, data_dir, WORK, args.seconds)
        if args.trace:
            b.add("operators.cached_mb_after", status.cached_mb())
        jvm = spark._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        b.details["peak_rss_mb"] = b.layer["session.peak_rss_mb"] = (
            _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self"))
        b.details["jvm_gc_s"] = sum(
            g.getCollectionTime() for g in
            jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()) / 1e3
    finally:
        if spark is not None:
            _shutdown(spark)

    e2e["setup_s"] = statistics.median(setups)
    if args.record:
        with open(expected_path, "w") as fh:
            json.dump(b.expected, fh, indent=1, sort_keys=True)
            fh.write("\n")

    details = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "pyspark": pyspark.__version__, "trace": args.trace,
        "setups_s": setups, "starts_s": starts, "inputs_gen_s": sg["s"],
        **b.details,
    }
    if args.trace:
        layer = b.layer
        layer["session.start_s"] = statistics.median(starts)
        layer["session.first_job_s"] = statistics.median(
            u - t for u, t in zip(setups, starts))
        layer["session.warmup_s"] = e2e["cold_wall_s"] - e2e["wall_s"]
        layer["inputs.gen_s"] = sg["s"]
        layer["sources.input_mb"] = layer.pop("operators.input_mb", 0.0)
        layer["sources.output_mb"] = layer.pop("operators.output_mb", 0.0)
        layer["operators.busy_frac"] = busy_frac(
            layer.get("operators.executor_run_s", 0.0),
            layer["operators.action_s"], cores)
        layer["trace.wall_s"] = e2e["wall_s"]
        os.makedirs(OUT, exist_ok=True)
        span_file = os.path.join(
            OUT, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(span_file)
        details.update(span_file=os.path.relpath(span_file, ROOT),
                       self_s=self_times(tracer.spans), end_to_end=e2e)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = b.layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in spec}
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": b.failed == 0, "attempted": b.attempted,
        "failed": b.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
