"""Benchmark of the engine's batch jobs and queries, on ``local[<cores>]``.

    python3 perfbench/run.py --workload candy_10day --seed 1 --seconds 5 --trace 0

Run it from the repository root. Workloads (see ``BENCHMARK.json``):

- ``candy_10day``: ``CandyPipeline.save_outputs()`` over ten generated
  days of candy-store orders, checked against a pure-Python replica.
- ``core_queries``: one ``bench.CORE`` query per registering module over
  seeded tables, each result checked against its DuckDB oracle, and
  ``curate()`` over a fixed 1,000-document corpus whose row order and
  file split come from the seed, checked against the pinned funnel.

One run sets up a Spark session (``setup_s``: process start until the
session has run a job), generates the inputs from ``--seed`` and the
expected outputs (untimed), times the first pass in the fresh session,
then runs warm passes until ``--seconds`` have elapsed (at least one)
and reports their median. Every pass's outputs are checked outside the
timed region; a pass that raises or fails its check counts in
``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, runs the same untraced passes, then one traced pass
that runs each layer under its own job group, and prints per-layer
counters parsed from the log.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Scratch files live under ``.perfbench_work/`` in the working directory
and are removed on exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
MIN_WARM_PASSES = 1


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Environment every Spark process of the run inherits: Python
    workers import the engine from the checkout, and temporary files
    stay inside the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT if not path else ROOT + os.pathsep + path
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_session(work: str, event_log_dir: str | None = None):
    """The engine's own session (``get_spark``, with its driver memory)
    on ``local[<cores>]``, with only housekeeping confs added: no UI,
    scratch space inside the working directory, and the event log when
    tracing. Ready once a job has run."""
    from etl_pipeline_candy_store_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Runner:
    """Times and checks passes of one workload; counts attempts and
    failures."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []  # per query, warm passes only

    def timed(self, fn, *args):
        """Run one pass; its wall time and result, or None if it raised
        or failed its output check (the check is outside the timed
        region)."""
        self.attempted += 1
        try:
            t = time.perf_counter()
            result = fn(*args)
            elapsed = time.perf_counter() - t
            problems = self.workload.check(result)
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        if problems:
            print(f"output check failed: {problems}", file=sys.stderr)
            self.failed += 1
            return None
        return elapsed, result

    def warm_passes(self, spark, seconds: float) -> list[float]:
        """Times of the successful warm passes among those run until
        ``seconds`` have elapsed (at least ``MIN_WARM_PASSES``)."""
        times: list[float] = []
        start = time.perf_counter()
        for n in itertools.count():
            if n >= MIN_WARM_PASSES and time.perf_counter() - start >= seconds:
                return times
            done = self.timed(self.workload.run_pass, spark)
            if done is not None:
                times.append(done[0])
                self.latencies += self.workload.latencies(done[1], done[0])


def run(args, work: str) -> dict:
    prepare_env(work)
    from workloads import WORKLOADS

    event_log_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = build_session(work, event_log_dir)
    setup_s = time.time() - PROCESS_START
    try:
        workload = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
        runner = Runner(workload)
        first = runner.timed(workload.run_pass, spark)
        warm = runner.warm_passes(spark, args.seconds)
        if first is None or not warm:
            raise RuntimeError("no successful pass to report")
        wall = statistics.median(warm)
        if args.trace:
            tracer_result = {}
            traced = runner.timed(workload.traced_pass, spark, tracer_result)
    finally:
        stop_session(spark)
    if args.trace:
        if traced is None:
            raise RuntimeError("the traced pass failed")
        from eventlog import log_files, parse

        log = parse(log_files(event_log_dir))
        values = workload.layer_metrics(tracer_result, log)
        # both passes run with the event log on: this is the cost of the
        # spans and of materializing between layers, not of the log
        values["tracing_overhead_s"] = traced[0] - wall
        values["trace.wall_s"] = traced[0]
        metrics = layer_metric_table(values)
    else:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "first_pass_s": metric(first[0], "s"),
            "wall_s": metric(wall, "s"),
            "rows_per_s": metric(workload.input_rows / wall, "1/s"),
            "query_p50_s": metric(statistics.median(runner.latencies), "s"),
        }
    print(
        f"{args.workload} seed={args.seed} cores={cores()} "
        f"input_rows={workload.input_rows} first={first[0]:.3f}s "
        f"warm={[round(t, 3) for t in warm]} setup={setup_s:.3f}s "
        f"queries={len(runner.latencies)}",
        file=sys.stderr,
    )
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }


def layer_metric_table(values: dict[str, float]) -> dict:
    """Every per-layer metric of ``BENCHMARK.json``. A layer that this
    workload never calls reads 0."""
    with open(BENCHMARK_JSON) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    unknown = set(values) - set(declared)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {name: metric(values.get(name, 0), unit) for name, unit in declared.items()}


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    with open(BENCHMARK_JSON) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    p.add_argument("--workload", required=True, choices=names)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    scratch = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:  # another run is using it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
