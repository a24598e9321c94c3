"""Benchmark entry point.

    python3 perfbench/run.py --workload build|ingest --seed N \
        --seconds S --trace 0|1

Runs one workload against the ``graphiti_spark`` package in the checkout
that holds this directory, on ``local[<cpus of this process>]`` from this
one driver process, and prints a human-readable report followed, as the
last line of stdout, by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans are written to ``_work/trace/``).  All
files the run creates stay under ``perfbench/_work`` in the checkout;
every process it starts is stopped before it exits.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DRIVER_MEM = "2g"
CORPUS_SETUP_REPS = 3

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "throughput_per_s": "1/s"}


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


class Context:
    """What a workload gets: the session, its arguments, a private run
    directory, and sinks for set-up times, notes, report figures and
    spans."""

    def __init__(self, spark, args, run_dir: str):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.setup: dict[str, float] = {}
        self.notes: dict = {}
        self.gate_failures = 0
        self.tracers: list = []
        self.per_layer_extra: dict = {}
        self.named: list[tuple] = []

    def report_metric(self, name: str, value: float, unit: str,
                      n: int) -> None:
        """A workload-specific figure for the report, with its sample
        count (the JSON metrics carry the workload-neutral names)."""
        self.named.append((name, value, unit, n))

    def setup_part(self, name: str, seconds: float) -> None:
        self.setup[name] = self.setup.get(name, 0.0) + seconds

    def note(self, key: str, value) -> None:
        self.notes[key] = value

    def error(self, msg: str) -> None:
        print(msg, file=sys.stderr)

    def fail_gate(self, msg: str) -> None:
        self.gate_failures += 1
        self.error(msg)

    def setup_corpus(self, sf: float):
        """Generate and load the (sf, seed) corpus CORPUS_SETUP_REPS
        times; the median rep is this set-up part.  Returns the golden tables (pandas)
        and the transcripts DataFrame."""
        import pandas as pd

        from perfbench.corpus import FILES, write_corpus
        from perfbench.stats import median

        root = os.path.join(WORK, "corpus")
        totals, gens = [], []
        for _ in range(CORPUS_SETUP_REPS):
            t0 = time.perf_counter()
            path, shape, gen_s = write_corpus(root, sf, self.seed)
            transcripts = self.spark.read.parquet(
                os.path.join(path, "transcripts.parquet"))
            transcripts.count()
            totals.append(time.perf_counter() - t0)
            gens.append(gen_s)
        self.setup_part("corpus", median(totals))
        self.per_layer_extra["datagen.generate_s"] = median(gens)
        self.note("corpus", shape)
        golden = {name: pd.read_parquet(os.path.join(path, f"{name}.parquet"))
                  for name in FILES[1:]}
        return golden, transcripts


def _prepare_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run directory, and quiet the console progress bar."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process this run
    started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    from perfbench.procs import descendants, wait_gone

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    wait_gone(started | descendants(os.getpid()))


def _report(workload: str, args, ctx: Context, result: dict,
            metrics: dict) -> None:
    print(f"# workload={workload} seed={args.seed} seconds={args.seconds}"
          f" trace={args.trace} cpus={len(os.sched_getaffinity(0))}")
    for k, v in ctx.notes.items():
        print(f"# {k}: {json.dumps(v, default=str)}")
    print(f"# setup parts (s): {json.dumps(ctx.setup)}")
    for name, value, unit, n in ctx.named:
        print(f"# {name} = {value:.6g} {unit} (n={n})")
    err = result["failed"] / max(result["attempted"], 1)
    print(f"# error_rate = {err:.6g} ({result['failed']} failed of "
          f"{result['attempted']} attempted)")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graphiti_spark",
                                       "__init__.py")):
        print(f"no graphiti_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _prepare_env(run_dir)

    from perfbench import build, ingest
    from perfbench.procs import RssSampler

    workload = {"build": build, "ingest": ingest}[args.workload]
    spark = None
    try:
        with RssSampler() as sampler:
            t0 = time.perf_counter()
            from graphiti_spark.session import get_spark, ship_package
            spark = get_spark(app=f"perfbench-{args.workload}",
                              cores=len(os.sched_getaffinity(0)))
            ship_package(spark)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            ctx = Context(spark, args, run_dir)
            ctx.setup_part("session", session_s)
            result = workload.run(ctx)
            if args.trace:
                from perfbench import sparkstats
                jobs, stages = sparkstats.read_status(spark.sparkContext)
                per_group = sparkstats.aggregate(jobs, stages)
                everything = sparkstats.total(per_group)
                ctx.note("spark_counters_by_job_group", {
                    str(g): {k: round(v, 3) for k, v in c.items()}
                    for g, c in per_group.items()})
            _stop_spark(spark)
            spark = None
            sampler.sample()
        ctx.report_metric("peak_rss_mb", sampler.peak_mb, "MB",
                          sampler.samples)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                _stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = result["failed"] + ctx.gate_failures
    attempted = result["attempted"]
    result["failed"] = failed
    if args.trace:
        units = per_layer_units()
        values = {name: 0.0 for name in units}
        values.update(ctx.per_layer_extra)
        values["session.start_s"] = ctx.setup["session"]
        values["spark.jobs"] = everything["jobs"]
        values["spark.tasks"] = everything["tasks"]
        values["spark.spill_mb"] = everything["spill_mb"]
        values["spark.peak_rss_mb"] = sampler.peak_mb
        values.update(result["per_layer"])
        unknown = set(values) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from "
                           f"BENCHMARK.json: {sorted(unknown)}")
        metrics = {k: {"value": float(values[k]), "unit": units[k]}
                   for k in units}
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        for i, tracer in enumerate(ctx.tracers):
            tracer.dump(os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}-{i}.jsonl"))
    else:
        values = dict(result["metrics"])
        values["setup_s"] = sum(ctx.setup.values())
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    _report(args.workload, args, ctx, result, metrics)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
