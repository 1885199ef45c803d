"""Benchmark entry point.

    python3 perfbench/run.py --workload live_sync --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Starts the engine's own Spark
session on ``local[nproc]``, drives one workload through the engine's
public entry points, checks every output, and prints one JSON line as
the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, the same on every
workload; ``--trace 1`` reports every per-layer metric, 0 for the
layers the workload does not run, and writes the run's spans to
``.perfbench_work/traces/``. Everything else the run writes stays under
``.perfbench_work/`` and is removed at exit. Spark's own output goes to
stderr, so stdout carries only the result line.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("live_sync", "batch_analytics")


class Context:
    def __init__(self, args, work: str) -> None:
        from perfbench import common

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = common.Tracer(self.trace)
        self.clock = common.Clock()
        self.spark = None

    @staticmethod
    def note(msg: str) -> None:
        elapsed = time.perf_counter() - T_PROCESS
        print(f"[perfbench {elapsed:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _environment(work: str, cores_per_task: int) -> None:
    """Pin parallelism to this machine's cores, one task slot per
    ``cores_per_task`` of them (the session factory otherwise falls back
    to local[32]), let Python workers import the engine package, and
    keep every scratch file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, cpus // cores_per_task))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def protect_stdout():
    """Only the result line may reach stdout: point fd 1 (inherited by
    the JVM, its Python workers and anything else started later) at
    stderr, and return a private handle on the real stdout."""
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    return out


def result_line(manifest: dict, trace: bool, per_layer, metrics: dict, res: dict) -> dict:
    """The result object: every end-to-end metric of ``manifest``, or
    with ``trace`` every per-layer one, in its unit. ``metrics`` must
    hold exactly the workload's own (``common.END_TO_END``, or its
    ``per_layer``); a layer the workload does not run has no
    micro-batches, polls or queries to measure, so its figures read 0."""
    from perfbench import common

    section = "per_layer" if trace else "end_to_end"
    declared = set(per_layer if trace else common.END_TO_END)
    units = {m["name"]: m["unit"] for m in manifest[section]}
    if set(metrics) != declared or not declared <= set(units):
        raise KeyError(
            f"{section} metrics {sorted(metrics)} do not match the workload's "
            f"declaration {sorted(declared)} within BENCHMARK.json"
        )
    return {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in sorted(units.items())
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "goeventstream_spark", "__init__.py")):
        print(
            f"perfbench: no engine package under {ROOT}; run from a source checkout",
            file=sys.stderr,
        )
        return 2

    out = protect_stdout()

    sys.path.insert(0, ROOT)
    import importlib

    from perfbench import common

    module = importlib.import_module(f"perfbench.{args.workload}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _environment(work, module.CORES_PER_TASK)
    ctx = Context(args, work)
    try:
        ctx.spark, spark_s = common.start_spark()
        ctx.note(f"spark session up in {spark_s:.2f}s")
        try:
            res = module.run(ctx)
        finally:
            common.stop_spark(ctx.spark)
            ctx.note("spark stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    if args.trace:
        res["layer"]["session.spark_start_s"] = spark_s
        ctx.tracer.write(
            os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-{args.seed}.json")
        )
        metrics = res["layer"]
    else:
        metrics = dict(res["metrics"], setup_s=res["ready"] - T_PROCESS)
    result = result_line(manifest, bool(args.trace), module.PER_LAYER, metrics, res)
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
