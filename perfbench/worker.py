"""One workload run in this process: Spark set-up, the workload, the result.

Started by ``perfbench/run.py`` as a fresh process per run. The last line
of its standard output is the result object.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from perfbench import measure  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    """What a workload gets: the session, its inputs' seed and run length,
    a tracer, and the bookkeeping for failures and metrics."""

    def __init__(self, args, spark, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.spark = spark
        self.work = work
        self.cores = spark.sparkContext.defaultParallelism
        self.tracer = measure.Tracer(bool(args.trace))
        self.status = measure.SparkStatus(spark) if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.window: dict = {}  # pass_s and cpu_s of the timed window
        self.setup_s = None
        self.pass_meter = None

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - _T_START
        self.log("set-up done")

    def record_window(self, pm, pass_walls: list[float]) -> None:
        """The timed window's figures: the median wall time of one pass (a
        fixed amount of work) and the process tree's CPU per pass."""
        self.pass_meter = pm
        self.window["pass_s"] = measure.median(pass_walls)
        self.window["cpu_s"] = pm.cpu_s / len(pass_walls)

    def log(self, what: str) -> None:
        print(f"[perfbench {time.perf_counter() - _T_START:7.2f}s] {what}", file=sys.stderr, flush=True)

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(why)

    def spark_per_op(self, h: dict, n_ops: int, busy_wall_s: float) -> dict:
        """Spark stage sums of a workload's ops, per op."""
        n = max(n_ops, 1)
        return {
            "spark.jobs_per_op": h["jobs"] / n,
            "spark.stages_per_op": h["stages"] / n,
            "spark.tasks_per_op": h["tasks"] / n,
            "spark.failed_tasks": float(h["failed_tasks"]),
            "spark.executor_run_ms_per_op": h["run_ms"] / n,
            "spark.executor_cpu_ms_per_op": h["cpu_ns"] / 1e6 / n,
            "spark.slot_idle_ratio": 1.0 - h["run_ms"] / (busy_wall_s * 1e3 * self.cores)
            if busy_wall_s > 0 else 1.0,
            "spark.input_bytes_per_op": h["input_bytes"] / n,
            "spark.shuffle_read_bytes_per_op": h["shuffle_read_bytes"] / n,
            "spark.shuffle_write_bytes_per_op": h["shuffle_write_bytes"] / n,
        }


def start_spark(work: str):
    from webscale_vector_search_spark.session import get_spark

    # The package's own session settings; only scratch locations are set
    # here, so that a run writes inside its work directory.
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -Dderby.system.home={work}",
        },
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)

    from perfbench import pipeline, serve

    workloads = {"serve": serve.run, "pipeline": pipeline.run}
    spec = declared()
    t = time.perf_counter()
    spark = start_spark(args.work)
    get_spark_s = time.perf_counter() - t
    ctx = Context(args, spark, args.work)
    try:
        layers = workloads[args.workload](ctx)
    except Exception:  # noqa: BLE001 - the run reports its own failure
        traceback.print_exc()
        return 1
    finally:
        spark.stop()

    pm = ctx.pass_meter
    ctx.log(f"timed window {pm.wall_s:.2f} s, tree cpu {pm.cpu_s:.2f} s, steal {pm.steal_ratio:.3f}; "
            f"pass_s {ctx.window['pass_s']:.4f}, cpu_s {ctx.window['cpu_s']:.4f}")
    end_to_end = {"setup_s": ctx.setup_s}
    layers.update(ctx.window)
    layers.update(measure.box_shape(args.work))
    layers["peak_rss_mb"] = pm.peak_rss_mb
    layers["session.get_spark_s"] = get_spark_s
    layers["box.steal_ratio"] = pm.steal_ratio
    if args.trace:
        ops = ctx.tracer.self_times_ms().get("op", [])
        layers["trace.op_self_ms"] = measure.median(ops) if ops else 0.0
        layers["trace.overhead_ratio"] = ctx.tracer.overhead_s / pm.wall_s
        ctx.tracer.dump(os.path.join(ROOT, "perfbench", ".out",
                                     f"spans-{args.workload}-{args.seed}.jsonl"))

    kind = "per_layer" if args.trace else "end_to_end"
    metrics, missing = {}, []
    for decl in spec[kind]:
        name = decl["name"]
        src = layers if args.trace else end_to_end
        if name in src:
            value = float(src[name])
        elif args.trace:
            value = 0.0  # a layer this workload does not call did no work
        else:
            missing.append(name)
            continue
        metrics[name] = {"value": value, "unit": decl["unit"]}
    if missing:
        print(f"workload {args.workload} did not measure {missing}", file=sys.stderr)
        return 1
    for why in ctx.errors:
        print(f"FAILED: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
