"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds the inputs of one
workload from the seed, starts one Spark session through the program's
``session.get_spark``, runs the workload for about ``--seconds`` seconds,
checks its outputs, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Exits 1 when an output is wrong, 2 when it cannot run.
Everything it writes lives under ``.bench_tmp/`` (removed at exit) and
``.bench_traces/`` (one JSON record per run) in the checkout.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, from the
    benchmark definition at the checkout root."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def pin_environment(tmp: Path) -> int:
    """One Spark thread per available core; every scratch path of Spark,
    the JVM and Python inside ``tmp``."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return cores


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def spark_layer(tracer, roots: list[int], cores: int) -> tuple[dict, dict]:
    """Engine counters summed over the measured op spans, and the
    per-span counters they came from."""
    counters = tracer.spark_counters()
    tot: dict[str, float] = {}
    for sid in roots:
        for k, v in tracer.inclusive(counters, sid).items():
            tot[k] = tot.get(k, 0.0) + v
    wall = sum(tracer.spans[s]["end"] - tracer.spans[s]["start"] for s in roots)
    out = {f"spark.{k}": v for k, v in tot.items()}
    out["spark.core_busy_frac"] = tot["executor_run_s"] / (wall * cores)
    return out, counters


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "edu_data_pipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: no edu_data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import host
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = ROOT / ".bench_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    cores = pin_environment(tmp)
    spark = None
    try:
        from edu_data_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp / "spark-warehouse"),
        }
        if args.trace:
            # the status store must keep every job and stage of the run
            conf.update({"spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000"})
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        setup_s = time.perf_counter() - PROCESS_START

        run_id = f"{args.workload}-{args.seed}-{'t' if args.trace else 'u'}"
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, bool(args.trace), tmp)
        out = workloads.WORKLOADS[args.workload](ctx)

        peak_rss = host.tree_peak_rss_mb(os.getpid())
        if args.trace:
            units = metric_units("per_layer")
            layer = dict.fromkeys(units, 0.0)  # layers a workload never calls read 0
            layer.update(out.layer)
            layer["session.get_spark_s"] = get_spark_s
            spark_metrics, counters = spark_layer(tracer, out.root_spans, cores)
            layer.update(spark_metrics)
            layer.update({f"bench.{k}": v for k, v in out.host.items()})
            if set(layer) != set(units):
                raise RuntimeError(f"metrics missing from BENCHMARK.json: "
                                   f"{sorted(set(layer) - set(units))}")
            metrics = {k: (layer[k], unit) for k, unit in units.items()}
            traces = ROOT / ".bench_traces"
            traces.mkdir(exist_ok=True)
            tracer.dump(str(traces / f"{run_id}.json"), counters,
                        {"metrics": layer, "errors": out.errors})
        else:
            values = {
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss,
                "rows_per_s": out.rows / out.rows_wall_s,
                "op_p50_s": statistics.median(out.op_s),
                "op_p90_s": workloads.percentile(out.op_s, 0.9),
            }
            metrics = {k: (values[k], unit) for k, unit in metric_units("end_to_end").items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "ops": len(out.op_s),
                      "op_s": out.op_s, "rows": out.rows,
                      "rows_wall_s": out.rows_wall_s, "host": out.host}),
          file=sys.stderr)
    for e in out.errors:
        print(f"perfbench: CORRECTNESS: {e}", file=sys.stderr)
    correct = out.failed == 0 and not out.errors
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
