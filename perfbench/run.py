"""The repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload candle_ingest --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. It sets the Spark
session up cold (``setup_s``: process start to a warmed session), builds
its inputs from ``--seed``, warms the workload up, measures its fixed job
(``job_s``) and its closed loop of ``--seconds`` seconds
(``op_p50_ms``), then checks every output against a reference outside
the timed part. Human-readable detail goes to standard output first;
the last line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the program's layers are wrapped
with spans and counters and the metrics are the per-layer ones. The
exit code is 0 only when every output check passed. Metric meanings are
in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import env  # noqa: E402
from perfbench.common import Run  # noqa: E402
from perfbench.tracing import Tracer, calibrate_span_cost  # noqa: E402

WORK_ROOT = ".perfbench-work"


WORKLOADS = {
    "candle_ingest": ("perfbench.candle_ingest", "CandleIngest"),
    "analytics": ("perfbench.analytics", "Analytics"),
}


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _trace_actions(tracer: Tracer) -> None:
    """DataFrame actions: every Spark job the program starts goes
    through one of these."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    for attr in ("collect", "count", "toPandas", "localCheckpoint", "checkpoint"):
        tracer.wrap_method(DataFrame, attr, "spark.action")
    for attr in ("save", "parquet"):
        tracer.wrap_method(DataFrameWriter, attr, "spark.action")


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        env.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


def _run(args: argparse.Namespace, work: str) -> int:
    steal0 = env.cpu_steal_s()
    pinned = env.pin(work)
    try:
        from ccxt_ohlcv_fetcher_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    cores = env.nproc()
    # one cold set-up: the process's first get_spark launches the JVM
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=env.session_conf(work, bool(args.trace)))
    t1 = time.perf_counter()
    env.warm_up(spark)
    t2 = time.perf_counter()
    setup_s = env.process_age_s()
    first = {"session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1}

    module, cls = WORKLOADS[args.workload]
    workload_cls = getattr(importlib.import_module(module), cls)
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
    run = Run(args.seed, work, tracer)

    wl = workload_cls(run)
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t0
    groups = env.JobGroups(spark, "pb-measure", enabled=bool(args.trace))
    if args.trace:
        _trace_actions(tracer)
        wl.install_tracing(tracer, groups)
    t0 = time.perf_counter()
    run.op("warmup", wl.warmup, spark)
    warmup_s = time.perf_counter() - t0
    tracer.spans.clear()
    tracer.counters.clear()

    t0 = time.perf_counter()
    wl.measure(spark, args.seconds, groups)
    window_s = time.perf_counter() - t0
    n_spans = len(tracer.spans)
    tracer.restore()
    rss = env.peak_rss_mb()

    t0 = time.perf_counter()
    run.op("verify", wl.verify, spark)
    verify_s = time.perf_counter() - t0

    e2e = {"setup_s": setup_s, **wl.end_to_end()}
    layers = {}
    if args.trace:
        layers.update(first)
        layers.update({f"memory.{who}_peak_rss_mb": mb for who, mb in rss.items()})
        layers.update(wl.layers(tracer))
        for name, ms in tracer.self_ms().items():
            key = name.split(".")[0] + ".self_ms"  # the layer is the name's head
            layers[key] = layers.get(key, 0.0) + ms
        layers["spark.jobs"] = groups.jobs
        layers["spark.stages"] = groups.stages
        layers["spark.tasks"] = groups.tasks
        layers["trace.spans"] = n_spans
        layers["trace.overhead_ms"] = n_spans * calibrate_span_cost() * 1000
        traces = os.path.join(ROOT, WORK_ROOT, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{tracer.run_id}.jsonl"))
    env.shutdown_jvm()
    if args.trace:
        totals = env.event_log_totals(work, "pb-measure", window_s, cores)
        layers.update({f"spark.{k}": v for k, v in totals.items()})

    spec = _spec()
    unknown = set(layers) - {m["name"] for m in spec["per_layer"]}
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    report = {
        "workload": args.workload,
        "environment": {**env.describe(ROOT, args.seed), "pinned": pinned,
                        "cpu_steal_s": env.cpu_steal_s() - steal0},
        "phases_s": {"setup": setup_s, "prepare": prepare_s, "warmup": warmup_s,
                     "measure": window_s, "verify": verify_s},
        "fail_ratio": run.failed / max(run.attempted, 1),
        "traced": bool(args.trace),
        "end_to_end": e2e,
        "peak_rss_mb": rss,
        "details": wl.details(),
        "problems": run.problems[:20],
    }
    print(json.dumps(report, default=str))
    for m in spec["end_to_end"]:
        print(f"  {args.workload} {m['name']} = {e2e[m['name']]:.6g} {m['unit']}")
    print(f"  {args.workload} fail_ratio = {report['fail_ratio']:.6g} "
          f"({run.failed} of {run.attempted})")
    if args.trace:
        # a layer off the workload's path reads 0
        metrics = [(m, layers.get(m["name"], 0.0)) for m in spec["per_layer"]]
    else:
        metrics = [(m, e2e[m["name"]]) for m in spec["end_to_end"]]
    result = {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(v), "unit": m["unit"]} for m, v in metrics},
    }
    print(json.dumps(result), flush=True)
    return 0 if run.failed == 0 else 1


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
