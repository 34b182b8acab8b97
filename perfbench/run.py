"""kgspark benchmark: one workload per run, in its own local[nproc] session.

    python3 perfbench/run.py --workload upload_full|search \
        --seed N --seconds S --trace 0|1

Run from the root of a kgspark checkout. Set-up (session start, warm-up,
base warehouse) comes first; then timed ops run in a closed loop with one
client until S seconds of op time have passed, and each op's output is
checked outside its timed region. The wall time and the CPU time of the
program's process tree are recorded for the set-up and for every op; the
CPU time is scaled to a reference core by a probe loop sampled all
through the run (see harness.CoreSampler), and the scaled figures are
the end-to-end metrics: `setup_s` for the set-up, `ref_cpu_ms_per_item`
for the ops. Wall times go to the line before the result.

Earlier stdout lines carry the host stamp and the workload's own named
metrics; the last line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With --trace 0 the metrics are the end-to-end ones.
With --trace 1 the ops run for S/2 seconds in each of three passes:
untraced, traced (the session restarted with the Spark event log on and
the run-time wrappers of perfbench.tracing installed) and untraced again;
the metrics are the per-layer ones (a layer the workload does not run
reads 0).

All scratch data (parquet, warehouses, Spark local dirs, event logs, temp
files) lives under .perfbench_work/ in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
import traceback

# import the benchmark as the `perfbench` package, never its modules as
# top-level names
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import harness, tracing  # noqa: E402
from perfbench.corpus import PARAMS, Corpus  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

ROOT = os.getcwd()

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ref_cpu_ms_per_item": "ms",
}


def end_to_end(ops: list[dict], setup_s: float, peak_mb: float) -> dict:
    """`ref_cpu_ms_per_item` is the CPU the program spent in the timed ops,
    scaled to the reference core (see harness.CoreSampler), per page
    uploaded or query answered: what a page or a query costs in compute.
    `setup_s` is the set-up's CPU, scaled the same way. Wall-clock times
    on a shared host follow its other tenants too closely to compare two
    runs (they are printed on the line before). Failed ops count in the
    CPU spent, but their items do not count as done."""
    done = sum(o["items"] for o in ops if o["ok"])
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "ref_cpu_ms_per_item":
            1000 * sum(o["ref_cpu_s"] for o in ops) / max(done, 1),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def host_stamp(spark, nproc: int, load_before) -> dict:
    import pyspark  # noqa: PLC0415

    conf = spark.sparkContext.getConf()
    keys = ["spark.master", "spark.io.compression.codec",
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            "spark.sql.shuffle.partitions", "spark.task.cpus",
            "spark.driver.memory", "spark.sql.adaptive.enabled"]
    return {
        "nproc": nproc,
        "loadavg_before": load_before,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "conf": {k: conf.get(k, "1" if k == "spark.task.cpus" else None)
                 for k in keys},
    }


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def traced_pass(wl, work: str, nproc: int, first: int, seconds: float):
    """Restart the session with the event log on, install the run-time
    wrappers, run the timed ops again plus the workload's probes, and
    return (timed ops, probe records, per-layer values)."""
    event_log = os.path.join(work, "eventlog")
    spark, _ = harness.start_session(work, nproc, event_log)
    harness.warm_python_workers(spark, nproc)
    wl.open(spark)
    tracer = tracing.Tracer(spark, nproc)
    tracer.install()
    try:
        ops = harness.measure(wl, spark, seconds, first, tracer)
        try:
            probes = wl.probe(spark, tracer)
        except Exception:  # noqa: BLE001 - a failing probe is counted
            traceback.print_exc()
            probes = [{"seconds": 0.0, "items": 0, "ok": False, "op": "probe",
                       "error": True}]
    finally:
        tracer.uninstall()
    spark.stop()  # completes the event log
    groups = tracing.group_metrics(tracing.event_log_file(event_log), ROOT)
    layers = tracing.span_metrics(tracer.spans, groups, nproc)
    layers.update(wl.layer_metrics(
        [o for o in ops + probes if "error" not in o], tracer, groups))
    return ops, probes, layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "kgspark", "pipeline.py")):
        print("perfbench: run from the root of a kgspark checkout "
              "(kgspark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    harness.isolate(ROOT, work)
    load_before = os.getloadavg()
    rss = harness.RssSampler()
    rss.start()
    cores = harness.CoreSampler()
    cores.start()
    try:
        wl = WORKLOADS[args.workload](Corpus(args.seed), work, nproc)
        wl.prepare()
        t_setup, cpu_setup = time.monotonic(), harness.tree_cpu_s()
        spark, get_spark_s = harness.start_session(work, nproc)
        log(f"session started in {get_spark_s:.1f}s")
        harness.warm_python_workers(spark, nproc)
        wl.warm(spark)
        setup_wall_s = time.monotonic() - t_setup
        setup_s = ((harness.tree_cpu_s() - cpu_setup) * harness.PROBE_REF_S
                   / cores.probe(t_setup, t_setup + setup_wall_s))
        log(f"set-up done in {setup_wall_s:.1f}s ({setup_s:.1f}s on the "
            "reference core)")
        stamp = host_stamp(spark, nproc, load_before)
        # traced runs sandwich a traced pass between two untraced ones, so
        # the JIT warming up over the run does not count as tracing overhead
        seconds = args.seconds / 2 if args.trace else args.seconds
        ops = harness.measure(wl, spark, seconds, 0, min_ops=wl.min_ops,
                              cores=cores)
        log("ops: " + " ".join(f"{o['seconds']:.2f}" for o in ops))
        log("cpu: " + " ".join(f"{o['cpu_s']:.2f}" for o in ops))
        log("probe_ms: " + " ".join(f"{o['probe_s']*1000:.2f}" for o in ops))
        spark.stop()
        traced: list[dict] = []
        probes: list[dict] = []
        after: list[dict] = []
        if args.trace:
            traced, probes, layers = traced_pass(
                wl, work, nproc, len(ops), seconds)
            spark, _ = harness.start_session(work, nproc)
            harness.warm_python_workers(spark, nproc)
            wl.open(spark)
            after = harness.measure(wl, spark, seconds, len(ops) + len(traced))
            spark.stop()
    finally:
        cores.stop()
        harness.shutdown_jvm()
        peak_mb = rss.stop()
        harness.cleanup(work)

    if args.trace:
        values = {name: 0.0 for name in tracing.LAYER_METRICS}
        values.update(layers)
        values.update(tracing.textops_kernels(wl.corpus.pages(range(24))))
        values["session.get_spark_s"] = get_spark_s
        values["trace.overhead_pct"] = 100 * (
            statistics.median(o["seconds"] for o in traced)
            / statistics.median(o["seconds"] for o in ops + after) - 1)
        metrics = {k: {"value": values[k], "unit": unit}
                   for k, unit in tracing.LAYER_METRICS.items()}
    else:
        metrics = end_to_end(ops, setup_s, peak_mb)
    stamp["loadavg_after"] = os.getloadavg()
    stamp["params"] = PARAMS
    print(json.dumps({"host": stamp}))
    named = wl.named_metrics([o for o in ops if "error" not in o])
    named["setup_wall_s"] = {"value": setup_wall_s, "unit": "s"}
    print(json.dumps({"workload": args.workload, "item": wl.item,
                      "ops": len(ops), "metrics": named}))
    all_ops = ops + traced + probes + after
    failed = sum(not o["ok"] for o in all_ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
