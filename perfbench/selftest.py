"""Attribution self-test for the per-layer trace.

    python3 perfbench/selftest.py

Run from the root of a kgspark checkout. It runs 2 x OPS traced upload_full
ops; for every second one it wraps `kgspark.stages.embed` at run time so
that its output passes through a mapInPandas that sleeps SLEEP_S seconds
per Arrow batch. Only the stages.s3_embed span may move: its wall
and executor time must grow, and every other span's wall and executor
time must stay within the tolerance below. Exits 0 when that holds.
"""

from __future__ import annotations

import os
import sys
import time

sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import harness, tracing  # noqa: E402
from perfbench.corpus import Corpus  # noqa: E402
from perfbench.workloads import UploadFull  # noqa: E402

ROOT = os.getcwd()
# a span row "moves" when a metric changes by more than this share of its
# baseline, or by more than the absolute floor (run-to-run jitter of a
# sub-second span is a few tenths of a second)
REL_TOL = 0.25
ABS_TOL = {"wall_s": 0.3, "exec_run_s": 0.6}
SEED, OPS, SLEEP_S = 1, 3, 1.0


def slow_embed(orig, sleep_s: float):
    def embed(chunks, *a, **k):
        out = orig(chunks, *a, **k)

        def sleepy(batches):
            for batch in batches:
                time.sleep(sleep_s)
                yield batch

        return out.mapInPandas(sleepy, out.schema)
    return embed


def moved(base: float, new: float, metric: str) -> bool:
    return abs(new - base) > max(REL_TOL * base, ABS_TOL[metric])


def main() -> int:
    sys.path.insert(0, ROOT)
    from kgspark import stages  # noqa: PLC0415

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    harness.isolate(ROOT, work)
    event_log = os.path.join(work, "eventlog")
    try:
        wl = UploadFull(Corpus(SEED), work, nproc)
        wl.prepare()
        spark, _ = harness.start_session(work, nproc, event_log)
        harness.warm_python_workers(spark, nproc)
        wl.warm(spark)
        tracer = tracing.Tracer(spark, nproc)
        tracer.install()
        orig = stages.embed
        base: list[dict] = []
        slow: list[dict] = []
        try:
            # alternate plain and slowed ops, so the JIT still warming up
            # speeds both sides alike
            for k in range(2 * OPS):
                slowed = k % 2 == 1
                if slowed:
                    stages.embed = slow_embed(orig, SLEEP_S)
                try:
                    (slow if slowed else base).extend(harness.measure(
                        wl, spark, float("inf"), k, tracer, max_ops=1))
                finally:
                    stages.embed = orig
        finally:
            tracer.uninstall()
        spark.stop()  # completes the event log
        groups = tracing.group_metrics(tracing.event_log_file(event_log), ROOT)
    finally:
        harness.shutdown_jvm()
        harness.cleanup(work)

    def rows(ops):
        names = {o["op"] for o in ops}
        return tracing.span_metrics(
            [s for s in tracer.spans if s[0] in names], groups, nproc)

    a, b = rows(base), rows(slow)
    ok = all(o["ok"] for o in base + slow)
    print(f"{'span':24} {'metric':11} {'base':>8} {'slowed':>8}  moved")
    for span in tracing.SPANS:
        for metric in ABS_TOL:
            key = f"{span}.{metric}"
            m = moved(a[key], b[key], metric)
            want = span == "stages.s3_embed"
            ok = ok and m == want and (not want or b[key] > a[key])
            print(f"{span:24} {metric:11} {a[key]:8.2f} {b[key]:8.2f}  "
                  f"{'yes' if m else 'no'}{'' if m == want else '  <- unexpected'}")
    print("selftest:", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
