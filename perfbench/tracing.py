"""Per-layer tracing, recorded from outside the program.

The tracer wraps public calls of kgspark modules at run time and restores
them afterwards; no program file changes. Every Pipeline stage is built
lazily and executes inside its `TableIO.commit`, so the interval that ends
with a stage's commit is that stage's span. The one eager exception is
connected components (it checkpoints every round), so the canonical span
opens when `cc.connected_components` is called. Each span tags its jobs
with `setJobGroup("<op>|<span>")`, and the Spark event log written by the
traced session attributes executor time, GC, shuffle, spill, output rows
and the Python-worker SQL metrics to it.

Spans and counters are kept in memory and turned into metrics once the
traced session has stopped and its event log is complete.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict

# table committed by a Pipeline stage -> span name
SPAN_OF_TABLE = {
    "pages": "io.pages",
    "docs": "stages.s1_text",
    "chunks": "stages.s2_chunk",
    "embeddings": "stages.s3_embed",
    "inverted_index": "query.o18_index",
    "extracted": "stages.s4_extract",
    "canonical": "cc.s5_s6_canonical",
    "kg_nodes": "stages.s7_nodes",
    "kg_edges": "stages.s7_edges",
    "_lineage": "pipeline.lineage",
}
SPANS = list(SPAN_OF_TABLE.values())
SPAN_SUFFIXES = ["wall_s", "exec_run_s", "slot_idle_s", "gc_s",
                 "shuffle_write_mb", "spill_mb", "rows_out"]
PY_SPANS = ["stages.s1_text", "stages.s2_chunk", "stages.s3_embed",
            "stages.s4_extract"]
PY_SUFFIXES = ["py_run_s", "py_boot_s", "py_sent_mb"]

# Python-worker SQL metrics, by their display names in the event log
PY_ACCUMULABLES = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "data sent to Python workers": "py_sent_bytes",
}


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


class Tracer:
    """Spans and counters for one traced session."""

    def __init__(self, spark, slots: int):
        self.sc = spark.sparkContext
        self.slots = slots
        self.op = "setup"
        self.spans: list[tuple[str, str, float]] = []   # (op, span, wall)
        self.counters: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))                  # op -> name -> value
        self.cc_rounds: list[int] = []
        self._open: str | None = None
        self._start = 0.0
        self._mark: float | None = None
        self._undo: list[tuple[object, str, object]] = []

    # -- job groups and spans ----------------------------------------------
    def set_op(self, op: str) -> None:
        self.op = op
        self.group("other")

    def group(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.op}|{name}", name)

    def begin(self, name: str) -> None:
        if self._open == name:
            return
        self._open = name
        self._start = self._mark if self._mark is not None else time.monotonic()
        self.group(name)

    def end(self, name: str) -> None:
        now = time.monotonic()
        self.spans.append((self.op, name, now - self._start))
        self._open = None
        if self._mark is not None:
            self._mark = now
        self.group("other")

    def add(self, name: str, value: float) -> None:
        self.counters[self.op][name] += value

    # -- run-time wrappers ---------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from kgspark import cc, query  # noqa: PLC0415
        from kgspark.io import TableIO  # noqa: PLC0415
        from kgspark.pipeline import Pipeline  # noqa: PLC0415

        tr = self

        def pipeline_call(orig):
            def call(pipe, *a, **k):
                tr._mark = time.monotonic()
                tr.begin("io.pages")
                try:
                    return orig(pipe, *a, **k)
                finally:
                    tr._mark = None
                    tr._open = None
                    tr.group("other")
            return call

        def commit(orig):
            def call(io, table, df, *a, **k):
                name = SPAN_OF_TABLE.get(table)
                if name is None:  # query-cache writes inside a search op
                    name = ("query.expand" if table == "_qcache_entities"
                            else "io.cache_commit")
                tr.begin(name)
                t0 = time.monotonic()
                try:
                    return orig(io, table, df, *a, **k)
                finally:
                    tr.add(name, time.monotonic() - t0)
                    tr.end(name)
            return call

        def cache_lookup(orig):
            def call(io, table, *a, **k):
                t0 = time.monotonic()
                try:
                    return orig(io, table, *a, **k)
                finally:
                    if table.startswith("_qcache"):
                        tr.add("io.cache_lookup", time.monotonic() - t0)
            return call

        def connected_components(orig):
            def call(*a, stats=None, **k):
                tr.begin("cc.s5_s6_canonical")
                stats = {} if stats is None else stats
                out = orig(*a, stats=stats, **k)
                tr.cc_rounds.append(stats.get("rounds", 0))
                return out
            return call

        def graphrag_search(orig):
            def call(*a, **k):
                tr.group("query.retrieve")
                t0 = time.monotonic()
                try:
                    return orig(*a, **k)
                finally:
                    tr.add("query.retrieve", time.monotonic() - t0)
                    tr.group("other")
            return call

        self._patch(Pipeline, "run", pipeline_call)
        self._patch(TableIO, "commit", commit)
        self._patch(TableIO, "find_snapshot", cache_lookup)
        self._patch(TableIO, "snapshot_metadata", cache_lookup)
        self._patch(cc, "connected_components", connected_components)
        self._patch(query, "graphrag_search", graphrag_search)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# -- event log ----------------------------------------------------------------

def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}")
    return files[0]


def group_metrics(log_path: str, repo_root: str) -> dict[str, dict]:
    """Event-log totals per job group: task metrics through the repo's
    `tools/stage_profile.parse`, plus jobs, output rows and the
    Python-worker SQL metrics read from the same log."""
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    try:
        from stage_profile import parse  # noqa: PLC0415
    finally:
        sys.path.pop(0)
    stages = parse(log_path)

    jobs: dict[str, int] = defaultdict(int)
    extra: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(log_path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                jobs[props.get("spark.jobGroup.id", "untagged")] += 1
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                sid = ev.get("Stage ID")
                out = (ev.get("Task Metrics") or {}).get("Output Metrics") or {}
                extra[sid]["rows_out"] += out.get("Records Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = PY_ACCUMULABLES.get(acc.get("Name"))
                    if key is not None:
                        extra[sid][key] += float(acc.get("Update") or 0)

    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for sid, s in stages.items():
        g = groups[s["segment"]]
        g["run_ms"] += s.get("run_ms", 0)
        g["gc_ms"] += s.get("gc_ms", 0)
        g["sh_write"] += s.get("sh_write", 0)
        g["spill"] += s.get("spill_disk", 0)
        g["tasks"] += s.get("tasks", 0)
        for k, v in extra.get(sid, {}).items():
            g[k] += v
    for name, n in jobs.items():
        groups[name]["jobs"] += n
    return groups


def span_metrics(spans: list[tuple[str, str, float]], groups: dict[str, dict],
                 slots: int) -> dict[str, float]:
    """Median over ops of each span's wall time and event-log totals."""
    per_span: dict[str, list[dict[str, float]]] = defaultdict(list)
    for op, name, wall in spans:
        if name not in SPANS:
            continue
        g = groups.get(f"{op}|{name}", {})
        run_s = g.get("run_ms", 0) / 1000
        per_span[name].append({
            "wall_s": wall,
            "exec_run_s": run_s,
            "slot_idle_s": max(wall * slots - run_s, 0.0),
            "gc_s": g.get("gc_ms", 0) / 1000,
            "shuffle_write_mb": g.get("sh_write", 0) / 1e6,
            "spill_mb": g.get("spill", 0) / 1e6,
            "rows_out": g.get("rows_out", 0),
            "py_run_s": g.get("py_run_ms", 0) / 1000,
            "py_boot_s": g.get("py_boot_ms", 0) / 1000,
            "py_sent_mb": g.get("py_sent_bytes", 0) / 1e6,
        })
    out: dict[str, float] = {}
    for name, rows in per_span.items():
        suffixes = SPAN_SUFFIXES + (PY_SUFFIXES if name in PY_SPANS else [])
        for suf in suffixes:
            out[f"{name}.{suf}"] = median(r[suf] for r in rows)
    return out


def textops_kernels(pages: list[dict], repeats: int = 3) -> dict[str, float]:
    """Direct driver-side calls of the S1-S4 Python kernels over a page
    sample, without Spark: the kernel cost the UDF stages wrap."""
    from kgspark.textops import (  # noqa: PLC0415
        chunk_text, embed_text, extract_chunk, html_to_text)

    htmls = [p["html"] for p in pages if p["html"] is not None]
    texts = [p["text"] for p in pages]
    chunks = [c["text"] for t in texts for c in chunk_text(t)]
    html_kb = sum(len(h) for h in htmls) / 1024
    text_kb = sum(len(t.encode()) for t in texts) / 1024

    def timed(fn, items):
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            runs.append(time.perf_counter() - t0)
        return median(runs) * 1e6

    return {
        "textops.html_to_text_us_per_kb": timed(html_to_text, htmls) / html_kb,
        "textops.chunk_text_us_per_kb": timed(chunk_text, texts) / text_kb,
        "textops.embed_text_us_per_chunk":
            timed(lambda t: embed_text(t, 64), chunks) / len(chunks),
        "textops.extract_chunk_us_per_chunk":
            timed(extract_chunk, chunks) / len(chunks),
    }


def _layer_metrics() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    out: dict[str, str] = {}
    for span in SPANS:
        for suf in SPAN_SUFFIXES + (PY_SUFFIXES if span in PY_SPANS else []):
            out[f"{span}.{suf}"] = (
                "count" if suf == "rows_out"
                else "MB" if suf.endswith("_mb") else "s")
    out.update({
        "textops.html_to_text_us_per_kb": "us/KB",
        "textops.chunk_text_us_per_kb": "us/KB",
        "textops.embed_text_us_per_chunk": "us/chunk",
        "textops.extract_chunk_us_per_chunk": "us/chunk",
        "session.get_spark_s": "s",
        "cc.rounds": "count",
        "pipeline.resume_noop_s": "s",
        "query.retrieve_p50_s": "s",
        "query.expand_p50_s": "s",
        "io.cache_lookup_p50_s": "s",
        "io.cache_commit_p50_s": "s",
        "query.hit_p50_s": "s",
        "query.miss_p50_s": "s",
        "query.cache_hit_ratio": "ratio",
        "query.jobs_per_op": "count",
        "query.tasks_per_op": "count",
        "bpe.train_jobs": "count",
        "bpe.train_exec_run_s": "s",
        "bpe.train_slot_idle_s": "s",
        "bpe.encode_exec_run_s": "s",
        "bpe.encode_py_run_s": "s",
        "trace.overhead_pct": "%",
    })
    return out


LAYER_METRICS = _layer_metrics()
