"""The benchmark's workloads.

Each workload prepares its inputs from the seed, builds what it needs in
set-up (warm-up included), then runs timed ops in a closed loop with one
client. Every op's output is checked right after the op, outside its timed
region; an op whose check fails counts as failed.

  upload_full  one op = a fresh `Pipeline.run` of the corpus into an empty
               warehouse, exact linking (the kgctl default). S1-S4, the O18
               index and S5-S7 all run; the resume no-op is timed after it.
               Its traced run also runs the `bpe` layer once (BpeProbe).
  search       one op = one `graphrag_search_cached` call with kgctl search
               defaults (hybrid tf, top_k 5, depth 2), then the caller
               collects hits and entities. 1 in 4 ops repeats an earlier
               query within the cache TTL. No ingest layer runs.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter

from perfbench.corpus import PARAMS, write_docs, write_pages
from perfbench.harness import tree_cpu_s
from perfbench.tracing import median

SEARCH_KW = {"top_k": 5, "max_depth": 2}  # kgctl search defaults
WARM_QUERIES = 4


class Workload:
    """Inputs, set-up, one timed op and its output check."""

    item = "op"
    min_ops = 1

    def __init__(self, corpus, work: str, nproc: int):
        self.corpus = corpus
        self.work = work
        self.nproc = nproc

    def prepare(self) -> None:
        """Generate the workload's input files on the driver."""

    def warm(self, spark) -> None:
        """Build what the ops need and run the code paths once."""

    def open(self, spark) -> None:
        """Bind the session's DataFrames (again after a session restart)."""

    def op(self, spark, i: int, tracer) -> dict:
        """Run op i; returns {"seconds", "cpu_s", "items", "ok", ...}, where
        `cpu_s` is the program's `harness.tree_cpu_s` spent in the op."""
        raise NotImplementedError

    def probe(self, spark, tracer) -> list[dict]:
        """Traced run only: run layers no timed op reaches; returns op
        records like `op` does."""
        return []

    def layer_metrics(self, ops: list[dict], tracer, groups: dict) -> dict:
        """Per-layer values from the traced ops and probes."""
        return {}

    def named_metrics(self, ops: list[dict]) -> dict:
        return {}


class UploadFull(Workload):
    item = "page"
    # the first timed upload still costs more than later ones (the JIT is
    # still compiling); two in every run keep that share the same
    min_ops = 2

    def prepare(self):
        self.pages = self.corpus.pages(range(PARAMS["pages"]))
        self.pages_path = os.path.join(self.work, "pages")
        write_pages(self.pages, self.pages_path, 2 * self.nproc)
        self.corpus_id = f"bench:seed={self.corpus.seed}"
        self._expected = None

    def _upload(self, spark, warehouse: str, run_id: str):
        from kgspark.pipeline import Pipeline  # noqa: PLC0415

        pipe = Pipeline(warehouse)
        pipe.run(spark, spark.read.parquet(self.pages_path), self.corpus_id,
                 run_id=run_id)
        return pipe

    def warm(self, spark):
        wh = os.path.join(self.work, "wh_warm")
        self._upload(spark, wh, "warm")
        shutil.rmtree(wh)

    def expected(self):
        if self._expected is None:
            from kgspark import oracle  # noqa: PLC0415

            rng = random.Random(f"sample:{self.corpus.seed}")
            sample = rng.sample(self.pages, 8)
            self._expected = (
                oracle.build_kg(self.pages)["triples"],
                {p["url"]: oracle.extracted_text(p) for p in sample},
            )
        return self._expected

    def op(self, spark, i, tracer):
        from pyspark.sql import functions as F  # noqa: PLC0415

        wh = os.path.join(self.work, f"wh{i}")
        c0, t0 = tree_cpu_s(), time.monotonic()
        pipe = self._upload(spark, wh, f"r{i}")
        seconds, cpu_s = time.monotonic() - t0, tree_cpu_s() - c0

        triples, texts = self.expected()
        if tracer:
            tracer.group("check")
        got = {tuple(r) for r in pipe.io.read(spark, "kg_edges")
               .select("subj", "pred", "obj").collect()}
        docs = {r["url"]: r["text"] for r in pipe.io.read(spark, "docs")
                .filter(F.col("url").isin(list(texts))).collect()}
        t1 = time.monotonic()
        resumed = self._upload(spark, wh, f"r{i}")
        resume_s = time.monotonic() - t1
        all_stages = {"pages"} | {t for t, _ in resumed.STAGES}
        ok = (got == triples and docs == texts
              and set(resumed.last_skipped) == all_stages)
        shutil.rmtree(wh)
        return {"seconds": seconds, "cpu_s": cpu_s, "items": len(self.pages),
                "ok": ok, "resume_s": resume_s}

    def probe(self, spark, tracer):
        bpe = BpeProbe(self.pages, os.path.join(self.work, "docs"),
                       2 * self.nproc)
        return [bpe.run(spark, tracer)]

    def layer_metrics(self, ops, tracer, groups):
        out = {"pipeline.resume_noop_s": median(
                   o["resume_s"] for o in ops if "resume_s" in o),
               "cc.rounds": median(tracer.cc_rounds)}
        for rec in ops:
            if rec["op"] == "bpe":
                out.update(BpeProbe.layer_metrics(rec, tracer.slots, groups))
        return out

    def named_metrics(self, ops):
        return {"upload_docs_per_s": {
            "value": sum(o["items"] for o in ops) / sum(o["seconds"] for o in ops),
            "unit": "1/s"}}


class Search(Workload):
    item = "query"
    # every 4th query is a cache hit at a tenth of a miss's cost; 6 ops
    # (a miss takes 1.4-2.5 s on 4 cores, so an 8 s run is 6 or 7 ops)
    # keep one hit in every run
    min_ops = 6

    def prepare(self):
        pages = self.corpus.pages(range(PARAMS["base_pages"]))
        self.pages_path = os.path.join(self.work, "pages")
        write_pages(pages, self.pages_path, 2 * self.nproc)
        self.queries = self.corpus.queries(1000)
        self.stored: dict[str, tuple] = {}

    def warm(self, spark):
        from kgspark.pipeline import Pipeline  # noqa: PLC0415

        self.pipe = Pipeline(os.path.join(self.work, "wh"))
        self.pipe.run(spark, spark.read.parquet(self.pages_path),
                      f"bench:seed={self.corpus.seed}")
        self.open(spark)
        # queries the generator never produces ("warm" is no filler word);
        # later misses still speed up as the JIT warms, so run several
        for k in range(WARM_QUERIES):
            self._search(f"{self.corpus.names[k]} warm up {self.corpus.hot}")

    def open(self, spark):
        from kgspark.stages import mentions_of  # noqa: PLC0415

        io = self.pipe.io
        rd = lambda t: io.read_accumulated(spark, t)  # noqa: E731
        self.tables = {
            "chunks": rd("chunks"), "embeddings": rd("embeddings"),
            "mentions": mentions_of(rd("extracted")),
            "inverted_index": rd("inverted_index"), "kg_nodes": rd("kg_nodes"),
        }

    def _search(self, q: str):
        from kgspark.query import graphrag_search_cached  # noqa: PLC0415

        t = self.tables
        out = graphrag_search_cached(
            self.pipe.io, t["chunks"], t["embeddings"], t["mentions"], q,
            inverted_index=t["inverted_index"], kg_nodes=t["kg_nodes"],
            **SEARCH_KW)
        return out["cached"], out["hits"].collect(), out["entities"].collect()

    def op(self, spark, i, tracer):
        q = self.queries[i]
        c0, t0 = tree_cpu_s(), time.monotonic()
        cached, hits, entities = self._search(q)
        seconds, cpu_s = time.monotonic() - t0, tree_cpu_s() - c0

        rows = (sorted(map(repr, hits)), sorted(map(repr, entities)))
        ok = len(hits) == SEARCH_KW["top_k"] and cached == (q in self.stored)
        if cached:
            ok = ok and rows == self.stored[q]
        else:
            self.stored[q] = rows
        return {"seconds": seconds, "cpu_s": cpu_s, "items": 1, "ok": ok,
                "cached": cached}

    def layer_metrics(self, ops, tracer, groups):
        c = tracer.counters
        misses = [o for o in ops if not o["cached"]]

        def per_op(key):
            return [sum(g.get(key, 0) for name, g in groups.items()
                        if name.startswith(o["op"] + "|")) for o in ops]

        return {
            "query.retrieve_p50_s": median(c[o["op"]]["query.retrieve"] for o in misses),
            "query.expand_p50_s": median(c[o["op"]]["query.expand"] for o in misses),
            "io.cache_lookup_p50_s": median(c[o["op"]]["io.cache_lookup"] for o in ops),
            "io.cache_commit_p50_s": median(c[o["op"]]["io.cache_commit"] for o in misses),
            "query.hit_p50_s": median(o["seconds"] for o in ops if o["cached"]),
            "query.miss_p50_s": median(o["seconds"] for o in misses),
            "query.cache_hit_ratio": sum(o["cached"] for o in ops) / len(ops),
            "query.jobs_per_op": sum(per_op("jobs")) / len(ops),
            "query.tasks_per_op": sum(per_op("tasks")) / len(ops),
        }

    def named_metrics(self, ops):
        secs = sorted(o["seconds"] for o in ops)
        out = {
            "search_qps": {"value": len(ops) / sum(secs), "unit": "1/s"},
            "search_p50_s": {"value": median(secs), "unit": "s"},
        }
        # a p90 needs at least ten samples beyond it
        if len(secs) >= 100:
            out["search_p90_s"] = {"value": secs[int(0.9 * len(secs))],
                                   "unit": "s"}
        return out


def sequential_bpe(freqs: list[tuple[str, int]], n_merges: int,
                   min_count: int = 2) -> tuple[list[tuple[str, str, int]], int]:
    """Reference BPE over a word-frequency table: each round merges the
    most frequent adjacent pair (ties: smallest "left right" string),
    greedy left to right. Returns the merges and the corpus token count
    under them."""
    words = [(list(w), n) for w, n in freqs]
    merges = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for syms, n in words:
            for pair in zip(syms, syms[1:]):
                counts[pair] += n
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], f"{p[0]} {p[1]}"))
        if counts[best] < min_count:
            break
        merges.append((best[0], best[1], counts[best]))
        left, right = best
        for syms, _ in words:
            out, k = [], 0
            while k < len(syms):
                if k + 1 < len(syms) and syms[k] == left and syms[k + 1] == right:
                    out.append(left + right)
                    k += 2
                else:
                    out.append(syms[k])
                    k += 1
            syms[:] = out
    return merges, sum(len(syms) * n for syms, n in words)


class BpeProbe:
    """`bpe_train` for a fixed number of merges over the corpus docs text,
    then `bpe_encode` of the docs with those merges, checked against
    `sequential_bpe` over the collected word-frequency table. `bpe` is on
    no workload's timed path, so the traced upload_full run runs this once
    to measure the layer."""

    def __init__(self, pages: list[dict], path: str, n_files: int):
        self.n_docs = len(pages)
        self.path = path
        write_docs(pages, path, n_files)

    def run(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from kgspark.bpe import bpe_encode, bpe_train, word_freq_table  # noqa: PLC0415

        docs = spark.read.parquet(self.path)
        tracer.set_op("bpe")
        tracer.group("bpe.train")
        t0 = time.monotonic()
        merges = [(r["left"], r["right"], r["pair_count"]) for r in
                  bpe_train(docs, n_merges=PARAMS["bpe_merges"])
                  .orderBy("rank").collect()]
        t1 = time.monotonic()
        tracer.group("bpe.encode")
        total = (bpe_encode(docs, [(a, b) for a, b, _ in merges])
                 .agg(F.sum("n_bpe_tokens")).first()[0])
        t2 = time.monotonic()
        tracer.group("check")
        freqs = [(r["word"], r["n"]) for r in word_freq_table(docs).collect()]
        ok = (merges, total) == sequential_bpe(freqs, PARAMS["bpe_merges"])
        return {"seconds": t2 - t0, "items": self.n_docs, "ok": ok,
                "op": "bpe", "train_s": t1 - t0}

    @staticmethod
    def layer_metrics(rec: dict, slots: int, groups: dict) -> dict:
        """bpe.* values from the probe's record and its job groups."""
        train = groups.get("bpe|bpe.train", {})
        encode = groups.get("bpe|bpe.encode", {})
        train_run_s = train.get("run_ms", 0) / 1000
        return {
            "bpe.train_jobs": train.get("jobs", 0),
            "bpe.train_exec_run_s": train_run_s,
            "bpe.train_slot_idle_s": max(rec["train_s"] * slots - train_run_s, 0.0),
            "bpe.encode_exec_run_s": encode.get("run_ms", 0) / 1000,
            "bpe.encode_py_run_s": encode.get("py_run_ms", 0) / 1000,
        }


WORKLOADS = {"upload_full": UploadFull, "search": Search}
