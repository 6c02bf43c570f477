#!/usr/bin/env python3
"""End-to-end benchmark of the search engine, driven through its public API.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. Every input is generated from ``--seed``:
a Zipf corpus (``sources.synth.zipf_corpus``) and query sets sampled by df
band out of the built lexicon (``inputs.py``). One client, closed loop,
one ``local[N]`` Spark session sized to the box (``spark_env.py``).

Workloads (BENCHMARK.json says why each exists):

* ``interactive``: serial auto-routed ``SearchEngine.search`` /
  ``phrase_search`` calls over a prebuilt index;
* ``sharded``: auto-routed top-k ops (BM25, MaxScore, conjunctive,
  TF-IDF) and 10% empty ops over ``ShardedSearchEngine``; its traced run
  adds top-k ops with ``local=False``, the per-shard Spark plans;
* ``batch``: ``batch_search`` -> ``trec_run_df`` -> ``write_trec_run``;
* ``build``: repeated ``build_index`` calls.

Set-up (Spark start, corpus, build, engine open, warm-up ops)
ends before the timed window. After the window every distinct op's rows
are checked against a DuckDB reference (``reference.py``); a mismatch
exits 1. ``--trace 1`` records spans around each call into the engine's
layers and Spark counters read from outside, and reports the per-layer
metrics instead of the end-to-end ones. The last stdout line is the
result JSON; the line before it carries the box, versions, corpus hash,
tail percentile and top-k hash.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

from inputs import (
    BLOCK, KINDS, TOPK_BLOCK, TOPK_KINDS, dir_bytes, make_batch, make_ops,
    op_stream, read_postings, shape, shapes, write_corpus,
)
from reference import Reference, compare, topk_hash
from spans import Tracer, median, tail
from spark_env import (
    SparkCounters, box, peak_rss_mb, start_session, stop_session, versions,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("interactive", "sharded", "batch", "build")
# A run pays ~40-55 s of set-up on 4 cores (Spark start, corpus, the
# first build in a process) almost whatever the corpus size, so the
# corpus stays small; 2 shards is the fewest that scatter-gather.
N_DOCS = 1000
N_SHARDS = 2
# the ops hash in the info line covers this many ops of the stream
HASHED_OPS = 100
# local=False ops in a traced sharded run: two of each top-k kind
DIST_OPS = 2 * len(TOPK_KINDS)
BATCH_QUERIES = 500
TRACE_BATCH_QUERIES = 200
BATCH_K = 100
STAGES = (
    "tokenize_cache", "doctable", "tf", "positions", "stats", "lexicon",
    "postings", "block_summary",
)
# the manifest records no row count for ``stats`` (one JSON of totals),
# and ``tokenize_cache`` is an in-memory cache that leaves no stage
# directory, so those two figures are not reported
ROW_STAGES = tuple(st for st in STAGES if st != "stats")
BYTE_STAGES = tuple(st for st in STAGES if st != "tokenize_cache")
LAYERS = ("bench", "sources", "builder", "text", "engine", "trec", "sharded", "spark")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit. A layer a workload does not
    call reports 0."""

    u = {"sources.gen_s": "s"}
    for st in STAGES:
        u[f"builder.{st}_s"] = "s"
        if st in ROW_STAGES:
            u[f"builder.{st}_rows"] = "count"
        if st in BYTE_STAGES:
            u[f"builder.{st}_bytes"] = "bytes"
    u.update({
        "builder.driver_s": "s", "builder.jobs": "count", "builder.tasks": "count",
        "builder.failed_tasks": "count", "builder.task_run_s": "s",
        "builder.shuffle_write_bytes": "bytes", "builder.spill_bytes": "bytes",
        "builder.source_rows_read_per_doc": "ratio",
        "text.tokenize_query_us": "us",
        "engine.search_call_ms": "ms", "engine.phrase_call_ms": "ms",
        "engine.collect_ms": "ms",
    })
    for kind in KINDS:
        u[f"engine.op.{kind}.p50_ms"] = "ms"
        u[f"engine.jobs_per_op.{kind}"] = "count"
        u[f"engine.rows_per_op.{kind}"] = "count"
    u.update({
        "engine.local_route_share": "ratio",
        "engine.batch_search_call_ms": "ms", "trec.run_df_call_ms": "ms",
        "trec.write_run_s": "s", "batch.jobs": "count", "batch.tasks": "count",
        "batch.task_run_s": "s", "batch.shuffle_read_bytes": "bytes",
        "batch.shuffle_write_bytes": "bytes", "batch.result_rows": "count",
        "sharded.build_s": "s", "sharded.source_rows_read_per_doc": "ratio",
        "sharded.search_call_ms": "ms", "sharded.collect_ms": "ms",
        "sharded.dist.search_call_ms": "ms", "sharded.dist.collect_ms": "ms",
        "sharded.dist.tasks_per_op": "count",
        "spark.trivial_job_ms": "ms",
    })
    for kind in TOPK_KINDS:
        u[f"sharded.dist.{kind}.p50_ms"] = "ms"
        u[f"sharded.dist.{kind}.jobs_per_op"] = "count"
    for layer in LAYERS:
        u[f"self.{layer}_s"] = "s"
    u["trace.overhead_ms_per_op"] = "ms"
    return u


E2E_UNITS = {
    "setup_s": "s", "build_docs_per_s": "1/s", "index_bytes_per_input_byte": "B/B",
    "query_p50_ms": "ms", "query_tail_ms": "ms", "topk_p50_ms": "ms",
    "queries_per_s": "1/s", "ok_op_ratio": "ratio", "peak_rss_mb": "MB",
}
_QUERY_E2E = ("setup_s", "build_docs_per_s", "index_bytes_per_input_byte",
              "query_p50_ms", "query_tail_ms", "topk_p50_ms", "ok_op_ratio",
              "peak_rss_mb")
# the end-to-end metrics each workload produces
E2E_BY_WORKLOAD = {
    "interactive": _QUERY_E2E,
    "sharded": _QUERY_E2E,
    "batch": ("setup_s", "build_docs_per_s", "index_bytes_per_input_byte",
              "queries_per_s", "ok_op_ratio", "peak_rss_mb"),
    "build": ("setup_s", "build_docs_per_s", "index_bytes_per_input_byte",
              "ok_op_ratio", "peak_rss_mb"),
}


class Bench:
    """State of one run: session, tracer, counters and what was measured."""

    def __init__(self, spark, args, sizing, work, t_start):

        from searchengine_spark.config import EngineConfig

        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.n_docs = args.docs
        self.traced = bool(args.trace)
        self.tracer = Tracer(self.traced)
        self.counters = SparkCounters(spark) if self.traced else None
        self.sizing = sizing
        self.work = work
        self.t_start = t_start
        self.config = EngineConfig(
            positions=True, shuffle_partitions=sizing["shuffle_partitions"]
        )
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(per_layer_units(), 0.0)
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.n_builds = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def group(self, name: str) -> None:
        if self.traced:
            self.counters.group(name)

    # ---------- set-up ----------

    def corpus(self) -> dict:

        t = time.perf_counter()
        with self.tracer.span("sources.gen"):
            corpus = write_corpus(
                self.spark, self.n_docs, self.seed, self.path("corpus"),
                self.sizing["shuffle_partitions"],
            )
        self.layer["sources.gen_s"] = time.perf_counter() - t
        self.info["corpus"] = {k: corpus[k] for k in ("docs", "bytes", "hash")}
        return corpus

    def build(self, corpus: dict, out: str, shards: int = 0) -> float:
        """One build (sharded when ``shards``); records the builder layer
        and returns its wall seconds."""

        from searchengine_spark.index.builder import build_index
        from searchengine_spark.index.sharded import build_sharded_index

        src = self.spark.read.parquet(self.path("corpus"))
        group = f"build{self.n_builds}"
        self.n_builds += 1
        for name in self.layer:
            if name.startswith("builder."):
                self.layer[name] = 0.0
        self.group(group)
        before = self.counters.last_sql_execution() if self.counters else -1
        t = time.perf_counter()
        if shards:
            with self.tracer.span("sharded.build"):
                rep = build_sharded_index(
                    self.spark, src, out, shards, self.config, resume=False
                )
            manifests = rep["shards"]
        else:
            with self.tracer.span("builder.build_index"):
                manifests = [
                    build_index(self.spark, src, out, self.config, resume=False)
                ]
        wall = time.perf_counter() - t
        self.group("idle")
        stage_sum = 0.0
        for st in STAGES:
            for m in manifests:
                entry = m["stages"][st]
                self.layer[f"builder.{st}_s"] += entry["duration_sec"]
                stage_sum += entry["duration_sec"]
                if st in ROW_STAGES:
                    self.layer[f"builder.{st}_rows"] += entry["rows"]
                if st == "stats":
                    self.layer["builder.stats_bytes"] += os.path.getsize(
                        os.path.join(m["index_dir"], "stats.json"))
                elif st in BYTE_STAGES:
                    self.layer[f"builder.{st}_bytes"] += dir_bytes(
                        os.path.join(m["index_dir"], st))
        self.layer["builder.driver_s"] = wall - stage_sum
        self.e2e["build_docs_per_s"] = corpus["docs"] / wall
        self.e2e["index_bytes_per_input_byte"] = dir_bytes(out) / corpus["bytes"]
        if self.counters:
            c = self.counters.jobs(group)
            for key in ("jobs", "tasks", "failed_tasks", "task_run_s",
                        "shuffle_write_bytes", "spill_bytes"):
                self.layer[f"builder.{key}"] = c[key]
            read = self.counters.scan_rows(before, self.path("corpus")) / corpus["docs"]
            if shards:
                self.layer["sharded.source_rows_read_per_doc"] = read
            else:
                self.layer["builder.source_rows_read_per_doc"] = read
        if shards:
            self.layer["sharded.build_s"] = wall
        return wall

    # ---------- interactive / sharded ops ----------

    def run_op(self, engine, op: dict, seq: int, sharded: bool, local=None):
        """One query as a user issues it: the call, then collect. Returns
        (seconds, rows). With tracing on, tokenization is also timed on
        its own, through the engine's public tokenizer. ``local=False``
        ops get spans of their own (``sharded.dist.*``)."""
        layer = ("sharded" if sharded else "engine") + (".dist" if local is False else "")
        tok = engine.engines[0] if sharded else engine
        self.group(f"op{seq}")
        with self.tracer.span("bench.op", seq):
            if self.traced:
                with self.tracer.span("text.tokenize", seq):
                    (tok.tokenize_phrase if op["phrase"] else tok.tokenize_query)(op["text"])
            t = time.perf_counter()
            if op["phrase"]:
                with self.tracer.span(f"{layer}.phrase_call", seq):
                    df = engine.phrase_search(op["text"], k=op["k"], local=local)
            else:
                with self.tracer.span(f"{layer}.search_call", seq):
                    df = engine.search(
                        op["text"], k=op["k"], mode=op["mode"], scorer=op["scorer"],
                        algo=op["algo"], local=local,
                    )
            with self.tracer.span(f"{layer}.collect", seq):
                rows = df.collect()
            dt = time.perf_counter() - t
        return dt, [(r[0], r[1], r[2]) for r in rows]

    def ops_window(self, engine, stream, sharded: bool) -> tuple[list[dict], dict]:
        """Closed loop over the op stream until the window ends; every op
        is new, so no op runs on caches an earlier run of it filled.
        Returns the ops that ran (op id = list index) and the rows of each
        that answered."""

        ran: list[dict] = []
        results: dict[int, list] = {}
        samples = []  # (kind, seconds, rows, seq)
        start = time.perf_counter()
        deadline = start + self.seconds
        seq = 0
        while time.perf_counter() < deadline:
            op = next(stream)
            ran.append(op)
            self.attempted += 1
            try:
                dt, rows = self.run_op(engine, op, seq, sharded)
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
            else:
                results[op["id"]] = rows
                samples.append((op["kind"], dt, len(rows), seq))
            seq += 1
        window = time.perf_counter() - start
        self.group("idle")

        lat = [s[1] * 1000.0 for s in samples]
        tail_ms, pct, n = tail(lat)
        self.info["query_tail"] = {"percentile": pct, "samples": n}
        by_kind = {k: [s[1] * 1000.0 for s in samples if s[0] == k] for k in KINDS}
        self.e2e.update({
            "query_p50_ms": median(lat),
            "query_tail_ms": tail_ms,
            "topk_p50_ms": median(x for k in TOPK_KINDS for x in by_kind[k]),
        })
        # one serial client: ops per second is 1 / mean latency, the
        # noisiest figure of the window, so it is recorded, not gated
        self.info["queries_per_s"] = len(samples) / window
        # per-kind medians rest on a few samples on the sharded workload,
        # so they are per-layer metrics; the info line shows them always
        self.info["p50_ms_by_kind"] = {}
        for k in KINDS:
            self.layer[f"engine.op.{k}.p50_ms"] = median(by_kind[k])
            self.info["p50_ms_by_kind"][k] = [median(by_kind[k]), len(by_kind[k])]
            rows = [s[2] for s in samples if s[0] == k]
            self.layer[f"engine.rows_per_op.{k}"] = sum(rows) / len(rows) if rows else 0.0
        if self.traced:
            self.op_counters(samples, sharded)
        return ran, results

    def op_counters(self, samples, sharded: bool) -> None:

        jobs = {k: [] for k in KINDS}
        for kind, _dt, _rows, seq in samples:
            jobs[kind].append(self.counters.jobs(f"op{seq}")["jobs"])
        all_jobs = [j for k in KINDS for j in jobs[k]]
        for k in KINDS:
            self.layer[f"engine.jobs_per_op.{k}"] = (
                sum(jobs[k]) / len(jobs[k]) if jobs[k] else 0.0
            )
        if all_jobs:
            self.layer["engine.local_route_share"] = (
                sum(1 for j in all_jobs if j == 0) / len(all_jobs)
            )
        ms = self.p50_ms
        if sharded:
            self.layer["sharded.search_call_ms"] = ms("sharded.search_call", "sharded.phrase_call")
            self.layer["sharded.collect_ms"] = ms("sharded.collect")
        else:
            self.layer["engine.search_call_ms"] = ms("engine.search_call")
            self.layer["engine.phrase_call_ms"] = ms("engine.phrase_call")
            self.layer["engine.collect_ms"] = ms("engine.collect")
        self.layer["text.tokenize_query_us"] = ms("text.tokenize") * 1000.0

    def distributed(self, engine, stream, reference, first: int) -> None:
        """Traced ``sharded`` runs only: DIST_OPS more top-k ops with
        ``local=False``, the per-shard Spark plans that auto-routing skips
        on a corpus this small, checked against the reference like the
        window's ops."""
        samples = []  # (kind, seconds, jobs, tasks)
        for seq in range(first, first + DIST_OPS):
            op = next(o for o in stream if o["kind"] != "empty")
            self.attempted += 1
            try:
                dt, rows = self.run_op(engine, op, seq, True, local=False)
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                continue
            c = self.counters.jobs(f"op{seq}")
            samples.append((op["kind"], dt, c["jobs"], c["tasks"]))
            err = compare(rows, reference.ranked(op), op["k"])
            if err:
                self.mismatches.append(f"local=False op {op['id']} {op['text']!r}: {err}")
        self.group("idle")
        for k in TOPK_KINDS:
            mine = [s for s in samples if s[0] == k]
            self.layer[f"sharded.dist.{k}.p50_ms"] = median(s[1] * 1000.0 for s in mine)
            self.layer[f"sharded.dist.{k}.jobs_per_op"] = (
                sum(s[2] for s in mine) / len(mine) if mine else 0.0
            )
        self.layer["sharded.dist.tasks_per_op"] = (
            sum(s[3] for s in samples) / len(samples) if samples else 0.0
        )
        self.layer["sharded.dist.search_call_ms"] = self.p50_ms("sharded.dist.search_call")
        self.layer["sharded.dist.collect_ms"] = self.p50_ms("sharded.dist.collect")

    def p50_ms(self, *names: str) -> float:
        return median(d * 1000.0 for n in names for d in self.tracer.durations(n))

    def warm(self, engine, stream, want: set, sharded: bool) -> None:
        """One op of every shape (kind and term count) the window draws,
        before the window and from a stream the window never draws from:
        loads the engine's block metadata and plans and compiles each
        query shape."""
        seen = set()
        for n, op in enumerate(stream):
            if shape(op) not in seen:
                seen.add(shape(op))
                self.run_op(engine, op, -1, sharded)
            if seen == want:
                break
            if n > 100 * len(want):
                raise RuntimeError(f"warm-up never drew {sorted(want - seen)}")
        self.info["warm_ops"] = len(seen)

    def gate_ops(self, reference, ops: list[dict], results: dict) -> None:

        for op_id, rows in results.items():
            err = compare(rows, reference.ranked(ops[op_id]), ops[op_id]["k"])
            if err:
                self.mismatches.append(f"op {op_id} {ops[op_id]['text']!r}: {err}")
        self.info["topk_hash"] = topk_hash(results)
        self.info["ops_checked"] = len(results)

    def overhead(self, engine, ops: list[dict], sharded: bool, n: int) -> None:
        """Tracing overhead per op: each of the first n ops runs once with
        tracing off and once on, alternating which goes first; the metric
        is the median of (traced - untraced). Calibration spans are
        discarded."""

        keep_tracer, keep_traced = self.tracer, self.traced
        diffs = []
        for i, op in enumerate(ops[:n]):
            timing = {}
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                self.tracer, self.traced = Tracer(traced), traced
                t = time.perf_counter()
                self.run_op(engine, op, -2, sharded)
                timing[traced] = time.perf_counter() - t
            diffs.append((timing[True] - timing[False]) * 1000.0)
        self.tracer, self.traced = keep_tracer, keep_traced
        self.group("idle")
        self.layer["trace.overhead_ms_per_op"] = median(diffs)

    def trivial_jobs(self) -> None:

        lat = []
        for _ in range(10):
            t = time.perf_counter()
            with self.tracer.span("spark.trivial_job"):
                self.spark.range(1).count()
            lat.append((time.perf_counter() - t) * 1000.0)
        self.layer["spark.trivial_job_ms"] = median(lat)

    # ---------- batch ----------

    def trec_run(self, engine, queries, out: str):
        """batch_search -> trec_run_df -> write_trec_run; returns
        (seconds, results DataFrame)."""
        from searchengine_spark.query.trec import trec_run_df, write_trec_run

        t = time.perf_counter()
        with self.tracer.span("bench.trec_run"):
            with self.tracer.span("engine.batch_search_call"):
                res = engine.batch_search(queries, k=BATCH_K)
            with self.tracer.span("trec.run_df_call"):
                run = trec_run_df(engine, queries, k=BATCH_K, results=res)
            with self.tracer.span("trec.write_run"):
                write_trec_run(run, out)
        return time.perf_counter() - t, res

    def batch_layer(self, calls: int) -> None:

        self.layer["engine.batch_search_call_ms"] = self.p50_ms("engine.batch_search_call")
        self.layer["trec.run_df_call_ms"] = self.p50_ms("trec.run_df_call")
        self.layer["trec.write_run_s"] = self.p50_ms("trec.write_run") / 1000.0
        c = self.counters.jobs("batch")
        for key in ("jobs", "tasks", "task_run_s", "shuffle_read_bytes",
                    "shuffle_write_bytes"):
            self.layer[f"batch.{key}"] = c[key] / calls

    def gate_batch(self, reference, queries, run_file: str, res) -> None:
        """The run file and the full-precision batch rows against the
        reference, per query."""

        from searchengine_spark.query.trec import parse_trec_run

        ids = reference.docno_to_id()
        lines = parse_trec_run(run_file)
        self.layer["batch.result_rows"] = len(lines)
        from_file: dict[str, list] = {}
        for qid, _q0, docno, rank, score, _run in lines:
            from_file.setdefault(qid, []).append((rank, ids[docno], score))
        exact: dict[str, list] = {}
        for r in res.collect():
            exact.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        for qid, text in queries:
            terms = text.split(" ")
            want = reference.ranked({"phrase": False, "scorer": "bm25",
                                     "mode": "disjunctive", "terms": terms})
            # the run file prints scores with 6 decimals
            for label, got, tol in (("run file", from_file, {"rel": 0.0, "abs_tol": 5.1e-7}),
                                    ("batch_search", exact, {})):
                err = compare(sorted(got.get(qid, [])), want, BATCH_K, **tol)
                if err:
                    self.mismatches.append(f"{label} {qid} {text!r}: {err}")


# ---------- workloads ----------


def run_queries(b: Bench, sharded: bool) -> None:

    from searchengine_spark.index.sharded import ShardedSearchEngine
    from searchengine_spark.query.engine import SearchEngine

    corpus = b.corpus()
    index = b.path("index")
    b.build(corpus, index, shards=N_SHARDS if sharded else 0)
    with b.tracer.span(f"{'sharded' if sharded else 'engine'}.open"):
        engine = (ShardedSearchEngine if sharded else SearchEngine)(b.spark, index)
    dirs = [e.index_dir for e in engine.engines] if sharded else [index]
    postings = read_postings(dirs)
    block = TOPK_BLOCK if sharded else BLOCK
    stream = op_stream(b.seed, postings, corpus["tokens"], corpus["docs"], block)
    b.info["ops_hash"] = _hash(make_ops(
        b.seed, postings, corpus["tokens"], corpus["docs"], HASHED_OPS, block))
    b.warm(engine, op_stream(b.seed, postings, corpus["tokens"], corpus["docs"],
                             block, salt="warm"), shapes(block), sharded)
    b.e2e["setup_s"] = time.perf_counter() - b.t_start

    ops, results = b.ops_window(engine, stream, sharded)

    t = time.perf_counter()
    reference = Reference(dirs, engine.stats, b.config, b.path("corpus"))
    b.gate_ops(reference, ops, results)
    b.info["gate_s"] = time.perf_counter() - t
    if b.traced:
        b.trivial_jobs()
        if sharded:
            b.distributed(engine, stream, reference, len(ops))
        else:
            queries = make_batch(b.seed, postings, corpus["docs"], TRACE_BATCH_QUERIES)
            b.group("batch")
            _dt, res = b.trec_run(engine, queries, b.path("run.txt"))
            b.group("idle")
            b.batch_layer(1)
            b.gate_batch(reference, queries, b.path("run.txt"), res)
        b.overhead(engine, ops, sharded, 40)


def run_batch(b: Bench) -> None:

    from searchengine_spark.query.engine import SearchEngine

    corpus = b.corpus()
    index = b.path("index")
    b.build(corpus, index)
    engine = SearchEngine(b.spark, index)
    postings = read_postings([index])
    queries = make_batch(b.seed, postings, corpus["docs"], BATCH_QUERIES)
    b.trec_run(engine, queries[:20], b.path("warm.txt"))
    b.e2e["setup_s"] = time.perf_counter() - b.t_start

    start = time.perf_counter()
    answered = 0
    res = None
    b.group("batch")
    while True:
        b.attempted += 1
        # each call rewrites the same run file; the last one is checked
        try:
            _dt, res = b.trec_run(engine, queries, b.path("run.txt"))
        except Exception:
            b.failed += 1
            traceback.print_exc(file=sys.stderr)
        else:
            answered += len(queries)
        if time.perf_counter() - start >= b.seconds:
            break
    b.e2e["queries_per_s"] = answered / (time.perf_counter() - start)
    b.group("idle")
    if b.traced:
        b.batch_layer(b.attempted)
    if res is None:
        b.mismatches.append("no TREC run completed")
        return
    reference = Reference([index], engine.stats, b.config, b.path("corpus"))
    b.gate_batch(reference, queries, b.path("run.txt"), res)


def run_build(b: Bench) -> None:

    from searchengine_spark.query.engine import SearchEngine

    corpus = b.corpus()
    b.e2e["setup_s"] = time.perf_counter() - b.t_start
    start = time.perf_counter()
    walls = []
    n = 0
    while True:
        index = b.path(f"index{n % 2}")
        shutil.rmtree(index, ignore_errors=True)
        b.attempted += 1
        try:
            walls.append(b.build(corpus, index))
        except Exception:
            b.failed += 1
            traceback.print_exc(file=sys.stderr)
        n += 1
        if time.perf_counter() - start >= b.seconds:
            break
    if not walls:
        b.mismatches.append("no build completed")
        return
    b.e2e["build_docs_per_s"] = corpus["docs"] / median(walls)
    # the last index must answer the first block of ops exactly
    engine = SearchEngine(b.spark, index)
    ops = make_ops(b.seed, read_postings([index]), corpus["tokens"], corpus["docs"], 20)
    results = {op["id"]: b.run_op(engine, op, -1, False)[1] for op in ops}
    reference = Reference([index], engine.stats, b.config, b.path("corpus"))
    b.gate_ops(reference, ops, results)


def _hash(ops: list[dict]) -> str:

    return hashlib.sha256(json.dumps(ops, sort_keys=True).encode()).hexdigest()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=N_DOCS,
                   help="corpus size; smaller only for smoke tests")
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import searchengine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    sizing = box()
    spark = None
    try:
        spark = start_session(sizing, work, ROOT)
        b = Bench(spark, args, sizing, work, t_start)
        {"interactive": lambda: run_queries(b, False),
         "sharded": lambda: run_queries(b, True),
         "batch": lambda: run_batch(b),
         "build": lambda: run_build(b)}[args.workload]()
        b.e2e["peak_rss_mb"] = peak_rss_mb(spark)
        if b.traced:
            for layer, sec in b.tracer.self_seconds_by_layer().items():
                b.layer[f"self.{layer}_s"] = sec
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            b.tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    b.e2e["ok_op_ratio"] = (b.attempted - b.failed) / b.attempted
    for m in b.mismatches:
        print(f"perfbench: MISMATCH {m}", file=sys.stderr)
    if b.traced:
        units = per_layer_units()
        metrics = {n: {"value": float(b.layer[n]), "unit": units[n]} for n in units}
    else:
        metrics = {
            n: {"value": float(b.e2e.get(n, 0.0)), "unit": E2E_UNITS[n]}
            for n in E2E_BY_WORKLOAD[args.workload]
        }
    b.info["wall_s"] = time.perf_counter() - t_start
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "box": sizing, "versions": versions(), **b.info}
    print("perfbench info " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": not b.mismatches, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 1 if b.mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
