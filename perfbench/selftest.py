#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py

1. BENCHMARK.json: names match ``[A-Za-z0-9_.-]+`` and are unique, and
   its metric lists are exactly what run.py reports.
2. compare(): ties are sets, a tie group cut by k is a subset, and any
   other difference is reported.
3. Inputs: each mix gives each of its query kinds an equal share and
   one op in ten is empty; the same seed gives the same corpus hash and
   op list, a different seed gives different ones, the warm-up ops
   differ from the timed ones, and the stream draws exactly the op
   shapes the warm-up covers.
4. The gate fires: real engine rows match the DuckDB reference, and each
   of several corruptions of a copy of them is caught.
5. Smoke: every workload completes on a tiny corpus, traced and untraced.

Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check(cond: bool, what: str) -> None:
    if not cond:
        print(f"selftest FAILED: {what}", file=sys.stderr)
        sys.exit(1)
    print(f"ok  {what}")


def test_names() -> None:
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    check(all(NAME.fullmatch(n) for n in names), "every name matches [A-Za-z0-9_.-]+")
    check(len(names) == len(set(names)), "names are unique")
    check(all(w["name"] in run.WORKLOADS for w in spec["workloads"]), "workloads exist in run.py")
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for w in spec["workloads"]:
        check(set(run.E2E_BY_WORKLOAD[w["name"]]) == set(e2e),
              f"{w['name']} reports every end-to-end metric")
    check(e2e == {n: run.E2E_UNITS[n] for n in e2e}, "end-to-end units agree")
    check({m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units(),
          "per-layer metrics and units agree")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    check(bounds["setup_s"] == max(bounds.values()), "setup_s has the largest bound")


def test_mix() -> None:
    from collections import Counter

    from inputs import BLOCK, QUERY_KINDS, TOPK_BLOCK, TOPK_KINDS

    for name, block, kinds in (("interactive", BLOCK, QUERY_KINDS),
                               ("sharded", TOPK_BLOCK, TOPK_KINDS)):
        counts = Counter(block)
        check(len({counts[k] for k in kinds}) == 1, f"{name}: query kinds take equal shares")
        check(counts["empty"] * 10 == len(block), f"{name}: one op in ten is empty")
        check(set(block) == set(kinds) | {"empty"}, f"{name}: no other kind in the mix")


def test_compare() -> None:
    from reference import compare

    want = [(5, 3.0), (2, 2.0), (7, 2.0), (1, 1.0), (4, 1.0), (9, 1.0)]
    check(compare([(1, 5, 3.0), (2, 2, 2.0), (3, 7, 2.0)], want, 3) is None, "exact top-3")
    check(compare([(1, 5, 3.0), (2, 7, 2.0), (3, 2, 2.0)], want, 3) is None, "tie is a set")
    check(compare([(1, 5, 3.0), (2, 2, 2.0), (3, 7, 2.0), (4, 9, 1.0)], want, 4) is None,
          "tie cut by k is a subset")
    check(compare([(1, 5, 3.0), (2, 2, 2.0), (3, 7, 2.0), (4, 8, 1.0)], want, 4) is not None,
          "a doc outside the cut tie is caught")
    check(compare([(1, 5, 3.0), (2, 2, 2.0)], want, 3) is not None, "a missing row is caught")
    check(compare([(1, 5, 3.0 * (1 + 1e-8)), (2, 2, 2.0), (3, 7, 2.0)], want, 3) is not None,
          "a score off by 1e-8 relative is caught")


def test_inputs_and_gate(work: str) -> None:
    import numpy as np
    from inputs import make_ops, read_postings, shape, shapes, write_corpus
    from reference import Reference, compare
    from spark_env import box, start_session, stop_session

    from searchengine_spark.config import EngineConfig
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.query.engine import SearchEngine

    sizing = box()
    spark = start_session(sizing, work, ROOT)
    try:
        parts = sizing["shuffle_partitions"]
        runs = {}
        for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
            corpus = write_corpus(spark, 400, seed, os.path.join(work, f"c{tag}"), parts)
            postings: dict[str, list] = {}
            for i, (_docno, toks) in enumerate(corpus["tokens"]):
                for t in set(toks):
                    postings.setdefault(t, []).append(i)
            postings = {t: np.array(v) for t, v in postings.items()}
            runs[tag] = (corpus, make_ops(seed, postings, corpus["tokens"], 400, 60))
            if tag == "a":
                warm = make_ops(seed, postings, corpus["tokens"], 400, 60, salt="warm")
                postings_a = postings
        check(runs["a"][0]["hash"] == runs["b"][0]["hash"], "same seed, same corpus hash")
        check(runs["a"][1] == runs["b"][1], "same seed, same op list")
        check(runs["a"][0]["hash"] != runs["c"][0]["hash"], "other seed, other corpus hash")
        check(runs["a"][1] != runs["c"][1], "other seed, other op list")
        check(warm != runs["a"][1], "warm-up ops are not the timed ops")
        drawn = make_ops(5, postings_a, runs["a"][0]["tokens"], 400, 1000)
        check({shape(op) for op in drawn} == shapes(),
              "the stream draws exactly the shapes warm-up covers")

        index = os.path.join(work, "index")
        cfg = EngineConfig(positions=True, shuffle_partitions=parts)
        build_index(spark, spark.read.parquet(os.path.join(work, "ca")), index, cfg,
                    resume=False)
        engine = SearchEngine(spark, index)
        ops = make_ops(5, read_postings([index]), runs["a"][0]["tokens"], 400, 20)
        reference = Reference([index], engine.stats, cfg, os.path.join(work, "ca"))
        clean = caught = 0
        for op in ops:
            df = (engine.phrase_search(op["text"], k=op["k"]) if op["phrase"] else
                  engine.search(op["text"], k=op["k"], mode=op["mode"],
                                scorer=op["scorer"], algo=op["algo"]))
            rows = [(r[0], r[1], r[2]) for r in df.collect()]
            want = reference.ranked(op)
            clean += compare(rows, want, op["k"]) is None
            if not rows:
                continue
            bad_score = list(rows)
            r, d, s = bad_score[0]
            bad_score[0] = (r, d, s * (1 + 1e-6))
            bad_doc = list(rows)
            bad_doc[-1] = (rows[-1][0], -1, rows[-1][2])
            bad_len = rows[:-1]
            caught += all(compare(bad, want, op["k"]) is not None
                          for bad in (bad_score, bad_doc, bad_len))
        n_rows = sum(1 for op in ops if reference.ranked(op))
        check(clean == len(ops), f"engine rows match the reference on {len(ops)} ops")
        check(caught == n_rows, f"every corrupted copy is caught ({caught} ops)")
    finally:
        stop_session(spark)


def test_smoke() -> None:
    import run

    for i, workload in enumerate(run.WORKLOADS):
        for trace in (0, 1) if workload in ("interactive", "sharded") else (i % 2,):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "3", "--seconds", "1", "--trace", str(trace), "--docs", "400"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            ok = p.returncode == 0
            if ok:
                result = json.loads(p.stdout.strip().splitlines()[-1])
                expect = (run.per_layer_units() if trace
                          else run.E2E_BY_WORKLOAD[workload])
                ok = (result["correct"] and result["failed"] == 0
                      and set(result["metrics"]) == set(expect))
            if not ok:
                sys.stderr.write(p.stderr[-4000:])
            check(ok, f"smoke run {workload} trace={trace}")


def main() -> int:
    sys.path.insert(0, ROOT)
    test_names()
    test_mix()
    test_compare()
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        test_inputs_and_gate(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    test_smoke()
    return 0


if __name__ == "__main__":
    sys.exit(main())
