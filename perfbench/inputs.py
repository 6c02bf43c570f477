"""Seeded inputs: the Zipf corpus and the query streams drawn from the
built lexicon. The same seed gives the same corpus and the same ops.

Query terms are sampled by document-frequency band of the built index:

* common: df >= 10% of the documents;
* mid:    1% <= df < 10%;
* rare:   2 <= df < 1%.

The traffic is assumed, not measured: no query log of this engine's users
exists, and the reference's TREC DL 2020 query file is not shipped with
the repository. So the mix is the simplest neutral one. Interactive ops
come in blocks of 50 in a fixed interleaved order: the five query kinds
(BM25 DAAT, MaxScore, conjunctive, TF-IDF, phrase) take equal shares, 9
each, and every tenth op is one that returns no rows (10%). A top-k query
has 2, 3 or 4 distinct terms with equal chance, each from a band picked
with equal chance; a conjunction has 2 or 3 mid/common terms that share a
document; a phrase is 2 or 3 consecutive tokens of a random document. An
empty op rotates through all-unknown terms, a conjunction of two terms
with disjoint posting lists and a phrase of two such terms.

Ops come from an endless stream, so a timed window never repeats an op
however fast the engine gets; warm-up ops come from a stream of their own.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random

import numpy as np
import pyarrow.parquet as pq

CORPUS = {"vocab_size": 50_000, "avg_tokens": 120}

TOPK_KINDS = ("bm25", "maxscore", "conj", "tfidf")
QUERY_KINDS = TOPK_KINDS + ("phrase",)
KINDS = QUERY_KINDS + ("empty",)
# 45 query ops, 9 of each kind in turn, and an empty op every tenth place
BLOCK = tuple(
    "empty" if i % 10 == 9 else QUERY_KINDS[(i - i // 10) % len(QUERY_KINDS)]
    for i in range(50)
)
# the sharded workload: the four top-k kinds in equal shares, 9 each, and
# every tenth op empty, as on interactive
TOPK_BLOCK = tuple(
    "empty" if i % 10 == 9 else TOPK_KINDS[(i - i // 10) % len(TOPK_KINDS)]
    for i in range(40)
)
K = 10
# term counts a top-k query, a conjunction and a phrase draw from
TOPK_LENGTHS = (2, 3, 4)
CONJ_LENGTHS = (2, 3)
PHRASE_LENGTHS = (2, 3)
EMPTY_SHAPES = ("unknown", "conj", "phrase")


def shape(op: dict) -> tuple:
    """What decides an op's query plan: kind, mode, phrase or not, and
    term count."""
    return (op["kind"], op["mode"], op["phrase"], len(op["terms"]))


def shapes(block: tuple = BLOCK) -> set[tuple]:
    """Every shape the stream for ``block`` draws."""
    out = set()
    for kind in set(block):
        if kind in ("bm25", "maxscore", "tfidf"):
            out |= {(kind, "disjunctive", False, n) for n in TOPK_LENGTHS}
        elif kind == "conj":
            out |= {(kind, "conjunctive", False, n) for n in CONJ_LENGTHS}
        elif kind == "phrase":
            out |= {(kind, "disjunctive", True, n) for n in PHRASE_LENGTHS}
        else:
            out |= {("empty", "disjunctive", False, 2), ("empty", "conjunctive", False, 2),
                    ("empty", "disjunctive", True, 2)}
    return out


def write_corpus(spark, n_docs: int, seed: int, out_dir: str, partitions: int) -> dict:
    """Materialize ``zipf_corpus(seed)`` as parquet (the engine then reads
    a real file source, as a user's build does) and describe it: docs,
    content bytes, a content hash and the (docno, tokens) list phrases are
    sampled from."""
    from searchengine_spark.sources.synth import zipf_corpus

    zipf_corpus(
        spark, n_docs, seed=seed, num_partitions=partitions, **CORPUS
    ).write.parquet(out_dir)
    tbl = pq.read_table(out_dir, columns=["repo", "path", "commit", "content"])
    rows = sorted(
        zip(
            tbl["repo"].to_pylist(),
            tbl["path"].to_pylist(),
            tbl["commit"].to_pylist(),
            tbl["content"].to_pylist(),
        )
    )
    h = hashlib.sha256()
    n_bytes = 0
    docs = []
    for repo, path, commit, content in rows:
        h.update(f"{path}\t{commit}\n".encode())
        n_bytes += len(content.encode())
        docs.append((f"{repo}/{path}", content.split(" ")))
    return {"docs": len(rows), "bytes": n_bytes, "hash": h.hexdigest(), "tokens": docs}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def read_postings(index_dirs: list[str]) -> dict[str, np.ndarray]:
    """term -> sorted doc ids, from the built ``tf`` table(s) — the
    global df of a term is the length of its array."""
    terms, docs = [], []
    for d in index_dirs:
        t = pq.read_table(os.path.join(d, "tf"), columns=["term", "doc_id"])
        terms.append(t["term"].to_numpy(zero_copy_only=False))
        docs.append(t["doc_id"].to_numpy())
    terms = np.concatenate(terms)
    docs = np.concatenate(docs)
    order = np.lexsort((docs, terms))
    terms, docs = terms[order], docs[order]
    cuts = np.flatnonzero(terms[1:] != terms[:-1]) + 1
    starts = np.concatenate([[0], cuts])
    ends = np.concatenate([cuts, [len(terms)]])
    return {str(terms[s]): docs[s:e] for s, e in zip(starts, ends)}


def df_bands(postings: dict[str, np.ndarray], n_docs: int) -> dict[str, list[str]]:
    bands = {"common": [], "mid": [], "rare": []}
    for term in sorted(postings):
        df = len(postings[term])
        if df >= 0.10 * n_docs:
            bands["common"].append(term)
        elif df >= 0.01 * n_docs:
            bands["mid"].append(term)
        elif df >= 2:
            bands["rare"].append(term)
    for name, terms in bands.items():
        if len(terms) < 4:
            raise ValueError(f"corpus too small: {len(terms)} {name} terms")
    return bands


def op_stream(
    seed: int,
    postings: dict[str, np.ndarray],
    docs: list[tuple[str, list[str]]],
    n_docs: int,
    block: tuple = BLOCK,
    salt: str = "ops",
):
    """The endless seeded op stream: kinds cycle through ``block`` (see
    module docstring). Ops get ids 0, 1, 2, ... in stream order."""
    rng = random.Random(f"{salt}-{seed}")
    bands = df_bands(postings, n_docs)
    n_empty = 0
    for i in itertools.count():
        kind = block[i % len(block)]
        op = {"id": i, "kind": kind, "mode": "disjunctive", "scorer": "bm25",
              "algo": "daat", "phrase": False, "k": K}
        if kind in ("bm25", "maxscore", "tfidf"):
            terms = _topk_terms(rng, bands)
            op["algo"] = "maxscore" if kind == "maxscore" else "daat"
            op["scorer"] = "tfidf" if kind == "tfidf" else "bm25"
        elif kind == "conj":
            op["mode"] = "conjunctive"
            terms = _conjunction(rng, bands, postings)
        elif kind == "phrase":
            op["phrase"] = True
            terms = _phrase(rng, docs)
        else:
            empty_shape = EMPTY_SHAPES[n_empty % len(EMPTY_SHAPES)]
            n_empty += 1
            terms = _empty(rng, empty_shape, op, bands, postings)
        op["terms"] = terms
        op["text"] = " ".join(terms)
        yield op


def make_ops(seed, postings, docs, n_docs, n_ops, block=BLOCK, salt="ops") -> list[dict]:
    """The first ``n_ops`` ops of the stream."""
    return list(itertools.islice(
        op_stream(seed, postings, docs, n_docs, block, salt), n_ops
    ))


def _topk_terms(rng, bands) -> list[str]:
    """2-4 distinct terms, each from a band picked with equal chance."""
    terms: list[str] = []
    n = rng.choice(TOPK_LENGTHS)
    while len(terms) < n:
        t = rng.choice(bands[rng.choice(("rare", "mid", "common"))])
        if t not in terms:
            terms.append(t)
    return terms


def _conjunction(rng, bands, postings) -> list[str]:
    """2-3 terms, each from the mid or the common band with equal chance,
    whose posting lists intersect."""
    while True:
        n = rng.choice(CONJ_LENGTHS)
        terms = [rng.choice(bands[rng.choice(("mid", "common"))]) for _ in range(n)]
        if len(set(terms)) != n:
            continue
        common = postings[terms[0]]
        for t in terms[1:]:
            common = np.intersect1d(common, postings[t], assume_unique=True)
        if common.size:
            return terms


def _phrase(rng, docs) -> list[str]:
    """2-3 consecutive tokens of a random document."""
    while True:
        _docno, toks = rng.choice(docs)
        length = rng.choice(PHRASE_LENGTHS)
        if len(toks) < length:
            continue
        start = rng.randrange(len(toks) - length + 1)
        return toks[start : start + length]


def _empty(rng, shape, op, bands, postings) -> list[str]:
    """An op of the given shape that matches no document."""
    if shape == "unknown":
        return [f"zq{rng.randrange(10**6)}x", f"zq{rng.randrange(10**6)}y"]
    while True:
        a, b = rng.sample(bands["rare"], 2)
        if np.intersect1d(postings[a], postings[b]).size == 0:
            break
    if shape == "conj":
        op["mode"] = "conjunctive"
    else:
        op["phrase"] = True
    return [a, b]


def make_batch(
    seed: int, postings: dict[str, np.ndarray], n_docs: int, n_queries: int
) -> list[tuple[str, str]]:
    """(query_id, text) pairs of mixed selectivity, shaped like the
    interactive top-k queries."""
    rng = random.Random(f"batch-{seed}")
    bands = df_bands(postings, n_docs)
    return [(f"q{i:05d}", " ".join(_topk_terms(rng, bands))) for i in range(n_queries)]
