"""Correctness gate: a DuckDB top-k reference computed from the built
index's ``tf`` table and collection stats, plus the source text for
phrases, and a tie-aware comparison against the engine's rows.

The reference shares no code with the engine: BM25 (the reference's
formula without the (k1+1) factor), TF-IDF and idf = log10(n_docs / df)
are written out in SQL, df is counted from ``tf``, and phrase
frequencies are counted on the source documents' token lists.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

REL_TOL = 1e-9


def close(a: float, b: float, rel: float = REL_TOL, abs_tol: float = 1e-15) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b)) + abs_tol


class Reference:
    def __init__(self, index_dirs: list[str], stats: dict, config, corpus_dir: str):
        self.n_docs = float(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        self.k1, self.b = float(config.k1), float(config.b)
        self.con = duckdb.connect()
        tf = [os.path.join(d, "tf", "*.parquet") for d in index_dirs]
        doct = [os.path.join(d, "doctable", "*.parquet") for d in index_dirs]
        self.con.execute(
            "CREATE TABLE tf AS SELECT term, doc_id, tf::DOUBLE AS tf,"
            " doc_len::DOUBLE AS doc_len FROM read_parquet(?)",
            [tf],
        )
        self.con.execute(
            "CREATE TABLE df AS SELECT term, count(*)::DOUBLE AS df"
            " FROM tf GROUP BY term"
        )
        self.con.execute(
            "CREATE TABLE docs AS SELECT d.doc_id, d.docno,"
            " d.doc_len::DOUBLE AS doc_len,"
            " string_split(s.content, ' ') AS toks"
            " FROM read_parquet(?) d JOIN read_parquet(?) s"
            " ON d.docno = s.repo || '/' || s.path",
            [doct, os.path.join(corpus_dir, "*.parquet")],
        )

    def _bm25_partial(self, tf: str, dl: str) -> str:
        return (
            f"{tf} / ({self.k1!r} * ((1.0 - {self.b!r}) + {self.b!r} * {dl}"
            f" / {self.avgdl!r}) + {tf})"
        )

    def docno_to_id(self) -> dict[str, int]:
        return dict(self.con.execute("SELECT docno, doc_id FROM docs").fetchall())

    def ranked(self, op: dict) -> list[tuple[int, float]]:
        """Every matching (doc_id, score), score desc then doc_id asc."""
        if op["phrase"]:
            return self._phrase(op["terms"])
        partial = (
            self._bm25_partial("t.tf", "t.doc_len")
            if op["scorer"] == "bm25"
            else "(1.0 + log10(t.tf))"
        )
        known = self.con.execute(
            "SELECT count(*) FROM df WHERE list_contains(?, term)", [op["terms"]]
        ).fetchone()[0]
        having = f"HAVING count(*) = {known}" if op["mode"] == "conjunctive" else ""
        rows = self.con.execute(
            f"SELECT t.doc_id, sum({partial} * log10({self.n_docs!r} / f.df)) AS s"
            " FROM tf t JOIN df f USING (term)"
            f" WHERE list_contains(?, t.term) GROUP BY t.doc_id {having}",
            [op["terms"]],
        ).fetchall()
        return sorted(rows, key=lambda r: (-r[1], r[0]))

    def _phrase(self, terms: list[str]) -> list[tuple[int, float]]:
        cond = " AND ".join(f"toks[i + {j}] = ?" for j in range(len(terms)))
        rows = self.con.execute(
            "SELECT doc_id, doc_len, ptf FROM (SELECT doc_id, doc_len,"
            f" len(list_filter(range(1, len(toks) - {len(terms) - 2}),"
            f" i -> {cond}))::DOUBLE AS ptf FROM docs) WHERE ptf > 0",
            terms,
        ).fetchall()
        if not rows:
            return []
        idf = math.log10(self.n_docs / len(rows))
        k1, b, avgdl = self.k1, self.b, self.avgdl
        scored = [
            (doc, ptf / (k1 * ((1.0 - b) + b * dl / avgdl) + ptf) * idf)
            for doc, dl, ptf in rows
        ]
        return sorted(scored, key=lambda r: (-r[1], r[0]))


def compare(
    got: list[tuple],
    want: list[tuple[int, float]],
    k: int,
    rel: float = REL_TOL,
    abs_tol: float = 1e-15,
):
    """None when the engine's rows (rank, doc_id, score) are the top k of
    ``want``, else a description of the first difference. Ranks and scores
    must match position by position; docs whose scores tie within the
    tolerance are compared as sets, and a tie group cut by k only has to
    be a subset of the tied docs."""
    n = min(k, len(want))
    if len(got) != n:
        return f"{len(got)} rows, expected {n}"
    for i, (rank, _doc, score) in enumerate(got):
        if rank != i + 1:
            return f"row {i}: rank {rank}"
        if not close(score, want[i][1], rel, abs_tol):
            return f"rank {i + 1}: score {score!r}, expected {want[i][1]!r}"
    i = 0
    while i < n:
        j = i
        while j + 1 < n and close(got[j + 1][2], got[i][2], rel, abs_tol):
            j += 1
        mine = {d for _r, d, _s in got[i : j + 1]}
        if j == n - 1:
            pool = {d for d, s in want[i:] if close(s, got[i][2], rel, abs_tol)}
            ok = mine <= pool
        else:
            ok = mine == {d for d, _s in want[i : j + 1]}
        if not ok:
            return f"ranks {i + 1}-{j + 1}: docs {sorted(mine)} differ from the reference"
        i = j + 1
    return None


def topk_hash(results: dict[int, list[tuple]]) -> str:
    """sha256 over every checked op's rows, in op-id order."""
    h = hashlib.sha256()
    for op_id in sorted(results):
        h.update(f"{op_id}:".encode())
        for rank, doc, score in results[op_id]:
            h.update(f"{rank},{doc},{score!r};".encode())
    return h.hexdigest()
