"""SearchResult — the one return type of every top-k and phrase query.

A query answered driver-side (the local fast path, or an empty result
decided before any posting is read) holds its k rows as numpy columns;
``collect()`` then builds ``pyspark.sql.Row`` objects in Python with no
JVM call and no Spark job — the reference answers its interactive
queries from RAM the same way (Query.java:62-72). A query answered by a
distributed plan holds the lazy DataFrame, and every method delegates
to it. ``to_spark()`` is the only place driver rows become a DataFrame.
"""

from __future__ import annotations

import functools
from typing import Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


TOPK = (
    T.StructType().add("rank", "integer").add("doc_id", "long").add("score", "double")
)
PHRASE = T.StructType(TOPK.fields + [T.StructField("phrase_tf", T.IntegerType())])

# simpleString -> (numpy dtype, as Spark's toPandas gives it; SQL literal). Doubles
# ride as CAST('<repr>' AS DOUBLE): repr round-trips IEEE754 exactly and
# parseDouble is correctly rounded, so to_spark() keeps every score bit.
_TYPES = {
    "int": ("int32", str),
    "bigint": ("int64", lambda v: f"{v}L"),
    "double": ("float64", lambda v: f"CAST('{v!r}' AS DOUBLE)"),
    "string": (
        "object",
        lambda v: "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'",
    ),
}


def top_k(parts: Sequence[dict], key: str, k: int) -> dict:
    """Global top-k of per-index column dicts (one per shard, same
    columns): order by (``key`` desc, doc_id asc) — the engine's
    tie-break — keep k, and number them in a ``rank`` column."""
    cols = {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}
    order = np.lexsort((cols["doc_id"], -cols[key]))[:k]
    out = {c: v[order] for c, v in cols.items()}
    out["rank"] = np.arange(1, order.size + 1, dtype=np.int32)
    return out


class SearchResult:
    """Top-k rows of one query. ``route`` says how it was answered:
    ``"local"`` (driver-side numpy scoring), ``"empty"`` (no query term
    can match — decided from the lexicon alone) or ``"distributed"``
    (a lazy Spark plan). Driver rows are numpy columns (``rows`` maps
    each schema column to an array), a distributed result is the
    DataFrame itself."""

    def __init__(
        self,
        spark: SparkSession,
        schema: T.StructType,
        rows: Union[dict, DataFrame, None] = None,
    ):
        self._spark = spark
        self._df = rows if isinstance(rows, DataFrame) else None
        self.route = "distributed"
        if self._df is None:
            self.route = "empty" if rows is None else "local"
            self._schema = schema
            self._cols = {
                f.name: np.asarray(
                    (rows or {}).get(f.name, ()),
                    dtype=_TYPES[f.dataType.simpleString()][0],
                )
                for f in schema
            }

    @property
    def schema(self) -> T.StructType:
        return self._schema if self._df is None else self._df.schema

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self.schema]

    def count(self) -> int:
        return len(self._cols["doc_id"]) if self._df is None else self._df.count()

    def collect(self) -> list[Row]:
        if self._df is not None:
            return self._df.collect()
        make = Row(*self._cols)
        return [make(*vals) for vals in self._values()]

    def toPandas(self) -> pd.DataFrame:
        return pd.DataFrame(self._cols) if self._df is None else self._df.toPandas()

    def to_spark(self) -> DataFrame:
        """The rows as a DataFrame, bit for bit: driver rows become a SQL
        ``VALUES`` LocalRelation (collect() on it runs no job)."""
        if self._df is not None:
            return self._df
        if not self.count():
            return self._spark.createDataFrame([], self._schema)
        lits = [_TYPES[f.dataType.simpleString()][1] for f in self._schema]
        values = ",".join(
            "(" + ", ".join(lit(v) for lit, v in zip(lits, vals)) + ")"
            for vals in self._values()
        )
        return self._spark.sql(
            f"SELECT * FROM VALUES {values} AS t({', '.join(self.columns)})"
        )

    def with_docno(self, engines: Sequence) -> "SearchResult":
        """This result with ``docno`` inserted after ``doc_id``.
        ``engines`` are the index's SearchEngines in shard order (one for
        an unsharded index); doc d lives in shard (d - 1) % len(engines).
        Driver rows read docno with a doc_id-filtered pyarrow scan of only
        the doctables that hold them — no Spark job; a distributed result
        streams the doctables past its broadcast k rows, then re-sorts
        the k rows by rank."""
        fields = list(self.schema)
        at = self.columns.index("doc_id") + 1
        schema = T.StructType(
            fields[:at] + [T.StructField("docno", T.StringType())] + fields[at:]
        )
        if self._df is not None:
            doct = functools.reduce(
                DataFrame.unionByName,
                [e.doctable.select("doc_id", "docno") for e in engines],
            )
            joined = doct.join(F.broadcast(self._df), "doc_id")
            return SearchResult(
                self._spark, schema, joined.select(*schema.names).orderBy("rank")
            )
        import pyarrow.dataset as ds

        ids = self._cols["doc_id"]
        shard = (ids - 1) % len(engines)
        docno = {}
        for i, e in enumerate(engines):
            if (shard == i).any():
                t = e._dataset("doctable").to_table(
                    filter=ds.field("doc_id").isin(ids[shard == i]),
                    columns=["doc_id", "docno"],
                )
                docno.update(zip(t["doc_id"].to_pylist(), t["docno"].to_pylist()))
        # inner join semantics: a doc_id without a doctable row drops out
        keep = np.array([d in docno for d in ids.tolist()], dtype=bool)
        rows = {c: v[keep] for c, v in self._cols.items()}
        rows["docno"] = [docno[d] for d in rows["doc_id"].tolist()]
        out = SearchResult(self._spark, schema, rows)
        out.route = self.route
        return out

    def _values(self):
        return zip(*(c.tolist() for c in self._cols.values()))
