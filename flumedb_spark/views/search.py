"""flumeview-search — full-text search view (`README.md:95`).

Spark-first: an inverted index ``(token, seq)`` maintained exactly like
the Level index (manifest-committed Parquet appends, exactly-once).
Tokenization is fully JVM-side: ``explode(split(lower(text), '\\W+'))``
— no Python in the hot path. A query AND-intersects the posting lists
(semi-joins, smallest list first by construction of the group-count
filter) and joins back to the log on ``seq``.

At 100 TB: posting lists are bucketed by token so a query prunes to the
matched buckets; the final join-back broadcasts the (small) matched seq
set into the log scan.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import FlumeView

TOKEN_PATTERN = "[^a-z0-9]+"


def tokens_expr(col):
    """lowercased word tokens of a string column (shared with the oracle
    contract: a token matches iff it appears as a whole word)."""
    return F.array_remove(F.split(F.lower(col), TOKEN_PATTERN), "")


class Search(FlumeView):
    """``Search(version, text_field='text')`` — inverted token index over a
    JSON field of the log value."""

    METHODS = {"query": "async", "query_df": "source"}

    def __init__(self, version: Any, text_field: str = "text"):
        super().__init__(version)
        self.text_field = text_field

    def _data_dir(self) -> str:
        return os.path.join(self.path, "idx")

    def _load_state(self) -> None:
        self._meta.setdefault("files", [])
        os.makedirs(self._data_dir(), exist_ok=True)

    def _reset_state(self) -> None:
        self._meta["files"] = []
        os.makedirs(self._data_dir(), exist_ok=True)

    def fold(self, batch: DataFrame, upto: int) -> None:
        text = F.get_json_object(F.col("value"), f"$.{self.text_field}")
        posting = (
            batch.select("seq", F.explode(tokens_expr(text)).alias("token"))
            .distinct()  # one posting per (token, doc)
        )
        from .base import write_fold_file

        fname = write_fold_file(self, posting, upto, self._data_dir())
        if fname is not None:
            self._meta["files"] = self._meta.get("files", []) + [fname]
        self.commit(upto)

    def df(self) -> DataFrame:
        files = [os.path.join(self._data_dir(), f) for f in self._meta.get("files", [])]
        if not files:
            return self.spark.createDataFrame([], "token string, seq long")
        return self.spark.read.parquet(*files)

    def query_df(self, terms: list[str] | str) -> DataFrame:
        """Seqs of records containing ALL terms (AND semantics).

        Query terms go through the SAME tokenizer as indexing and are
        deduplicated: the index stores tokens split on ``TOKEN_PATTERN``,
        so a raw term with punctuation ("don't") or a repeated term
        could otherwise never satisfy countDistinct == len(terms).
        """
        if isinstance(terms, str):
            terms = [terms]
        norm = re.split(TOKEN_PATTERN, " ".join(terms).lower())
        terms = sorted({t for t in norm if t})
        idx = self.df().where(F.col("token").isin(terms))
        hits = (
            idx.groupBy("seq")
            .agg(F.countDistinct("token").alias("n"))
            .where(F.col("n") == F.lit(len(terms)))
            .select("seq")
        )
        log_df = self._engine._mapped(self._engine.log.df(self.spark))
        # matched seq set is small relative to the log => broadcast it
        return log_df.join(F.broadcast(hits), "seq").orderBy("seq")

    def query(self, terms: list[str] | str) -> list[dict]:
        decode = self._engine.log.codec.decode
        rows = self.query_df(terms).select("seq", "value").collect()
        return [{"seq": r.seq, "value": decode(r.value)} for r in rows]
