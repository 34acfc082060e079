"""flumeview-search — full-text search view (`README.md:95`).

Spark-first: an inverted index ``(token, seq)`` kept as token-sorted
runs like the Level index (:class:`~.base.RunView`; exactly-once). Its
merge is ``distinct``: one posting per (token, doc).
Tokenization is fully JVM-side: ``explode(split(lower(text), '\\W+'))``
— no Python in the hot path. A query AND-intersects the posting lists
(semi-joins, smallest list first by construction of the group-count
filter) and joins back to the log on ``seq``.

At 100 TB: posting lists are bucketed by token so a query prunes to the
matched buckets; the final join-back broadcasts the (small) matched seq
set into the log scan.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import RunView

TOKEN_PATTERN = "[^a-z0-9]+"


def tokens_expr(col):
    """lowercased word tokens of a string column (shared with the oracle
    contract: a token matches iff it appears as a whole word)."""
    return F.array_remove(F.split(F.lower(col), TOKEN_PATTERN), "")


class Search(RunView):
    """``Search(version, text_field='text')`` — inverted token index over a
    JSON field of the log value."""

    METHODS = {"query": "async", "query_df": "source"}
    KEY = "token"
    RUN_SCHEMA = "seq long, token {key_type}"

    def __init__(self, version: Any, text_field: str = "text"):
        super().__init__(version)
        self.text_field = text_field

    def _merge(self, df: DataFrame) -> DataFrame:
        return df.distinct()

    def fold(self, batch: DataFrame, upto: int) -> None:
        tokens = tokens_expr(F.get_json_object(F.col("value"), f"$.{self.text_field}"))
        if batch.isLocal():
            # driver fold: the token arrays in one projection, exploded
            # and made distinct in Python
            rows = batch.select("seq", tokens.alias("tokens")).collect()
            posting = self.run_table({(r.seq, t) for r in rows for t in r.tokens or ()})
        else:
            posting = self._merge(batch.select("seq", F.explode(tokens).alias("token")))
        self.append_run(posting, upto)
        self.commit(upto)

    def df(self) -> DataFrame:
        # a seq is folded into exactly one run and each run is distinct,
        # so the union of the runs is already merged
        return self.runs_df()

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
