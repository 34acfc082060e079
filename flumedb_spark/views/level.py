"""flumeview-level — the secondary index view (`README.md:93`;
map-to-keys contract `test/rebuild.js:25-32`: the user fn returns an
ARRAY of index keys per record, so one record may index under many keys;
the index stores seq pointers and resolves back through the log —
normalized views, `README.md:13-15`).

Spark-first: the index is a ``(key, seq)`` table kept as sorted runs
(:class:`~.base.RunView`). Its merge is the union: a record indexed
twice under one key stays twice, so the index never takes ``distinct``.
Each fold explodes the batch's keys and appends one key-sorted run;
the run list lives in the view's meta (a mini manifest — the same
commit shape Delta uses), so a retried fold never double-indexes
(exactly-once, SURVEY §7.4.2). A point ``get`` reads Parquet in the
driver through Arrow: the runs whose key range holds the key, then the
log's rows for the matched seqs (``ParquetLog.read_seqs``), so it starts
no Spark job. A small fold explodes its keys in the driver and writes
its run with pyarrow; large folds and key ranges (``read``) stay on
Spark: an index scan + a join back to the log on ``seq``. The reference's charwise
order-preserving key encoding is unnecessary because the index column
keeps its native type and sorts natively (SURVEY §2.B V2).

At 100 TB: runs are appended per batch and merged by ``compact()``;
the range join-back broadcasts the matched seq set when small and
sort-merges on ``seq`` otherwise.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import RunView


def _index_keys(key_fn, decode, seqs, values) -> tuple[list, list]:
    """``key_fn`` over each record: the ``(seq, key)`` pairs as two
    lists, one pair per returned key, keys as strings. Both fold paths
    run it: the Spark fold in ``mapInPandas``, the driver fold on the
    collected batch."""
    out_seqs, keys = [], []
    for s, v in zip(seqs, values):
        ks = key_fn(decode(v))
        if isinstance(ks, (str, bytes)):
            raise TypeError(
                f"Level key_fn must return a list of keys, got {type(ks).__name__} {ks!r}"
            )
        for k in ks or []:
            out_seqs.append(s)
            keys.append(str(k))
    return out_seqs, keys


class Level(RunView):
    """``Level(version, key_fn, key_type='string')`` — inverted key→seq index.

    ``key_fn(value) -> list[key]`` (arbitrary Python, run executor-side
    via Arrow batches, or in the driver for a small fold), or pass ``key_expr=`` a Spark SQL expression
    string evaluating to ``array<key_type>`` over the JSON ``value``
    column for the fully-JVM fast path.
    """

    METHODS = {"get": "async", "read": "source"}
    RUN_SCHEMA = "key {key_type}, seq long"

    def __init__(
        self,
        version: Any,
        key_fn: Callable[[Any], list] | None = None,
        key_type: str = "string",
        key_expr: str | None = None,
    ):
        super().__init__(version)
        if (key_fn is None) == (key_expr is None):
            raise ValueError("exactly one of key_fn / key_expr required")
        self.key_fn = key_fn
        self.key_expr = key_expr
        self.key_type = key_type

    def _keys_df(self, batch: DataFrame) -> DataFrame:
        if self.key_expr is not None:
            exploded = batch.select(
                F.col("seq"), F.explode(F.expr(self.key_expr)).alias("key")
            )
        else:
            key_fn = self.key_fn
            decode = self._engine.log.codec.decode

            def run(it):
                for pdf in it:
                    seqs, keys = _index_keys(key_fn, decode, pdf["seq"], pdf["value"])
                    yield pd.DataFrame({"seq": pd.Series(seqs, dtype="int64"), "key": keys})

            exploded = batch.select("seq", "value").mapInPandas(run, "seq long, key string")
        return exploded.select(F.col("key").cast(self.key_type).alias("key"), "seq")

    def _local_keys(self, batch: DataFrame) -> pa.Table:
        """The driver fold's run: keys cast to ``array<key_type>`` in one
        projection and exploded in Python, or ``key_fn`` run in the
        driver and its keys cast by Spark."""
        if self.key_expr is not None:
            keys = F.expr(self.key_expr).cast(f"array<{self.key_type}>")
            rows = batch.select("seq", keys.alias("keys")).collect()
            return self.run_table([(k, r.seq) for r in rows for k in r["keys"] or ()])
        rows = batch.select("seq", "value").collect()
        seqs, keys = _index_keys(
            self.key_fn, self._engine.log.codec.decode, [r.seq for r in rows], [r.value for r in rows]
        )
        return self.run_table(
            self.cast_keys(key=pa.array(keys, pa.string()), seq=pa.array(seqs, pa.int64()))
        )

    def fold(self, batch: DataFrame, upto: int) -> None:
        keys = self._local_keys(batch) if batch.isLocal() else self._keys_df(batch)
        self.append_run(keys, upto)
        self.commit(upto)

    # ---- reads ---------------------------------------------------------
    def df(self) -> DataFrame:
        return self.runs_df()

    def _join_back(self, idx: DataFrame) -> DataFrame:
        # the filtered index side (a point get or key range) is tiny
        # relative to the log: broadcast it EXPLICITLY, same as
        # search.py's join-back — relying on AQE's runtime conversion
        # leaves a point lookup as a full sort-merge shuffle of the log
        # whenever pre-filter stats mislead (r4 VERDICT #2; reference
        # contract test/rebuild.js:38,48 — point gets are O(lookup))
        log_df = self._engine._mapped(self._engine.log.df(self.spark))
        return log_df.join(F.broadcast(idx), "seq").select(
            "seq", *[c for c in idx.columns if c != "seq"], *[
                c for c in log_df.columns if c != "seq"
            ]
        )

    def get(self, key: Any) -> list[dict]:
        """Point lookup: all log records indexed under ``key``, seq order
        (`test/rebuild.js:38,48`). Both halves are driver-side Arrow reads
        (no Spark job): the runs whose range holds ``key``, then the
        log's committed rows for the matched seqs."""
        engine = self._engine
        hits = self.read_runs(key, ("key", "seq")).to_pylist()
        fetched = engine._map_rows(engine.log.read_seqs({h["seq"] for h in hits}))
        values = {r["seq"]: r["value"] for r in fetched}
        # the join back on seq: a record indexed twice under ``key``
        # comes back twice, a redacted seq drops out
        rows = sorted((h for h in hits if h["seq"] in values), key=lambda h: h["seq"])
        decode = engine.log.codec.decode
        return [{"seq": h["seq"], "key": h["key"], "value": decode(values[h["seq"]])} for h in rows]

    def read(
        self,
        gte: Any = None,
        lt: Any = None,
        gt: Any = None,
        lte: Any = None,
        limit: int | None = None,
        reverse: bool = False,
        values: bool = True,
    ) -> DataFrame:
        """Ordered key-range scan (charwise-range analog)."""
        idx = self.df()
        if gte is not None:
            idx = idx.where(F.col("key") >= F.lit(gte))
        if gt is not None:
            idx = idx.where(F.col("key") > F.lit(gt))
        if lt is not None:
            idx = idx.where(F.col("key") < F.lit(lt))
        if lte is not None:
            idx = idx.where(F.col("key") <= F.lit(lte))
        order = [F.col("key").desc(), F.col("seq").desc()] if reverse else [F.col("key"), F.col("seq")]
        out = self._join_back(idx) if values else idx
        out = out.orderBy(*order)
        return out.limit(int(limit)) if limit is not None else out
