"""flumeview-hashtable — unique-key → latest-record lookup
(`README.md:96`: "ideal when you have uniqueish keys and do not need
range queries").

Spark-first: state is a ``(key, seq, value)`` table kept as sorted runs
(:class:`~.base.RunView`). The merge is ``max_by(value, seq)`` per key
(SURVEY §2.B V5), or ``min_by`` for ``keep="first"``; both are
associative, so merging per-batch latests equals the latest over the
whole log. A fold applies the merge to the keyed batch only and appends
one key-sorted run: it writes O(batch), never the history.

A point ``get`` reads, in the driver through Arrow, the runs whose key
range holds the key and takes the row with the max (or min) seq, an
in-process lookup like the reference's hash map: it starts no Spark
job. Scans (``keys``, ``df_snapshot``) apply the merge in Spark. Runs
are immutable, and a run replaced by ``compact()`` is deleted only
after the retention window, so a reader never sees a torn one.

At 100 TB the runs are hash-partitioned by key and the merge is a
per-partition upsert (MERGE INTO on Delta); point gets prune to one
partition, hot lookup sets broadcast.
"""

from __future__ import annotations

import os
from typing import Any, Callable

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import RunView


def _record_keys(key_fn, decode, values) -> list[str]:
    """``key_fn`` over each record, as a string key. Both fold paths run
    it: the Spark fold in ``mapInPandas``, the driver fold on the
    collected batch."""
    return [str(key_fn(decode(v))) for v in values]


class Hashtable(RunView):
    """``Hashtable(version, key_fn | key_expr)`` — latest value per key.

    ``keep="first"`` flips the merge to min_by(seq) — first-writer-wins
    — which makes the view an INCREMENTAL exact-dedup keeper table
    (key = content hash, value = the kept record): the streaming twin
    of ``dedup.exact_dup_groups``, maintained by the engine's ordinary
    catch-up loop. Changing ``keep`` changes the state's meaning —
    encode it in ``version`` so stale state rebuilds.
    """

    METHODS = {"get": "async", "keys": "async", "df_snapshot": "source"}
    RUN_SCHEMA = "key {key_type}, seq long, value string"

    def __init__(
        self,
        version: Any,
        key_fn: Callable[[Any], Any] | None = None,
        key_expr: str | None = None,
        key_type: str = "string",
        keep: str = "latest",
    ):
        super().__init__(version)
        if (key_fn is None) == (key_expr is None):
            raise ValueError("exactly one of key_fn / key_expr required")
        if keep not in ("latest", "first"):
            raise ValueError("keep must be 'latest' or 'first'")
        self.key_fn = key_fn
        self.key_expr = key_expr
        self.key_type = key_type
        self.keep = keep

    def _batch_keys(self, batch: DataFrame) -> DataFrame:
        if self.key_expr is not None:
            keyed = batch.select(F.expr(self.key_expr).alias("key"), "seq", "value")
        else:
            key_fn = self.key_fn
            decode = self._engine.log.codec.decode

            def run(it):
                for pdf in it:
                    keys = _record_keys(key_fn, decode, pdf["value"])
                    yield pd.DataFrame({"key": keys, "seq": pdf["seq"], "value": pdf["value"]})

            keyed = batch.select("seq", "value").mapInPandas(run, "key string, seq long, value string")
        return keyed.select(F.col("key").cast(self.key_type).alias("key"), "seq", "value")

    def _merge(self, df: DataFrame) -> DataFrame:
        if self.keep == "first":
            return df.groupBy("key").agg(
                F.min("seq").alias("seq"), F.min_by("value", "seq").alias("value")
            )
        return df.groupBy("key").agg(
            F.max("seq").alias("seq"), F.max_by("value", "seq").alias("value")
        )

    def _local_merged(self, batch: DataFrame) -> pa.Table:
        """The driver fold's run: the keyed batch collected (``key_fn``
        run in the driver, its keys cast by Spark) and merged in Python,
        keeping the row with the max seq per key (min for ``first``)."""
        if self.key_expr is not None:
            key = F.expr(self.key_expr).cast(self.key_type)
            rows = batch.select(key.alias("key"), "seq", "value").collect()
        else:
            rows = batch.select("seq", "value").collect()
            values = [r.value for r in rows]
            rows = self.cast_keys(
                key=pa.array(_record_keys(self.key_fn, self._engine.log.codec.decode, values), pa.string()),
                seq=pa.array([r.seq for r in rows], pa.int64()),
                value=pa.array(values, pa.string()),
            )
        first = self.keep == "first"
        best: dict = {}
        for r in rows:
            cur = best.get(r.key)
            if cur is None or (r.seq < cur.seq if first else r.seq > cur.seq):
                best[r.key] = r
        return self.run_table(best.values())

    def fold(self, batch: DataFrame, upto: int) -> None:
        if batch.isLocal():
            merged = self._local_merged(batch)
        else:
            merged = self._merge(self._batch_keys(batch))
        name = self.append_run(merged, upto)
        if name is not None:
            # the newest run, sized by perfbench/store.py:82 until ROADMAP item 3 drops that read
            self._meta["snapshot"] = os.path.join("runs", name)
        self.commit(upto)

    # ---- reads ---------------------------------------------------------
    def get(self, key: Any) -> Any:
        rows = self.read_runs(key, ("seq", "value")).to_pylist()
        if not rows:
            return None
        pick = min if self.keep == "first" else max
        return self._engine.log.codec.decode(pick(rows, key=lambda r: r["seq"])["value"])

    def keys(self) -> list:
        return [r.key for r in self.runs_df().select("key").distinct().orderBy("key").collect()]

    def df_snapshot(self) -> DataFrame:
        return self._merge(self.runs_df())
