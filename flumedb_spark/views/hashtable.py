"""flumeview-hashtable — unique-key → latest-record lookup
(`README.md:96`: "ideal when you have uniqueish keys and do not need
range queries").

Spark-first: state is a ``(key, seq, value)`` snapshot table holding the
latest record per key — the ``max_by(value, seq)`` idiom (SURVEY §2.B
V5). Each fold runs ONE native aggregate over the prior snapshot unioned
with the keyed batch (map-side combine, full parallelism, one hash
exchange): ``max``/``max_by`` over seq are associative, so this equals
merging a per-batch latest into the snapshot. It writes a new snapshot
dir; the meta points at the live snapshot so the swap is atomic.

A point ``get`` reads the snapshot in the driver through Arrow with a
key filter, an in-process lookup like the reference's hash map: it
starts no Spark job. Scans (``keys``, ``df_snapshot``) and folds stay
on Spark. Snapshot dirs are immutable and a replaced one is deleted
only after the retention window, so a reader never sees a torn one.

At 100 TB the snapshot is hash-partitioned by key and the merge is a
per-partition upsert (MERGE INTO on Delta); point gets prune to one
partition, hot lookup sets broadcast.
"""

from __future__ import annotations

import os
import uuid
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..log import read_parquet_where
from .base import FlumeView


class Hashtable(FlumeView):
    """``Hashtable(version, key_fn | key_expr)`` — latest value per key.

    ``keep="first"`` flips the merge to min_by(seq) — first-writer-wins
    — which makes the view an INCREMENTAL exact-dedup keeper table
    (key = content hash, value = the kept record): the streaming twin
    of ``dedup.exact_dup_groups``, maintained by the engine's ordinary
    catch-up loop. Changing ``keep`` changes the state's meaning —
    encode it in ``version`` so stale snapshots rebuild.
    """

    METHODS = {"get": "async", "keys": "async", "df_snapshot": "source"}

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

    def _load_state(self) -> None:
        self._meta.setdefault("snapshot", None)

    def _reset_state(self) -> None:
        self._meta["snapshot"] = None

    def _snap_df(self) -> DataFrame | None:
        snap = self._meta.get("snapshot")
        if snap is None:
            return None
        return self.spark.read.parquet(os.path.join(self.path, snap))

    def _batch_keys(self, batch: DataFrame) -> DataFrame:
        if self.key_expr is not None:
            keyed = batch.select(F.expr(self.key_expr).alias("key"), "seq", "value")
        else:
            key_fn = self.key_fn
            decode = self._engine.log.codec.decode

            def run(it):
                for pdf in it:
                    yield pd.DataFrame(
                        {
                            "key": [str(key_fn(decode(v))) for v in pdf["value"]],
                            "seq": pdf["seq"],
                            "value": pdf["value"],
                        }
                    )

            keyed = batch.select("seq", "value").mapInPandas(run, "key string, seq long, value string")
        return keyed.select(F.col("key").cast(self.key_type).alias("key"), "seq", "value")

    def _latest(self, df: DataFrame) -> DataFrame:
        if self.keep == "first":
            return df.groupBy("key").agg(
                F.min("seq").alias("seq"), F.min_by("value", "seq").alias("value")
            )
        return df.groupBy("key").agg(
            F.max("seq").alias("seq"), F.max_by("value", "seq").alias("value")
        )

    def _merged(self, batch: DataFrame) -> DataFrame:
        keyed = self._batch_keys(batch)
        prev = self._snap_df()
        return self._latest(prev.unionByName(keyed) if prev is not None else keyed)

    def fold(self, batch: DataFrame, upto: int) -> None:
        snap = f"snapshot-{upto:012d}-{uuid.uuid4().hex[:8]}"
        self._merged(batch).write.mode("overwrite").parquet(os.path.join(self.path, snap))
        old = self._meta.get("snapshot")
        self._meta["snapshot"] = snap
        # retention-gated: a concurrent reader (or a lazy df_snapshot
        # handed to a caller) may still be scanning the old snapshot —
        # immediate rmtree raced it with FileNotFound (r4 review)
        if old:
            self.defer_delete(old)
        self.collect_garbage()
        self.commit(upto)

    # ---- reads ---------------------------------------------------------
    def get(self, key: Any) -> Any:
        snap = self._meta.get("snapshot")
        if snap is None:
            return None
        rows = read_parquet_where([os.path.join(self.path, snap)], "key", [key], ("value",))
        if not rows.num_rows:
            return None
        return self._engine.log.codec.decode(rows["value"][0].as_py())

    def keys(self) -> list:
        snap = self._snap_df()
        if snap is None:
            return []
        return [r.key for r in snap.select("key").orderBy("key").collect()]

    def df_snapshot(self) -> DataFrame:
        snap = self._snap_df()
        if snap is None:
            return self.spark.createDataFrame([], f"key {self.key_type}, seq long, value string")
        return snap
