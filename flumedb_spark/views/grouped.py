"""GroupedStats — incrementally-maintained GROUP BY materialized view.

The grouped form of flumeview-reduce (`README.md:92`'s reduce family
generalized per key — the semantics `catalog.py::v1_reduce_grouped`
declares, as a live view instead of a query). Each fold computes the
batch's per-key mergeable partials (count / sum / sum-of-squares /
min / max) with a native Spark aggregate, merges them against the prior
snapshot by key, and swaps the snapshot atomically — the classic
incremental-view-maintenance algebra: only new records are aggregated,
never the history.

At 100 TB: the snapshot is hash-partitioned by key; the merge touches
only partitions containing batch keys (MERGE INTO on Delta); reads are
pruned point/range lookups on the snapshot (``get`` reads it in the
driver through Arrow).
"""

from __future__ import annotations

import math
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..log import read_parquet_where
from .base import FlumeView


class GroupedStats(FlumeView):
    """``GroupedStats(version, key_expr, field)`` — per-key running
    count/sum/mean/stdev/min/max over a numeric JSON field.

    ``get(key)`` -> stats dict or None; ``snapshot()`` -> DataFrame of
    all groups; both gated like any async view method.
    """

    METHODS = {"get": "async", "snapshot": "source", "n_groups": "async"}

    def __init__(self, version: Any, key_expr: str, field: str = "value", key_type: str = "string"):
        super().__init__(version)
        self.key_expr = key_expr
        self.field = field
        self.key_type = key_type

    def _load_state(self) -> None:
        self._meta.setdefault("snapshot", None)

    def _reset_state(self) -> None:
        self._meta["snapshot"] = None

    def _snap_df(self) -> DataFrame | None:
        snap = self._meta.get("snapshot")
        if snap is None:
            return None
        return self.spark.read.parquet(os.path.join(self.path, snap))

    def _partials(self, df: DataFrame) -> DataFrame:
        x = F.get_json_object(F.col("value"), f"$.{self.field}").cast("double")
        key = F.expr(self.key_expr).cast(self.key_type)
        return (
            df.select(key.alias("key"), x.alias("x"))
            .where(F.col("x").isNotNull())
            .groupBy("key")
            .agg(
                F.count("x").alias("n"),
                F.sum("x").alias("s"),
                F.sum(F.col("x") * F.col("x")).alias("sq"),
                F.min("x").alias("mn"),
                F.max("x").alias("mx"),
            )
        )

    @staticmethod
    def _merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("key")
            .agg(
                F.sum("n").alias("n"),
                F.sum("s").alias("s"),
                F.sum("sq").alias("sq"),
                F.min("mn").alias("mn"),
                F.max("mx").alias("mx"),
            )
        )

    def fold(self, batch: DataFrame, upto: int) -> None:
        new = self._partials(batch)
        prev = self._snap_df()
        merged = self._merge(prev, new) if prev is not None else new
        snap = f"snapshot-{upto:012d}-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(os.path.join(self.path, snap))
        old = self._meta.get("snapshot")
        self._meta["snapshot"] = snap
        # retention-gated (see Hashtable.fold): concurrent readers may
        # still scan the replaced snapshot
        if old:
            self.defer_delete(old)
        self.collect_garbage()
        self.commit(upto)

    # ---- reads ---------------------------------------------------------
    @staticmethod
    def _row_to_stats(r: dict) -> dict:
        mean = r["s"] / r["n"]
        var = max(r["sq"] / r["n"] - mean * mean, 0.0)
        return {
            "count": r["n"],
            "sum": r["s"],
            "mean": mean,
            "stdev": math.sqrt(var),
            "min": r["mn"],
            "max": r["mx"],
        }

    def get(self, key: Any) -> dict | None:
        """One group's stats: a driver-side Arrow read of the snapshot
        (no Spark job), like ``Hashtable.get``."""
        snap = self._meta.get("snapshot")
        if snap is None:
            return None
        rows = read_parquet_where(
            [os.path.join(self.path, snap)], "key", [key], ("n", "s", "sq", "mn", "mx")
        ).to_pylist()
        return self._row_to_stats(rows[0]) if rows else None

    def snapshot(self) -> DataFrame:
        snap = self._snap_df()
        if snap is None:
            return self.spark.createDataFrame(
                [], f"key {self.key_type}, n long, s double, sq double, mn double, mx double"
            )
        return snap

    def n_groups(self) -> int:
        snap = self._snap_df()
        return 0 if snap is None else snap.count()
