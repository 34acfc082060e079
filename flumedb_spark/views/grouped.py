"""GroupedStats — incrementally-maintained GROUP BY materialized view.

The grouped form of flumeview-reduce (`README.md:92`'s reduce family
generalized per key — the semantics `catalog.py::v1_reduce_grouped`
declares, as a live view instead of a query). State is per-key
mergeable partials (count / sum / sum-of-squares / min / max) kept as
sorted runs (:class:`~.base.RunView`); the merge sums the partials and
takes the min of the mins and the max of the maxes — the classic
incremental-view-maintenance algebra. Each fold computes the batch's
partials (a native Spark aggregate, or in Python for a small batch
folded in the driver) and appends them as one key-sorted run: only new
records are aggregated, and only the batch's groups are written.

At 100 TB: the runs are hash-partitioned by key and ``compact()``
merges them; reads are pruned point/range lookups (``get`` reads the
runs holding its key in the driver through Arrow).
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import RunView, stat_partials


class GroupedStats(RunView):
    """``GroupedStats(version, key_expr, field)`` — per-key running
    count/sum/mean/stdev/min/max over a numeric JSON field.

    ``get(key)`` -> stats dict or None; ``snapshot()`` -> DataFrame of
    all groups; both gated like any async view method.
    """

    METHODS = {"get": "async", "snapshot": "source", "n_groups": "async"}
    RUN_SCHEMA = "key {key_type}, n long, s double, sq double, mn double, mx double"

    def __init__(self, version: Any, key_expr: str, field: str = "value", key_type: str = "string"):
        super().__init__(version)
        self.key_expr = key_expr
        self.field = field
        self.key_type = key_type

    def _keyed(self, df: DataFrame) -> DataFrame:
        x = F.get_json_object(F.col("value"), f"$.{self.field}").cast("double")
        key = F.expr(self.key_expr).cast(self.key_type)
        return df.select(key.alias("key"), x.alias("x"))

    def _partials(self, df: DataFrame) -> DataFrame:
        return (
            self._keyed(df)
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

    def _merge(self, df: DataFrame) -> DataFrame:
        return df.groupBy("key").agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.sum("sq").alias("sq"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )

    def _local_partials(self, batch: DataFrame):
        """The driver fold's run: the keyed values collected, partials
        per key in Python."""
        groups: dict = {}
        for key, x in self._keyed(batch).collect():
            if x is not None:
                groups.setdefault(key, []).append(x)
        return self.run_table([(k, *stat_partials(xs)) for k, xs in groups.items()])

    def fold(self, batch: DataFrame, upto: int) -> None:
        partials = self._local_partials(batch) if batch.isLocal() else self._partials(batch)
        self.append_run(partials, upto)
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
        """One group's stats: the partials of the runs holding ``key``,
        merged in the driver (an Arrow read, no Spark job)."""
        rows = self.read_runs(key, ("n", "s", "sq", "mn", "mx")).to_pylist()
        if not rows:
            return None
        merged = {c: sum(r[c] for r in rows) for c in ("n", "s", "sq")}
        merged["mn"] = min(r["mn"] for r in rows)
        merged["mx"] = max(r["mx"] for r in rows)
        return self._row_to_stats(merged)

    def snapshot(self) -> DataFrame:
        return self._merge(self.runs_df())

    def n_groups(self) -> int:
        return self.runs_df().select("key").distinct().count()
