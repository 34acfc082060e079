"""flumeview-reduce — fold the whole log into ONE accumulator value,
maintained incrementally (`README.md:59-65,92`; tests
`test/memlog.js:13-18,44-49,58-64`).

Two execution strategies (SURVEY §7.4.3 order classification):

- :class:`Reduce` — arbitrary Python reducer, order-SENSITIVE. The batch
  is seq-sorted into a single fold lane and folded executor-side via
  ``mapInPandas`` (Arrow batches in, one accumulator row out) — the
  sanctioned slow path; only the final accumulator crosses to the driver.
- :class:`NativeStats` — the mergeable-statistics special case
  (count/sum/mean/stddev — exactly what the reference's own tests
  compute via the `statistics` reducer). Folds run as native Spark
  aggregates with full partition parallelism and map-side combine;
  partials merge algebraically (count, sum, sum of squares, min, max),
  so a 100 TB backfill is one distributed agg, not a serial fold.
"""

from __future__ import annotations

import json
import math
import os
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import FlumeView


class Reduce(FlumeView):
    """``Reduce(version, reducer, initial=None)`` — arbitrary fold.

    ``get()`` returns the accumulator; ``None`` on an empty log
    (test/memlog.js:26-34 returns undefined).
    """

    METHODS = {"get": "async"}

    def __init__(
        self,
        version: Any,
        reducer: Callable[[Any, Any], Any],
        initial: Any = None,
        combiner: Callable[[Any, Any], Any] | None = None,
    ):
        """``combiner(acc_left, acc_right)`` — optional merge of two
        accumulators produced from CONSECUTIVE seq ranges. Supplying it
        declares the fold a monoid (fold within ranges, merge in
        order), which unlocks parallel backfills: partitions fold
        concurrently, partials merge in seq order. Without it the fold
        is strictly sequential (the reference's semantics, SURVEY
        §7.4.3).

        Combiner-mode contract: each partition folds from scratch, so
        the reducer MUST treat ``reducer(None, x)`` as the lift of
        ``x`` — a non-None ``initial`` is only the attach-time default
        for ``get()`` on an empty log, never a per-partition seed
        (seeding every partition would fold it in once per partition).
        """
        super().__init__(version)
        self.reducer = reducer
        self.initial = initial
        self.combiner = combiner
        self._acc: Any = initial
        # distinguishes "no rows ever folded" from "accumulator is
        # legitimately None" — overloading None as the unset sentinel
        # would silently keep the old accumulator for reducers that
        # produce None
        self._acc_set = False

    # state = one JSON accumulator, stored INSIDE meta.json: the single
    # atomic meta rename then commits accumulator + since together. A
    # separate state file would leave a crash window between the two
    # writes where restart re-feeds the batch into already-updated state
    # and the non-idempotent accumulator double-counts.
    def _state_path(self) -> str:
        return os.path.join(self.path, "state.json")  # legacy layout

    def _load_state(self) -> None:
        if "acc_json" in self._meta:
            self._acc = json.loads(self._meta["acc_json"])
            self._acc_set = True
        elif os.path.exists(self._state_path()):  # migrate legacy layout
            with open(self._state_path()) as f:
                self._acc = json.load(f)["acc"]
            self._acc_set = True
        else:
            self._acc = self.initial
            self._acc_set = False

    def _persist_state(self) -> None:
        if self._acc_set:
            self._meta["acc_json"] = json.dumps(self._acc, default=str)
        else:
            self._meta.pop("acc_json", None)

    def _reset_state(self) -> None:
        self._acc = self.initial
        self._acc_set = False

    def fold(self, batch: DataFrame, upto: int) -> None:
        if self.combiner is not None:
            self._fold_parallel(batch, upto)
            return
        acc0 = self._acc
        reducer = self.reducer
        decode = self._engine.log.codec.decode
        sentinel = "\x00__unset__"

        def run(it):
            a = acc0
            saw = False
            for pdf in it:
                for raw in pdf["value"]:
                    saw = True
                    a = reducer(a, decode(raw))
            # "no rows" is flagged explicitly — a reducer that produces a
            # None accumulator must round-trip as None, not be dropped
            out = json.dumps(a, default=str) if saw else sentinel
            yield pd.DataFrame({"acc": [out]})

        # order-sensitive: one fold lane, seq-sorted (SURVEY §7.4.3)
        rows = (
            batch.select("seq", "value")
            .repartition(1)
            .sortWithinPartitions("seq")
            .mapInPandas(run, "acc string")
            .collect()
        )
        if rows and rows[0].acc != sentinel:
            self._acc = json.loads(rows[0].acc)
            self._acc_set = True
        self.commit(upto)

    def _fold_parallel(self, batch: DataFrame, upto: int) -> None:
        """Monoid path: seq-range partitions fold concurrently from a
        fresh (None) accumulator; partials merge left-to-right in seq
        order via the combiner, then onto the persisted accumulator.
        Result is identical to the sequential fold whenever
        ``combiner(fold(xs), fold(ys)) == fold(xs + ys)`` holds."""
        reducer = self.reducer
        decode = self._engine.log.codec.decode
        sentinel = "\x00__unset__"
        parallelism = self.spark.sparkContext.defaultParallelism

        def run(it):
            a = None
            first_seq = None
            for pdf in it:
                for s, raw in zip(pdf["seq"], pdf["value"]):
                    if first_seq is None:
                        first_seq = int(s)
                    a = reducer(a, decode(raw))
            out = json.dumps(a, default=str) if first_seq is not None else sentinel
            yield pd.DataFrame(
                {"first_seq": [first_seq if first_seq is not None else -1], "acc": [out]}
            )

        rows = (
            batch.select("seq", "value")
            .repartitionByRange(parallelism, "seq")
            .sortWithinPartitions("seq")
            .mapInPandas(run, "first_seq long, acc string")
            .collect()
        )
        partials = sorted(
            (r for r in rows if r.acc != sentinel), key=lambda r: r.first_seq
        )
        acc, acc_set = self._acc, self._acc_set
        for r in partials:
            part = json.loads(r.acc)
            # merge onto the persisted accumulator only if one exists —
            # checked via the explicit flag, so a legitimately-None
            # accumulator still goes through the combiner
            acc = part if not acc_set else self.combiner(acc, part)
            acc_set = True
        self._acc, self._acc_set = acc, acc_set
        self.commit(upto)

    def get(self, path: Any = None) -> Any:
        acc = self._acc
        if acc is not None and path is not None:
            keys = path if isinstance(path, (list, tuple)) else [path]
            for k in keys:
                acc = acc[k]
        return acc


class NativeStats(FlumeView):
    """Mergeable running statistics over a numeric field of the value.

    The Spark-native form of the reference's mean/stdev reduce view
    (`test/memlog.js:44-64`): partial aggregates per batch, algebraic
    merge into persisted state. ``get()`` -> dict with count/sum/mean/
    stddev/min/max; ``None`` on empty log.
    """

    METHODS = {"get": "async"}

    def __init__(self, version: Any, field: str = "foo", scale: int | None = None):
        """``scale`` — set when the field is fixed-point at 1/scale
        granularity (e.g. 100 for cent-granular money): partial sums then
        accumulate as exact scaled integers across batches and only
        ``get()`` divides back to doubles, so incremental folds can never
        drift from a one-shot aggregate by float summation order. Default
        None keeps plain float partials (arbitrary numeric fields)."""
        super().__init__(version)
        self.field = field
        self.scale = scale
        self._s = None  # {n, sum, sq, min, max} (+ scaled ints when scale)

    # accumulator lives inside meta.json — same atomicity rationale as
    # Reduce: one rename commits partial stats + since together
    def _state_path(self) -> str:
        return os.path.join(self.path, "state.json")  # legacy layout

    def _load_state(self) -> None:
        if "s" in self._meta:
            self._s = self._meta["s"]
        elif os.path.exists(self._state_path()):  # migrate legacy layout
            with open(self._state_path()) as f:
                self._s = json.load(f)["s"]
        else:
            self._s = None

    def _persist_state(self) -> None:
        self._meta["s"] = self._s

    def _reset_state(self) -> None:
        self._s = None

    def fold(self, batch: DataFrame, upto: int) -> None:
        x = F.get_json_object(F.col("value"), f"$.{self.field}").cast("double")
        if self.scale:
            xi = F.round(x * self.scale).cast("long")
            agg = [F.count(xi).alias("n"), F.sum(xi).alias("s"), F.sum(xi * xi).alias("sq")]
        else:
            agg = [F.count(x).alias("n"), F.sum(x).alias("s"), F.sum(x * x).alias("sq")]
        row = batch.agg(*agg, F.min(x).alias("mn"), F.max(x).alias("mx")).collect()[0]
        if row.n:
            if self._s is None:
                zero = 0 if self.scale else 0.0
                self._s = {"n": 0, "sum": zero, "sq": zero, "min": row.mn, "max": row.mx}
            s = self._s
            s["n"] += row.n
            s["sum"] += row.s
            s["sq"] += row.sq
            s["min"] = min(s["min"], row.mn)
            s["max"] = max(s["max"], row.mx)
        self.commit(upto)

    def get(self, path: Any = None) -> Any:
        if self._s is None:
            return None
        s = self._s
        if self.scale:
            k = float(self.scale)
            total, sq = s["sum"] / k, s["sq"] / (k * k)
        else:
            total, sq = s["sum"], s["sq"]
        mean = total / s["n"]
        var = max(sq / s["n"] - mean * mean, 0.0)
        out = {
            "count": s["n"],
            "sum": total,
            "mean": mean,
            "stdev": math.sqrt(var),
            "min": s["min"],
            "max": s["max"],
        }
        return out[path] if path is not None else out
