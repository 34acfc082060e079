"""flumeview-bloom — approximate membership view (`README.md:97`:
"bloom filter lets you check if you *may* have something").

Spark-first: state is the exact distinct-key table (manifest-committed,
deduped on merge) — the hash-checkable ground truth (SURVEY §7.4.7) —
plus a Bloom sketch whose bit positions are computed JVM-side with
``xxhash64`` double hashing (Spark 4.1 does not expose
``bloom_filter_agg`` as a SQL routine; the classic
Kirsch-Mitzenmacher ``h1 + i*h2`` construction over two xxhash64
values is equivalent and keeps probe hashing identical to build
hashing). ``might_have`` answers from the sketch (no false negatives,
tunable false positives); ``has`` answers exactly.

At 100 TB the sketch is the point: a few MB of bits answering "seen?"
without touching the key table; the exact table stays for rebuilds and
auditing, partitioned by key hash.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import FlumeView


class Bloom(FlumeView):
    """``Bloom(version, key_expr, expected_items=1_000_000, fpp=0.01)``.

    ``key_expr``: Spark SQL expression over the JSON ``value`` column
    (e.g. ``get_json_object(value, '$.user') ``) producing the key.
    """

    METHODS = {"has": "async", "might_have": "async", "approx_count": "async"}

    def __init__(
        self,
        version: Any,
        key_expr: str,
        expected_items: int = 1_000_000,
        fpp: float = 0.01,
    ):
        super().__init__(version)
        self.key_expr = key_expr
        self.expected_items = expected_items
        self.fpp = fpp
        import math

        # optimal m/k for the target false-positive rate
        self.m = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
        self.k = max(1, round(self.m / expected_items * math.log(2)))
        self._sketch: bytearray | None = None
        # Serializes sketch build/persist against concurrent folds:
        # readers call _ensure_sketch WITHOUT the engine lock, so a fold
        # landing mid-build could otherwise be overwritten by a sketch
        # computed from the pre-fold file list persisted with
        # sketch_valid=True — definitive false negatives (bloom contract
        # violation). Lock order: engine._lock -> _sketch_lock (fold
        # path); readers take only _sketch_lock — no cycle.
        import threading

        self._sketch_lock = threading.RLock()

    def _data_dir(self) -> str:
        return os.path.join(self.path, "keys")

    def _sketch_path(self) -> str:
        return os.path.join(self.path, "sketch.bin")

    def _load_state(self) -> None:
        self._meta.setdefault("files", [])
        os.makedirs(self._data_dir(), exist_ok=True)
        # reload the persisted bitmap so a fresh process answers
        # might_have without recomputing positions from the key table
        if os.path.exists(self._sketch_path()) and self._meta.get("sketch_valid"):
            with open(self._sketch_path(), "rb") as f:
                self._sketch = bytearray(f.read())
        else:
            self._sketch = None

    def _reset_state(self) -> None:
        self._meta["files"] = []
        self._meta["sketch_valid"] = False
        os.makedirs(self._data_dir(), exist_ok=True)
        self._sketch = None

    def fold(self, batch: DataFrame, upto: int) -> None:
        from .base import write_fold_file

        keys = batch.select(F.expr(self.key_expr).cast("string").alias("key")).distinct()
        fname = write_fold_file(self, keys, upto, self._data_dir())
        with self._sketch_lock:
            if fname is not None:
                self._meta["files"] = self._meta.get("files", []) + [fname]
                # invalidate BOTH the in-memory sketch and the committed
                # validity flag: a persisted sketch that predates this file
                # would return definitive-False for the file's keys after a
                # process restart (bloom contract: False is definitive)
                self._sketch = None
                self._meta["sketch_valid"] = False
            # (empty batch: the persisted sketch still covers every
            # committed key — sketch_valid stays untouched)
            self.commit(upto)

    def keys_df(self) -> DataFrame:
        files = [os.path.join(self._data_dir(), f) for f in self._meta.get("files", [])]
        if not files:
            return self.spark.createDataFrame([], "key string")
        return self.spark.read.parquet(*files).distinct()

    def _positions_expr(self):
        """k bit positions per key: (h1 + i*h2) mod m, hashes JVM-side."""
        # reduce mod m before combining: stays in long range under ANSI mode
        h1 = f"pmod(xxhash64(key), {self.m}L)"
        h2 = f"pmod(xxhash64(key, 'salt'), {self.m}L)"
        pos = ", ".join(
            f"pmod({h1} + {i}L * {h2}, {self.m}L)" for i in range(self.k)
        )
        return F.expr(f"array({pos})")

    def _ensure_sketch(self) -> bytearray | None:
        if self._sketch is not None:
            return self._sketch
        # snapshot the file list under the lock; build OUTSIDE it (the
        # collect is the expensive part and must not stall folds)
        with self._sketch_lock:
            built_from = list(self._meta.get("files", []))
        # distinct set positions <= n*k — a compact int set; at scale
        # this becomes a treeAggregate of per-partition bitmaps
        files = [os.path.join(self._data_dir(), f) for f in built_from]
        src = (
            self.spark.read.parquet(*files).distinct()
            if files
            else self.spark.createDataFrame([], "key string")
        )
        rows = (
            src.select(F.explode(self._positions_expr()).alias("pos"))
            .distinct()
            .collect()
        )
        if not rows:
            return self._sketch
        bf = bytearray((self.m + 7) // 8)
        for r in rows:
            p = int(r.pos)
            bf[p >> 3] |= 1 << (p & 7)
        with self._sketch_lock:
            # a fold may have added a file while we built: persisting a
            # sketch missing its keys with sketch_valid=True would be a
            # definitive false negative after restart. Only publish when
            # the file list is unchanged; otherwise discard — the caller
            # (might_have) degrades to the exact check, never to a
            # possibly-false negative.
            if list(self._meta.get("files", [])) != built_from:
                return None
            self._sketch = bf
            # persist: the sketch is part of view state, so fresh
            # processes probe without a rebuild scan
            with open(self._sketch_path(), "wb") as f:
                f.write(bytes(bf))
            self._meta["sketch_valid"] = True
            self.commit(self.since)
        return self._sketch

    def has(self, key: Any) -> bool:
        """Exact membership (the oracle-checkable fallback)."""
        return (
            self.keys_df().where(F.col("key") == F.lit(str(key))).limit(1).count() > 0
        )

    def might_have(self, key: Any) -> bool:
        """Sketch membership: False is definitive, True is 'maybe'."""
        bf = self._ensure_sketch()
        if bf is None:
            # no stable sketch: an EMPTY key table is a definitive no;
            # a contended build (folds landing during it) degrades to
            # the exact check — never to a possibly-false negative
            if not self._meta.get("files"):
                return False
            return self.has(key)
        # probe positions computed with the SAME JVM hash as the build
        row = (
            self.spark.createDataFrame([(str(key),)], "key string")
            .select(self._positions_expr().alias("pos"))
            .collect()[0]
        )
        return all(bf[int(p) >> 3] & (1 << (int(p) & 7)) for p in row.pos)

    def approx_count(self) -> int:
        rows = self.keys_df().agg(F.approx_count_distinct("key").alias("n")).collect()
        return int(rows[0].n) if rows else 0
