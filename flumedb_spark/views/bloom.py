"""flumeview-bloom — approximate membership view (`README.md:97`:
"bloom filter lets you check if you *may* have something").

Spark-first: state is the exact distinct-key table, kept as sorted runs
(:class:`~.base.RunView`; the merge is ``distinct``) — the
hash-checkable ground truth (SURVEY §7.4.7) — plus a Bloom sketch whose
bit positions are computed JVM-side with ``xxhash64`` double hashing
(Spark 4.1 does not expose ``bloom_filter_agg`` as a SQL routine; the
classic Kirsch-Mitzenmacher ``h1 + i*h2`` construction over two
xxhash64 values is equivalent and keeps probe hashing identical to
build hashing). Each fold ORs its batch's bit positions into a copy of
the sketch and writes it (``sketch.bin``) before the meta commit, so
the sketch always covers every committed key: ``might_have`` answers
from it (no false negatives, tunable false positives), and ``has``
answers exactly from the runs holding the key. Both probe in the
driver; positions are evaluated by Spark over an Arrow-built local
frame, which starts no job.

At 100 TB the sketch is the point: a few MB of bits answering "seen?"
without touching the key table; the exact table stays for rebuilds and
auditing, partitioned by key hash.
"""

from __future__ import annotations

import math
import os
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import RunView, write_atomic


class Bloom(RunView):
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
        # optimal m/k for the target false-positive rate
        self.m = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
        self.k = max(1, round(self.m / expected_items * math.log(2)))
        self._sketch = bytearray((self.m + 7) // 8)

    def _sketch_path(self) -> str:
        return os.path.join(self.path, "sketch.bin")

    def _load_state(self) -> None:
        super()._load_state()
        # the persisted bitmap covers every committed key (a fold writes
        # it before its meta commit), so a fresh process probes at once
        if os.path.exists(self._sketch_path()):
            with open(self._sketch_path(), "rb") as f:
                self._sketch = bytearray(f.read())

    def _reset_state(self) -> None:
        super()._reset_state()
        self._sketch = bytearray((self.m + 7) // 8)

    def _merge(self, df: DataFrame) -> DataFrame:
        return df.distinct()

    def fold(self, batch: DataFrame, upto: int) -> None:
        keys = batch.select(F.expr(self.key_expr).cast("string").alias("key"))
        if batch.isLocal():
            # driver fold: the batch's distinct keys are the run
            run = self.run_table({(r.key,) for r in keys.collect()})
            name = self.append_run(run, upto)
        else:
            name = self.append_run(self._merge(keys), upto)
            if name is not None:
                run = pq.read_table(os.path.join(self._run_dir(), name), columns=["key"])
        sketch = self._sketch
        if name is not None:
            sketch = bytearray(sketch)
            for p in self._positions(run["key"]):
                sketch[p >> 3] |= 1 << (p & 7)
            # written before the commit: a crash between the two leaves
            # extra bits (false positives), never missing ones
            write_atomic(self._sketch_path(), bytes(sketch))
        self.commit(upto)
        # readers take whichever sketch they hold; the swap is one store
        self._sketch = sketch

    def keys_df(self) -> DataFrame:
        return self._merge(self.runs_df())

    def _positions(self, keys: pa.Array) -> list[int]:
        """The k bit positions ``(h1 + i*h2) mod m`` of each key, hashed
        JVM-side. Spark evaluates the projection over an Arrow-built
        local frame in the driver: no job."""
        # reduce mod m before combining: stays in long range under ANSI mode
        h1 = f"pmod(xxhash64(key), {self.m}L)"
        h2 = f"pmod(xxhash64(key, 'salt'), {self.m}L)"
        pos = ", ".join(f"pmod({h1} + {i}L * {h2}, {self.m}L)" for i in range(self.k))
        frame = self.spark.createDataFrame(pa.table({"key": keys.cast(pa.string())}))
        return [int(p) for r in frame.select(F.expr(f"array({pos})").alias("pos")).collect() for p in r.pos]

    def has(self, key: Any) -> bool:
        """Exact membership (the oracle-checkable fallback): a driver-side
        read of the runs whose range holds the key."""
        return self.read_runs(str(key), ("key",)).num_rows > 0

    def might_have(self, key: Any) -> bool:
        """Sketch membership: False is definitive, True is 'maybe'."""
        bf = self._sketch
        return all(bf[p >> 3] & (1 << (p & 7)) for p in self._positions(pa.array([str(key)])))

    def approx_count(self) -> int:
        rows = self.keys_df().agg(F.approx_count_distinct("key").alias("n")).collect()
        return int(rows[0].n) if rows else 0
