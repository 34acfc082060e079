"""flumeview-level — the secondary index view (`README.md:93`;
map-to-keys contract `test/rebuild.js:25-32`: the user fn returns an
ARRAY of index keys per record, so one record may index under many keys;
the index stores seq pointers and resolves back through the log —
normalized views, `README.md:13-15`).

Spark-first: the index is an incrementally-maintained ``(key, seq)``
table. Each fold explodes the batch's keys and appends one Parquet file;
the committed-file list lives in the view's meta (a mini manifest — the
same commit shape Delta uses), so a retried fold never double-indexes
(exactly-once, SURVEY §7.4.2). A point ``get`` reads Parquet in the
driver through Arrow: the index files filtered on the key, then the
log's rows for the matched seqs (``ParquetLog.read_seqs``), so it starts
no Spark job. Key ranges (``read``) and folds stay on Spark: a pruned
index scan + a join back to the log on ``seq``. The reference's
charwise order-preserving key encoding is unnecessary because the index
column keeps its native type and sorts natively (SURVEY §2.B V2).

At 100 TB: index files are appended per-batch and compacted by key-range
(``compact()``); the range join-back broadcasts the matched seq set when
small and sort-merges on ``seq`` otherwise.
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


class Level(FlumeView):
    """``Level(version, key_fn, key_type='string')`` — inverted key→seq index.

    ``key_fn(value) -> list[key]`` (arbitrary Python, run executor-side
    via Arrow batches), or pass ``key_expr=`` a Spark SQL expression
    string evaluating to ``array<key_type>`` over the JSON ``value``
    column for the fully-JVM fast path.
    """

    METHODS = {"get": "async", "read": "source"}

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

    def _data_dir(self) -> str:
        return os.path.join(self.path, "idx")

    def _load_state(self) -> None:
        self._meta.setdefault("files", [])
        os.makedirs(self._data_dir(), exist_ok=True)

    def _reset_state(self) -> None:
        self._meta["files"] = []
        os.makedirs(self._data_dir(), exist_ok=True)

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
                    seqs, keys = [], []
                    for s, v in zip(pdf["seq"], pdf["value"]):
                        for k in key_fn(decode(v)) or []:
                            seqs.append(s)
                            keys.append(str(k))
                    yield pd.DataFrame({"seq": pd.Series(seqs, dtype="int64"), "key": keys})

            exploded = batch.select("seq", "value").mapInPandas(run, "seq long, key string")
        return exploded.select(F.col("key").cast(self.key_type).alias("key"), "seq")

    def fold(self, batch: DataFrame, upto: int) -> None:
        from .base import write_fold_file

        fname = write_fold_file(self, self._keys_df(batch), upto, self._data_dir())
        if fname is not None:
            self._meta["files"] = self._meta.get("files", []) + [fname]
        self.collect_garbage()
        self.commit(upto)

    # ---- reads ---------------------------------------------------------
    def _files(self) -> list[str]:
        return [os.path.join(self._data_dir(), f) for f in self._meta.get("files", [])]

    def df(self) -> DataFrame:
        files = self._files()
        if not files:
            return self.spark.createDataFrame([], f"key {self.key_type}, seq long")
        return self.spark.read.parquet(*files)

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
        (no Spark job): the index files filtered on ``key``, then the
        log's committed rows for the matched seqs."""
        engine = self._engine
        hits = read_parquet_where(self._files(), "key", [key], ("key", "seq")).to_pylist()
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

    def compaction_due(self, max_files: int = 16) -> bool:
        """Manifest-length compaction trigger: every fold commit adds a
        file, so an always-on maintenance stream grows the manifest one
        file per micro-batch; past ``max_files`` the per-scan open cost
        beats the one-off rewrite."""
        return len(self._meta.get("files", [])) > max_files

    def maybe_compact(self, max_files: int = 16) -> bool:
        """Compact iff :meth:`compaction_due`; True when work was done."""
        if not self.compaction_due(max_files):
            return False
        self.compact()
        return True

    def compact(self) -> None:
        """Rewrite the manifest into one key-sorted file (run-of-the-mill
        maintenance; at scale this is a per-key-range compaction job).

        Serialized with the fold paths via engine._lock when attached:
        without it, a fold committing a new index file between this
        method's scan and its manifest swap would have that file's
        postings silently dropped while view.since still claims the
        seqs are indexed."""
        import contextlib

        lock = (
            self._engine._lock
            if self._engine is not None and hasattr(self._engine, "_lock")
            else contextlib.nullcontext()
        )
        with lock:
            df = self.df().orderBy("key", "seq")
            fname = f"compact-{uuid.uuid4().hex[:8]}.parquet"
            df.write.mode("overwrite").parquet(os.path.join(self._data_dir(), fname))
            old = self._meta["files"]
            self._meta["files"] = [fname]
            # retention-gated deletion (r4 review): a gated read that
            # resolved df() over the old manifest may still be scanning
            # after the lock releases (reads collect OUTSIDE the lock,
            # and read() hands callers a lazy DataFrame) — the same
            # reader-vs-rewrite race ParquetLog solves with tombstones
            # + vacuum. Old files die on a later fold/compact/maintain
            # once the retention window passes.
            self.defer_delete(*[os.path.join("idx", f) for f in old])
            self.collect_garbage()
            self.commit(self.since)
