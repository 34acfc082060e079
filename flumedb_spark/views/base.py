"""View contract — the four required methods from `index.js:174-182`:
``close``, ``createSink`` (here: ``fold``), ``destroy``, ``since``.

A view is a derived, materialized structure built by streaming the log
through a sink (`README.md:183-184`), resumable from its own ``since``
watermark (`README.md:220-223`).

Spark-first execution model (SURVEY.md §7.0): each view is an
**incrementally-maintained table**. The engine feeds it batches
``seq > view.since`` (the `opts.gt = upto` resume of `index.js:39`);
the view folds the batch and commits state + new ``since`` **atomically**
(state tmp-dir + meta rename in one step) so retries never double-count —
the exactly-once requirement of SURVEY §7.4.2. This is the
`foreachBatch`-style incremental fold, the same contract as a
Structured-Streaming micro-batch sink (SURVEY §2.C streaming row), and
`flumedb_spark.streaming.live` provides the always-on variant.

A batch holds exactly the seqs in ``(since, upto]``, in no particular
order — the gate's feed and the live runner deliver the same unordered
set. Order-insensitive folds (count/sum, index maintenance, latest-by-
seq) run with full partition parallelism; a fold that needs seq order
sorts the batch itself, as ``Reduce`` does (SURVEY §7.4.3).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class FlumeView:
    """Base class: persisted state dir + atomic (state, since) commits."""

    #: bump to force rebuild on code change (README.md:26-29)
    VERSION: Any = 1
    #: method name -> 'sync' | 'async' | 'source'  (wrap.js:126-137)
    METHODS: dict[str, str] = {}

    def __init__(self, version: Any = None):
        if version is not None:
            self.VERSION = version
        self.name: str | None = None
        self.path: str | None = None
        self.spark: SparkSession | None = None
        self._engine = None
        self._meta: dict = {"since": -1, "version": None}
        self._since_subscribers: list = []

    # ---- lifecycle ----------------------------------------------------
    def attach(self, engine, name: str, path: str, spark: SparkSession) -> None:
        self._engine = engine
        self.name = name
        self.path = path
        self.spark = spark
        os.makedirs(path, exist_ok=True)
        mp = self._meta_path()
        if os.path.exists(mp):
            try:
                with open(mp) as f:
                    self._meta = json.load(f)
            except (json.JSONDecodeError, OSError):
                # torn/corrupt meta (crash mid-write): the reference's
                # contract is destroy-and-rebuild, never poison startup
                # (index.js:56-75) — views are always rebuildable from
                # the log
                self.destroy()
        # version mismatch => rebuild from scratch (README.md:26-29)
        if self._meta.get("version") not in (None, self.VERSION):
            self.destroy()
        self._meta["version"] = self.VERSION
        self._load_state()

    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    @property
    def since(self) -> int:
        return self._meta.get("since", -1)

    def commit(self, new_since: int) -> None:
        """Atomically persist state + watermark (SURVEY §7.4.2)."""
        self._persist_state()
        self._meta["since"] = int(new_since)
        tmp = self._meta_path() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(self._meta, f)
            f.flush()
            os.fsync(f.fileno())  # rename-before-data = torn meta on power loss
        os.replace(tmp, self._meta_path())
        self._notify_since()

    def on_since(self, cb, immediate: bool = True):
        """`flumeview.since` is an observable (README.md:220-223):
        ``cb(seq)`` fires after each committed fold; ``immediate`` also
        fires now with the current watermark. Returns unsubscribe."""
        self._since_subscribers.append(cb)
        if immediate:
            cb(self.since)

        def unsubscribe() -> None:
            try:
                self._since_subscribers.remove(cb)
            except ValueError:
                pass

        return unsubscribe

    def _notify_since(self) -> None:
        for cb in list(self._since_subscribers):
            cb(self.since)

    def destroy(self) -> None:
        """Wipe persisted state, since -> -1 (README.md:230-232)."""
        if self.path and os.path.exists(self.path):
            shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path, exist_ok=True)
        self._meta = {"since": -1, "version": self.VERSION}
        self._reset_state()
        self._notify_since()

    def close(self) -> None:
        pass

    # ---- fold (the sink) ----------------------------------------------
    def fold(self, batch: DataFrame, upto: int) -> None:
        """Consume one batch of mapped `(seq, value)` rows: exactly the
        seqs in ``(since, upto]``, in no particular order (a fold that
        needs seq order sorts the batch itself); must call
        ``self.commit(upto)`` exactly once at the end."""
        raise NotImplementedError

    # ---- retention-gated deletion (r4 review) ---------------------------
    #: seconds a replaced snapshot/index file survives after being
    #: superseded — concurrent readers whose plans were resolved against
    #: the old manifest (and lazy 'source' DataFrames handed to callers)
    #: can still scan it. The log solved the same race with tombstones +
    #: vacuum; this is the view-side analogue.
    GARBAGE_RETENTION_SECONDS: float = 600.0

    def defer_delete(self, *rel_paths: str) -> None:
        """Queue view-relative paths for retention-gated deletion
        instead of deleting immediately (callers commit afterwards, so
        the garbage list is durable)."""
        import time as _time

        g = self._meta.setdefault("garbage", [])
        now = _time.time()
        g.extend({"path": p, "ts": now} for p in rel_paths)

    def collect_garbage(self, older_than_seconds: float | None = None) -> int:
        """Delete queued paths older than the retention window. Called
        from later folds / maintain(); returns how many were removed."""
        import time as _time

        keep_age = (
            self.GARBAGE_RETENTION_SECONDS
            if older_than_seconds is None
            else older_than_seconds
        )
        now = _time.time()
        g = self._meta.get("garbage", [])
        if not g:
            return 0
        kept, dropped = [], 0
        for e in g:
            if now - e["ts"] >= keep_age:
                shutil.rmtree(os.path.join(self.path, e["path"]), ignore_errors=True)
                dropped += 1
            else:
                kept.append(e)
        if dropped:
            self._meta["garbage"] = kept
        return dropped

    # ---- state hooks ---------------------------------------------------
    def _load_state(self) -> None:  # pragma: no cover - trivial default
        pass

    def _persist_state(self) -> None:  # pragma: no cover - trivial default
        pass

    def _reset_state(self) -> None:  # pragma: no cover - trivial default
        pass


def write_fold_file(view: "FlumeView", df: DataFrame, upto: int, data_dir: str) -> str | None:
    """Write-once fold output for manifest-of-files views (Level /
    Search / Bloom share this protocol): write ``df`` as one parquet
    dir named ``{upto}-{uuid}``, decide emptiness from footers (never
    re-run the — possibly Python-stage — plan), remove if empty.
    Returns the file name to append to the manifest, or None.

    Deliberately does NOT touch the manifest or commit: callers differ
    in what must happen atomically around the append (Bloom invalidates
    its sketch under a lock)."""
    import uuid as _uuid

    fname = f"{upto:012d}-{_uuid.uuid4().hex[:8]}.parquet"
    fpath = os.path.join(data_dir, fname)
    df.write.mode("overwrite").parquet(fpath)
    if parquet_num_rows(fpath) > 0:
        return fname
    shutil.rmtree(fpath, ignore_errors=True)
    return None


def parquet_num_rows(path: str) -> int:
    """Row count of a written parquet dir from footers only (no scan) —
    lets folds write ONCE and drop empty outputs, instead of running
    the (possibly Python-stage) plan twice for an emptiness probe."""
    import pyarrow.parquet as pq

    total = 0
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
    return total
