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

A batch comes in one of two forms, and a fold branches on
``batch.isLocal()``. A small batch (a read-your-writes fold: the feed
sizes it from the log manifest) is an Arrow-built local frame. Spark
evaluates a projection over it in the driver and ``collect()`` starts
no job, but an explode, an aggregate or a write would start one. So a
view's driver branch evaluates its key and value expressions as one
projection (still Spark SQL, so both forms share one expression
semantics), merges the rows in Python and writes its run with pyarrow.
A large batch (backfill, rebuild, catch-up) is a Spark scan, folded by
Spark plans. A view without a driver branch (``Reduce``, ``Query``)
folds a local frame with its Spark plan, which is correct, only slower.

The five file-backed views (``Level``, ``Search``, ``Bloom``,
``Hashtable``, ``GroupedStats``) share one state layout,
:class:`RunView`: sorted runs with key ranges, the LSM shape of the
leveldb store under flumeview-level. The view meta lists the runs in
``files`` and records ``ranges`` (``{run: [min_key, max_key, rows]}``),
the log manifest's exact shape, so ``log.footer_range`` and
``log.files_holding`` serve both. Each view declares one associative
merge aggregate. A fold applies it to the batch and appends one run
sorted by key (O(batch) bytes); a point read opens only the runs whose
range holds the key and merges in Arrow; a scan merges in Spark; and
one :meth:`RunView.compact` merges every run into one. A run is a
Spark write or, from a driver fold, one pyarrow file with the same
schema, so every reader takes both.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..log import files_holding, footer_range, parquet_files, read_parquet_where


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
        write_atomic(self._meta_path(), json.dumps(self._meta).encode())
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
        ``self.commit(upto)`` exactly once at the end. The batch may be
        an Arrow-built local frame (``batch.isLocal()``), on which a
        fold can stay in the driver (see the module docstring)."""
        raise NotImplementedError

    # ---- retention-gated deletion (r4 review) ---------------------------
    #: seconds a run replaced by compaction survives after being
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


def stat_partials(xs) -> tuple:
    """``(count, sum, sum of squares, min, max)`` of the non-null ``xs``:
    the driver form of the stats views' partial aggregate. Integers stay
    exact integers."""
    xs = [x for x in xs if x is not None]
    return len(xs), sum(xs), sum(x * x for x in xs), min(xs, default=None), max(xs, default=None)


def write_atomic(path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` through a tmp file, fsync and replace:
    a crash leaves the old file or the new one, never a torn one
    (rename-before-data would be a torn file on power loss)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class RunView(FlumeView):
    """A view whose state is sorted runs with key ranges (see the module
    docstring). A subclass names its key column (``KEY``) and the empty
    run's schema (``RUN_SCHEMA``), and overrides :meth:`_merge`; its
    fold calls :meth:`append_run` on rows the merge has already
    combined, then commits."""

    #: the column every run is sorted by and ranged on
    KEY = "key"
    #: Spark DDL of a run's columns (``{key_type}`` is filled in)
    RUN_SCHEMA = "key {key_type}"
    key_type = "string"

    def _merge(self, df: DataFrame) -> DataFrame:
        """The view's merge aggregate over the rows of any runs: the
        union by default (``Level`` keeps multiplicity)."""
        return df

    def _run_dir(self) -> str:
        return os.path.join(self.path, "runs")

    def _load_state(self) -> None:
        if "ranges" not in self._meta:
            # a store written before runs had key ranges (or none at
            # all): rebuilt from the log, as a version bump is
            self.destroy()
        os.makedirs(self._run_dir(), exist_ok=True)

    def _reset_state(self) -> None:
        self._meta["files"] = []
        self._meta["ranges"] = {}
        os.makedirs(self._run_dir(), exist_ok=True)

    def _write_run(self, rows: DataFrame | pa.Table, prefix: str) -> tuple[str, list | None] | None:
        """Write ``rows`` as one run dir; returns its name and key range,
        or None (nothing left behind) when it holds no rows. A Spark
        frame is written by Spark, and its emptiness comes from the
        footers, so the (possibly Python-stage) plan runs once. An Arrow
        table is one pyarrow file, written into a tmp dir that is then
        renamed into place, so a crash leaves an unlisted orphan as a
        Spark write does."""
        name = f"{prefix}-{uuid.uuid4().hex[:8]}.parquet"
        path = os.path.join(self._run_dir(), name)
        if isinstance(rows, pa.Table):
            if not rows.num_rows:
                return None
            tmp = os.path.join(self._run_dir(), f".tmp-{name}")
            os.makedirs(tmp)
            pq.write_table(rows, os.path.join(tmp, "part-00000.parquet"))
            os.rename(tmp, path)
        else:
            rows.write.mode("overwrite").parquet(path)
        mds = [pq.read_metadata(f) for f in parquet_files([path])]
        n = sum(md.num_rows for md in mds)
        if not n:
            shutil.rmtree(path, ignore_errors=True)
            return None
        parts = [footer_range(md, self.KEY) for md in mds if md.num_rows]
        if any(r is None for r in parts):
            return name, None
        return name, [min(r[0] for r in parts), max(r[1] for r in parts), n]

    def append_run(self, rows: DataFrame | pa.Table, upto: int) -> str | None:
        """Fold side: write a batch's merged ``rows`` as one run sorted by
        key (a Spark frame with ``sortWithinPartitions``: no exchange, no
        sampling job; an Arrow table from a driver fold sorts in
        pyarrow), record it in ``files`` and ``ranges``, and collect
        garbage past retention. The caller commits. Returns the run's
        name, or None for an empty batch."""
        if isinstance(rows, pa.Table):
            rows = rows.sort_by([(self.KEY, "ascending")], null_placement="at_start")
        else:
            rows = rows.sortWithinPartitions(self.KEY)
        written = self._write_run(rows, f"{upto:012d}")
        self.collect_garbage()
        if written is None:
            return None
        name, rng = written
        # fresh containers: a reader without the engine lock sees the
        # old lists or the new ones, and a run without a range is
        # always opened
        self._meta["ranges"] = {**self._meta["ranges"], name: rng}
        self._meta["files"] = self._meta["files"] + [name]
        return name

    @functools.cached_property
    def _run_arrow_schema(self) -> pa.Schema:
        """``RUN_SCHEMA`` as the Arrow schema Spark writes (``int64``,
        ``string``, nullable), so Spark and pyarrow runs mix."""
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import _parse_datatype_string

        ddl = self.RUN_SCHEMA.format(key_type=self.key_type)
        return to_arrow_schema(_parse_datatype_string(ddl))

    def run_table(self, rows) -> pa.Table:
        """A driver fold's merged ``rows`` (tuples in ``RUN_SCHEMA``
        column order, e.g. collected Spark rows) as an Arrow run."""
        schema = self._run_arrow_schema
        cols = list(zip(*rows)) or [()] * len(schema)
        return pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)

    def cast_keys(self, **columns: pa.Array) -> list:
        """The rows of ``columns`` with ``key`` (strings, as a Python
        ``key_fn`` yields them) cast to ``key_type`` by Spark, as the
        Spark fold casts it: a projection over an Arrow-built local
        frame, so no job. Pass the columns in ``RUN_SCHEMA`` order."""
        local = self.spark.createDataFrame(pa.table(columns))
        return local.withColumn("key", F.col("key").cast(self.key_type)).collect()

    def read_runs(self, key: Any, columns) -> pa.Table:
        """Point read in the driver (no Spark job): the rows under
        ``key`` of the runs whose range holds it, unmerged. The key is
        cast to the column type before it meets the ranges, as
        ``read_parquet_where`` casts it: ``"5"`` finds 5 in a long
        column and ``"abc"`` raises."""
        if key is not None:
            key = pa.array([key]).cast(self._run_arrow_schema.field(self.KEY).type)[0].as_py()
        runs = files_holding(self._meta, [key]) if key is not None else []
        paths = [os.path.join(self._run_dir(), f) for f in runs]
        return read_parquet_where(paths, self.KEY, [key], columns)

    def runs_df(self) -> DataFrame:
        """Every run's rows, unmerged (a scan applies :meth:`_merge`).
        Read with the declared schema: Spark and pyarrow runs mix, and
        planning the scan starts no schema-inference job."""
        files = [os.path.join(self._run_dir(), f) for f in self._meta["files"]]
        schema = self.RUN_SCHEMA.format(key_type=self.key_type)
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    def maybe_compact(self, max_files: int = 16) -> bool:
        """Compact once there are more than ``max_files`` runs (every fold
        adds one, so an always-on stream adds one per micro-batch; past
        the bound the per-read open cost beats the one-off rewrite).
        True when work was done."""
        if len(self._meta["files"]) <= max_files:
            return False
        self.compact()
        return True

    def compact(self) -> None:
        """Merge every run into one key-sorted run.

        Serialized with the folds through the engine lock when attached:
        without it, a fold committing a run between this method's scan
        and its swap would have that run silently dropped while
        ``since`` still claims its seqs are folded. The replaced runs
        are deletion-deferred: a gated read that planned over them may
        still be scanning after the lock releases (reads collect outside
        it, and scans hand callers lazy DataFrames), the same race the
        log solves with tombstones and vacuum. They die on a later fold
        or ``maintain()`` once past retention."""
        engine = self._engine
        with engine._lock if engine is not None else contextlib.nullcontext():
            old = self._meta["files"]
            if not old:
                return
            written = self._write_run(self._merge(self.runs_df()).orderBy(self.KEY), "compact")
            self._meta["ranges"] = {written[0]: written[1]} if written else {}
            self._meta["files"] = list(self._meta["ranges"])
            self.defer_delete(*[os.path.join("runs", f) for f in old])
            self.collect_garbage()
            self.commit(self.since)
