"""ParquetLog — the append-only log table.

Reference semantics (flumedb `index.js:12-13`, `README.md:137-149`): a
single append-only log of schema-less values, each addressed by a
monotonically increasing ``seq``; ``since`` is ``-1`` when empty, else the
seq of the latest record, and is visible by the time ``append``'s
callback fires (read-after-write on the log itself).

Spark-first design (SURVEY.md §1.4):

- storage: a directory of Parquet files with fixed schema
  ``(seq long, ts timestamp, value string)`` — ``value`` is the raw JSON
  payload (the log is schema-less; only views interpret it, matching
  `README.md:120-122`). Binary payloads are carried as base64 inside the
  JSON envelope; dedicated multimodal tables use BinaryType directly.
- seqs are **dense integers** assigned by a single-writer appender (the
  `flumelog-memory` choice, legal per `README.md:138-140`). Dense seqs keep
  range predicates sargable and make "view is N records behind" computable.
- commit protocol: write the new data file, then atomically replace
  ``meta.json`` (tmp + rename) carrying the new ``since``. Readers filter
  ``seq <= since`` so a torn append (file written, meta not) is invisible.
  At cluster scale the same protocol is a Delta/Iceberg commit; the
  manifest-swap shape is identical.
- reads: every commit records each of its files' ``[min_seq, max_seq,
  rows]`` in the manifest's ``ranges`` (Delta's per-file ``add``
  statistics), beside the plain ``files`` list. A range read plans only
  the files whose range overlaps it, and a point get opens only the
  files whose range holds a wanted seq; a file without a range (a
  manifest written before ranges were recorded) is always read. Inside
  the planned files, seq predicates push down to Parquet min/max (the
  reference's only pushdown, `index.js:39`), and column pruning covers
  the ``seqs/values`` projection flags (`index.js:96-113`). Point gets
  (``get``, ``read_seqs``) and small folds (``read_range``, a few
  thousand rows by the manifest's counts) read in the driver through
  Arrow with a seq filter, so they start no job.
- compaction (the file hygiene of a log that adds one file per commit)
  is tiered and runs in the driver: planned from the manifest's row
  counts, it keeps every file at the target size and merges only runs
  of adjacent small files, through Arrow, one bounded group at a time,
  so it starts no job and costs O(new data), not O(log). A file-source
  live tail re-delivers only the merged files.

Appended files are named by commit index, and the manifest lists every
file in seq order.
"""

from __future__ import annotations

import bisect
import json
import os
import time
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

LOG_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

_ARROW_SCHEMA = to_arrow_schema(LOG_SCHEMA)


from .codecs import CODECS


def _encode(value: Any) -> str:
    """Schema-less envelope: values are opaque JSON (README.md:103)."""
    return json.dumps(value, sort_keys=True, default=str)


def _decode(raw: str) -> Any:
    return json.loads(raw)


def read_parquet_where(
    paths: list[str], column: str, values, columns, where: ds.Expression | None = None
) -> pa.Table:
    """Read in the driver, no Spark job: the rows of the Parquet files at
    ``paths`` whose ``column`` is in ``values`` (and that match
    ``where``), as an Arrow table of ``columns``; ``values=None`` filters
    by ``where`` alone (a range read). A directory (a Spark write) stands
    for its data files. Each value is cast to the column's type, as
    Spark casts a literal against a typed column: ``"5"`` finds 5 in a
    long column and ``"abc"`` raises. A ``None`` value matches nothing."""
    files = parquet_files(paths)
    wanted = None if values is None else [v for v in values if v is not None]
    if not files or wanted == []:
        return pa.table({c: pa.array([]) for c in columns})
    data = ds.dataset(files, format="parquet")
    cond = where
    if wanted is not None:
        cond = ds.field(column).isin(pa.array(wanted).cast(data.schema.field(column).type))
        if where is not None:
            cond = cond & where
    return data.to_table(columns=list(columns), filter=cond)


def parquet_files(paths: list[str]) -> list[str]:
    """The Parquet files at ``paths``: a file stands for itself, a
    directory (a Spark write) for its data files."""
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(
                os.path.join(p, f) for f in os.listdir(p) if not f.startswith(("_", "."))
            )
        else:
            files.append(p)
    return files


def footer_range(md: pq.FileMetaData, column: str = "seq") -> list | None:
    """``[min, max, rows]`` of ``column`` in one Parquet file from its
    footer, over all row groups (group 0's max alone would miss later
    groups' values); ``[None, None, 0]`` for a file without rows, and
    None when a group has no statistics or they are not JSON-native
    (int, float or str), so the file is never pruned. The log records
    it per file under ``seq``, the run-store views per run under their
    key (``views/base.py``)."""
    col = md.schema.names.index(column)
    lo = hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        if rg.num_rows == 0:
            continue
        st = rg.column(col).statistics
        if st is None or not st.has_min_max or not isinstance(st.min, (int, float, str)):
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return [lo, hi, md.num_rows]


def files_in_range(meta: dict, gt: int | None, lte: int | None) -> list[str]:
    """The manifest's files that may hold a seq in ``(gt, lte]`` (None =
    unbounded), in manifest order: each file whose recorded range
    overlaps, and each file without a range."""
    ranges = meta.get("ranges", {})
    out = []
    for f in meta.get("files", []):
        r = ranges.get(f)
        if r is None or (
            r[2] > 0 and (gt is None or r[1] > gt) and (lte is None or r[0] <= lte)
        ):
            out.append(f)
    return out


def files_holding(meta: dict, values: list) -> list[str]:
    """The manifest's files whose recorded range holds at least one of
    the sorted ``values`` (seqs for the log, keys for a view's runs),
    and each file without a range."""
    ranges = meta.get("ranges", {})
    out = []
    for f in meta.get("files", []):
        r = ranges.get(f)
        if r is None:
            out.append(f)
        elif r[2] > 0:
            i = bisect.bisect_left(values, r[0])
            if i < len(values) and values[i] <= r[1]:
                out.append(f)
    return out


def _version_files(txn_dir: str) -> list[str]:
    try:
        return sorted(
            f for f in os.listdir(txn_dir) if f.endswith(".json") and not f.startswith(".")
        )
    except FileNotFoundError:
        return []


def load_manifest(path: str) -> dict:
    """The committed manifest of the log at ``path``, whichever backend
    wrote it: the newest ``_log/`` version where that directory exists
    (:class:`VersionedLog`), else ``meta.json``. Every log class loads
    through it, and so do readers that hold only the path (the streaming
    source's executors)."""
    txn_dir = os.path.join(path, "_log")
    if os.path.isdir(txn_dir):
        versions = _version_files(txn_dir)
        if not versions:
            return {"since": -1, "commits": 0, "files": [], "txn_version": -1}
        with open(os.path.join(txn_dir, versions[-1])) as f:
            meta = json.load(f)
        meta["txn_version"] = int(versions[-1].split(".")[0])
        return meta
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        return {"since": -1, "commits": 0, "files": []}
    with open(meta_path) as f:
        meta = json.load(f)
    # manifest introduced later: fall back to a directory glob for logs
    # written before it
    if "files" not in meta:
        meta["files"] = sorted(
            f for f in os.listdir(os.path.join(path, "data")) if f.endswith(".parquet")
        )
    return meta


class CommitConflict(Exception):
    """Another writer committed the manifest version this transaction
    targeted (optimistic-concurrency loss — reload and replay)."""


class _NoCommit(Exception):
    """Raised by a write-transaction stage to return a result without
    committing (nothing changed)."""

    def __init__(self, result):
        super().__init__("no commit")
        self.result = result


class ParquetLog:
    """Append-only Parquet log with dense seqs and an atomic `since` commit.

    The reference is single-process with no concurrency control
    (`index.js`); this log goes one step further: every write takes an
    exclusive flock on `<path>/.lock` and re-reads the manifest inside
    the critical section, so CONCURRENT WRITER PROCESSES on one host
    serialize correctly (no seq collisions, no lost commits). At
    cluster scale the same critical section becomes a Delta/Iceberg
    transaction — the read path is unchanged either way.
    """

    #: extra log-specific operations a subclass may export onto the
    #: engine facade (O21, index.js:270-283): {method_name: 'sync'}
    methods: dict = {}

    #: dense integer seqs (0,1,2,...). Consumers may rely on this for
    #: exact range counts; OffsetLog sets it False (README.md:138-140:
    #: the seq format is log-implementation-defined).
    DENSE = True

    def __init__(self, path: str, codec="json"):
        self.codec = CODECS[codec] if isinstance(codec, str) else codec
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.meta_path = os.path.join(path, "meta.json")
        self._since_subscribers: list = []
        os.makedirs(self.data_dir, exist_ok=True)
        # Reference parity (README.md:197-201): `since` is UNDEFINED until
        # the log has loaded its state (-1 then means "loaded and empty").
        # Loading is deferred to the first operation — the synchronous
        # analogue of the `log.since.once(...)` init barrier every read
        # takes in index.js:151-155.
        self._meta: dict | None = None

    # ---- meta / since -------------------------------------------------
    def _load_meta(self) -> dict:
        return load_manifest(self.path)

    def _commit_meta(self, meta: dict | None = None) -> None:
        """Durably commit ``meta`` (atomic tmp+rename), THEN publish it as
        the in-memory state. Commit-before-publish is the visibility
        invariant concurrent readers rely on: ``ready_since()`` must
        never run ahead of what a fresh manifest read can see, or a
        bounded live tail can observe head=N, scan the stale manifest, and
        terminate without the rows (observed race, test_live_since)."""
        m = self._meta if meta is None else meta
        tmp = self.meta_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.meta_path)
        self._meta = m

    @property
    def since(self) -> int | None:
        """None = uninitialized (the reference's ``undefined``), -1 =
        loaded and empty, else seq of latest record (README.md:197-201)."""
        return None if self._meta is None else self._meta["since"]

    def ready_since(self) -> int:
        """Init barrier + current watermark: loads state on first use and
        always returns a number — what `log.since.once(...)` hands each
        deferred read in index.js:151-155."""
        if self._meta is None:
            self._meta = self._load_meta()
        return self._meta["since"]

    def refresh_since(self) -> int:
        """Reload the committed watermark from disk — how a polling
        consumer (live tail) observes appends committed by OTHER
        processes. Publishes only a forward move so the in-memory
        observable stays monotone when racing a same-process writer's
        commit-then-publish."""
        loaded = self._load_meta()
        cur = self._meta
        if cur is None or loaded["since"] >= cur["since"]:
            self._meta = loaded
        return self._meta["since"]

    def _writer_lock(self):
        """Exclusive cross-process write lock (flock on `<path>/.lock`).
        Writers re-read the manifest after acquiring it, so seq
        assignment always starts from the latest committed state."""
        import contextlib
        import fcntl

        @contextlib.contextmanager
        def lock():
            os.makedirs(self.path, exist_ok=True)
            with open(os.path.join(self.path, ".lock"), "w") as f:
                fcntl.flock(f, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(f, fcntl.LOCK_UN)

        return lock()

    def _write_txn(self, stage):
        """Run one write transaction: load the committed manifest,
        apply ``stage(meta)`` (mutates the dict in place, returns the
        transaction's result), durably commit, publish. The base
        protocol serializes writers with the cross-process flock;
        :class:`VersionedLog` overrides this with lock-free optimistic
        concurrency (stage replayed on commit conflict — stages must be
        re-runnable). ``stage`` may raise :class:`_NoCommit` to return
        a result without committing anything."""
        with self._writer_lock():
            meta = self._load_meta()
            if self._meta is None:
                # init barrier: publish a SEPARATE committed snapshot
                # (not `meta` — that dict mutates pre-commit below)
                self._meta = self._load_meta()
            try:
                result = stage(meta)
            except _NoCommit as nc:
                return nc.result
            self._commit_meta(meta)
            return result

    def on_since(self, cb, immediate: bool = True):
        """Observable-style `since` subscription (the reference's
        ``log.since`` IS an observable, README.md:197-201; flumedb
        aliases it at `index.js:142`): ``cb(seq)`` fires after every
        committed watermark advance, and — observable convention — once
        immediately with the current value when the log has loaded.
        Returns an unsubscribe function."""
        self._since_subscribers.append(cb)
        if immediate and self._meta is not None:
            cb(self._meta["since"])

        def unsubscribe() -> None:
            try:
                self._since_subscribers.remove(cb)
            except ValueError:
                pass

        return unsubscribe

    def _notify_since(self) -> None:
        for cb in list(self._since_subscribers):
            cb(self._meta["since"])

    # ---- write path ---------------------------------------------------
    def append(self, values: Any, meta_updates: dict | None = None) -> int:
        """Append one value or a list (atomic batch, README.md:147-149).

        Returns the seq of the last record written; by return time
        ``since`` reflects it (`README.md:149` durability-then-callback).

        ``meta_updates`` rides the SAME atomic meta commit as the batch —
        used by the streaming sink to record its epoch watermark
        exactly-once with the rows it delivered.
        """
        batch = values if isinstance(values, list) else [values]
        if not batch:
            if meta_updates:
                def stage_meta_only(meta: dict) -> None:
                    meta.update(meta_updates)

                self._write_txn(stage_meta_only)
            return self.ready_since()
        encoded = [self.codec.encode(v) for v in batch]

        def stage(meta: dict) -> int:
            # the stage runs on a fresh committed manifest snapshot and
            # must be RE-RUNNABLE: under optimistic concurrency
            # (VersionedLog) a lost commit race replays it against the
            # new state — the previously staged parquet file becomes an
            # invisible orphan (manifest-only visibility)
            seqs = self._assign_seqs(encoded, meta["since"], meta)
            now = time.time_ns() // 1000
            table = pa.Table.from_pydict(
                {
                    "seq": pa.array(seqs, pa.int64()),
                    "ts": pa.array([now] * len(batch), pa.timestamp("us", tz="UTC")),
                    "value": pa.array(encoded, pa.string()),
                },
                schema=_ARROW_SCHEMA,
            )
            commit = meta["commits"]
            fname = f"{commit:010d}-{uuid.uuid4().hex[:8]}.parquet"
            self._write_file(table, fname)
            # one atomic meta commit makes the file visible: readers
            # consume the manifest, so a torn write (file without meta)
            # is invisible
            meta["since"] = seqs[-1]
            meta["commits"] = commit + 1
            meta["files"] = meta.get("files", []) + [fname]
            meta["ranges"] = {
                **meta.get("ranges", {}),
                fname: [seqs[0], seqs[-1], len(seqs)],
            }
            if meta_updates:
                meta.update(meta_updates)
            return seqs[-1]

        last = self._write_txn(stage)
        self._notify_since()
        return last

    def _write_file(self, table: pa.Table, name: str) -> pq.FileMetaData:
        """Write ``table`` (of :data:`_ARROW_SCHEMA`) as the log file
        ``data/<name>`` and return its footer. The one place that knows
        the log's Parquet encoding: ``seq`` is delta-encoded (dense and
        byte-offset seqs are near-arithmetic runs, a few bits a row),
        ``ts`` and ``value`` are dictionary-encoded. The file is written
        under a hidden name and renamed into place, so a directory
        listing (the file-source tail) never sees a torn file."""
        tmp = os.path.join(self.data_dir, f".{name}.tmp")
        footer: list[pq.FileMetaData] = []
        pq.write_table(
            table,
            tmp,
            use_dictionary=["ts", "value"],
            column_encoding={"seq": "DELTA_BINARY_PACKED"},
            metadata_collector=footer,
        )
        os.replace(tmp, os.path.join(self.data_dir, name))
        return footer[0]

    def _assign_seqs(self, encoded: list[str], since: int, meta: dict) -> list[int]:
        """Dense integer seqs — the flumelog-memory choice. Subclasses
        define other formats (recording tail state in ``meta``, which
        rides the same atomic commit); seqs need only be strictly
        increasing (README.md:138-140)."""
        start = since + 1
        return list(range(start, start + len(encoded)))

    # ---- distributed bulk write --------------------------------------
    def bulk_append_df(self, encoded: DataFrame) -> int:
        """Distributed bulk append: executors write the seq-assigned
        parquet files; the driver makes the whole batch visible with ONE
        atomic manifest commit — the same commit protocol as
        :meth:`append`, so O1/O2 semantics hold (all-or-nothing
        visibility, ``since`` reflects the batch by return time).

        ``encoded`` must have a single string column ``value`` holding
        codec-encoded payloads. Seq order is (partition id, row order
        within partition) — callers wanting a global key order
        range-partition + sort first (see ``readers.append_df_to_log``).

        Scale shape: rows NEVER visit the driver. Seq assignment is the
        classic two-pass: (1) a tiny per-partition count/byte aggregate
        (one row per partition reaches the driver), (2) an Arrow-batched
        cumsum stamps seqs executor-side. Throughput is bounded by the
        parquet write, not a single-writer loop — this replaces the
        230k rows/s driver-collect ceiling (VERDICT r2 §missing-3).
        """
        from pyspark import StorageLevel

        # the write transaction spans seq assignment through manifest
        # commit: a bulk load under the flock protocol holds the lock
        # for its whole job (coarse — concurrent bulk writers
        # serialize); under VersionedLog's optimistic protocol a lost
        # race replays the job against the new state (at cluster scale
        # this critical section is a table-format transaction instead)
        last = self._write_txn(
            lambda meta: self._bulk_append_staged(encoded, StorageLevel, meta)
        )
        self._notify_since()
        return last

    def _bulk_append_staged(self, encoded: DataFrame, StorageLevel, meta: dict) -> int:
        since = meta["since"]
        dense = self.DENSE
        overhead = int(getattr(self, "FRAME_OVERHEAD", 0))
        # pin partition contents/order so the stats pass and the write
        # pass see identical pids (recomputed plans may not be stable)
        encoded = encoded.select(F.col("value").cast("string")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            stats = (
                encoded.groupBy(F.spark_partition_id().alias("pid"))
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.octet_length("value") + F.lit(overhead)).alias("w"),
                )
                .collect()
            )
            if not stats:
                raise _NoCommit(since)
            by_pid = sorted((r.pid, r.n, r.w) for r in stats)
            # per-partition start positions (seq number or byte offset)
            if dense:
                pos = since + 1
            else:
                pos = 0 if since < 0 else since + self._frame_of(meta)
            starts: dict[int, int] = {}
            total = 0
            for pid, n, w in by_pid:
                starts[pid] = pos
                pos += n if dense else w
                total += n
            new_since = (since + total) if dense else None  # offset: set below

            def stamp(batches):
                from pyspark import TaskContext

                import pandas as pd  # noqa: F401  (worker-side)

                # empty partitions have no stats row (no group) — any
                # start works, they yield nothing
                at = starts.get(TaskContext.get().partitionId(), 0)
                for pdf in batches:
                    if dense:
                        seqs = [at + i for i in range(len(pdf))]
                        at += len(pdf)
                    else:
                        seqs = []
                        for v in pdf["value"]:
                            seqs.append(at)
                            at += len(v.encode("utf-8")) + overhead
                    pdf = pdf.assign(seq=seqs)
                    yield pdf[["seq", "value"]]

            now_us = time.time_ns() // 1000
            out = encoded.mapInPandas(stamp, "seq long, value string").select(
                "seq",
                F.timestamp_micros(F.lit(now_us)).alias("ts"),
                "value",
            )
            tmp = os.path.join(self.path, f"bulk-{uuid.uuid4().hex[:8]}")
            out.write.parquet(tmp)
        finally:
            encoded.unpersist()
        # stage part files into data/ named so lexical order == seq order,
        # then ONE atomic meta commit (crash before it = invisible orphans)
        import shutil

        commit = meta["commits"]
        parts = [f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")]
        new_names = []
        # uuid suffix (like append's): two optimistic VersionedLog bulk
        # writers at the same commit index must never stage identically
        # named files — the loser would silently overwrite the winner's
        # committed data. Relative order within the commit is preserved
        # (the -bNNNNN index precedes the suffix lexically).
        run_id = uuid.uuid4().hex[:8]
        new_ranges = {}
        for i, f in enumerate(parts):
            src = os.path.join(tmp, f)
            md = pq.read_metadata(src)
            if md.num_rows == 0:  # empty partitions stay out of the manifest
                continue
            name = f"{commit:010d}-b{i:05d}-{run_id}.parquet"
            shutil.move(src, os.path.join(self.data_dir, name))
            new_names.append(name)
            new_ranges[name] = footer_range(md)
        shutil.rmtree(tmp, ignore_errors=True)
        if not dense:
            if not new_names:  # all-empty batch
                raise _NoCommit(since)
            # exact tail state for offset seqs: last record's frame size
            # (read from the last staged file — footer + one column
            # page, not a data scan)
            t = pq.read_table(
                os.path.join(self.data_dir, new_names[-1]), columns=["seq", "value"]
            )
            new_since = t.column("seq")[-1].as_py()
            last_val = t.column("value")[-1].as_py()
            meta["last_frame"] = len(last_val.encode("utf-8")) + overhead
        meta["since"] = new_since
        meta["commits"] = commit + 1
        meta["files"] = meta.get("files", []) + new_names
        meta["ranges"] = {**meta.get("ranges", {}), **new_ranges}
        return new_since

    # ---- read path ----------------------------------------------------
    def df(
        self,
        spark: SparkSession,
        meta: dict | None = None,
        gt: int | None = None,
        lte: int | None = None,
    ) -> DataFrame:
        """The committed rows with seq in ``(gt, lte]`` (None = unbounded)
        as a DataFrame. Only manifest-listed files are read (torn appends
        and compaction leftovers are invisible), and of those only the
        ones whose recorded seq range overlaps the bound. Reads a LOCAL
        manifest snapshot — read paths never publish to ``self._meta``,
        so they can't clobber a writer's in-flight commit from another
        thread. Pass ``meta`` to plan over an explicit snapshot
        (compaction diffs against the same snapshot it scanned, so a
        commit landing mid-compact can't be both compacted and kept in
        the tail)."""
        if meta is None:
            meta = self._load_meta()
        hi = meta["since"] if lte is None else min(int(lte), meta["since"])
        files = files_in_range(meta, gt, hi)
        if hi < 0 or not files:
            return spark.createDataFrame([], LOG_SCHEMA)
        paths = [os.path.join(self.data_dir, f) for f in files]
        df = spark.read.schema(LOG_SCHEMA).parquet(*paths)
        if gt is not None:
            df = df.where(F.col("seq") > F.lit(int(gt)))
        return df.where(F.col("seq") <= F.lit(hi))

    def read_seqs(self, seqs) -> list[dict]:
        """The committed ``{"seq", "value"}`` rows whose seq is in
        ``seqs``, read in the driver through Arrow (no Spark job) from
        the files whose range holds a wanted seq: the point-get path.
        Small folds read through :meth:`read_range`, scans and large
        folds through :meth:`df`."""
        meta = self._load_meta()
        wanted = sorted({int(s) for s in seqs if s is not None})
        paths = [os.path.join(self.data_dir, f) for f in files_holding(meta, wanted)]
        return read_parquet_where(
            paths, "seq", wanted, ("seq", "value"), ds.field("seq") <= meta["since"]
        ).to_pylist()

    def read_range(self, meta: dict, gt: int, lte: int, max_rows: int) -> pa.Table | None:
        """The committed ``(seq, value)`` rows with seq in ``(gt, lte]``
        of the manifest snapshot ``meta``, read in the driver through
        Arrow (no Spark job) from the files whose range overlaps: the
        small-fold path. None when those files hold more than
        ``max_rows`` rows by the manifest's per-file counts, or one of
        them has no recorded range; the caller then scans through
        :meth:`df`. Counts come from ``ranges``, not from seq arithmetic,
        so byte-offset seqs size the same way."""
        hi = min(int(lte), meta["since"])
        files = files_in_range(meta, gt, hi)
        ranges = [meta.get("ranges", {}).get(f) for f in files]
        if None in ranges or sum(r[2] for r in ranges) > max_rows:
            return None
        paths = [os.path.join(self.data_dir, f) for f in files]
        cond = (ds.field("seq") > int(gt)) & (ds.field("seq") <= hi)
        return read_parquet_where(paths, "seq", None, ("seq", "value"), cond)

    def get(self, spark: SparkSession, seq: int) -> dict | None:
        """Point lookup (index.js:157-162). None if absent."""
        rows = self.read_seqs([int(seq)])
        if not rows:
            return None
        return {"seq": rows[0]["seq"], "value": self.codec.decode(rows[0]["value"])}

    def stream_df(
        self,
        spark: SparkSession,
        gt: int | None = None,
        gte: int | None = None,
        lt: int | None = None,
        lte: int | None = None,
        reverse: bool = False,
        limit: int | None = None,
        seqs: bool = True,
        values: bool = True,
        ordered: bool = True,
        meta: dict | None = None,
    ) -> DataFrame:
        """Range scan plan (index.js:149-156, README.md:130-133).

        `limit` truncates AFTER `reverse` — i.e. top-k from the chosen
        end. Projection flags = column pruning (index.js:96-113).
        ``ordered=False`` skips the global seq sort (a range-partition
        sampling job plus a shuffle) for consumers that take the rows as
        a set, like view folds and point gets; `reverse` and `limit`
        need the order, so they cannot be combined with it. The scan
        plans only the files whose seq range overlaps the bounds
        (:meth:`df`), of ``meta`` when given, else of a fresh manifest
        snapshot.
        """
        if not ordered and (reverse or limit is not None):
            raise ValueError("stream_df: reverse/limit need ordered=True")
        # seqs are integers: gte=g is gt=g-1 and lt=l is lte=l-1, so the
        # four bounds reduce to the tightest (gt, lte]
        if gte is not None:
            gt = int(gte) - 1 if gt is None else max(int(gt), int(gte) - 1)
        if lt is not None:
            lte = int(lt) - 1 if lte is None else min(int(lte), int(lt) - 1)
        df = self.df(spark, meta=meta, gt=gt, lte=lte)
        if ordered:
            df = df.orderBy(F.col("seq").desc() if reverse else F.col("seq").asc())
        if limit is not None:
            df = df.limit(int(limit))
        if seqs and values:
            return df.select("seq", "value")
        if seqs:
            return df.select("seq")
        return df.select("value")

    def compaction_due(
        self,
        max_files: int = 64,
        small_file_bytes: int = 4 << 20,
        max_small_ratio: float = 0.5,
    ) -> bool:
        """Cost-based compaction trigger (roadmap #7): manifest length or
        small-file ratio past threshold.

        Both signals come from local metadata (`len(files)` + one
        ``stat`` per file) — no data read, so callers can poll cheaply.
        The thresholds mirror Delta OPTIMIZE's policy shape: many files
        hurt even when total bytes don't (per-file open/footer cost
        dominates a scan of 1000 tiny commits), and a majority of
        small files means append granularity, not data volume, is
        setting scan cost.
        """
        meta = self._load_meta()
        files = meta.get("files", [])
        if len(files) <= 1:
            return False
        if len(files) > max_files:
            return True
        if len(files) > 8:
            sizes = []
            for f in files:
                try:
                    sizes.append(os.path.getsize(os.path.join(self.data_dir, f)))
                except OSError:
                    return False  # racing a concurrent compaction: skip
            small = sum(1 for s in sizes if s < small_file_bytes)
            return small / len(sizes) > max_small_ratio
        return False

    def maybe_compact(
        self,
        spark: SparkSession,
        max_files: int = 64,
        small_file_bytes: int = 4 << 20,
        max_small_ratio: float = 0.5,
        target_rows_per_file: int = 500_000,
    ) -> int | None:
        """Compact iff :meth:`compaction_due`; returns the post-compaction
        file count, or None when no work was needed: not due, or due but
        with nothing to merge (every small file already stands alone
        between files at the target size)."""
        if not self.compaction_due(max_files, small_file_bytes, max_small_ratio):
            return None
        return self._compact(target_rows_per_file)

    def compact(self, spark: SparkSession, target_rows_per_file: int = 500_000) -> int:
        """Merge runs of small per-commit files into seq-sorted files of
        at most ``target_rows_per_file`` rows; returns the number of
        files after compaction.

        Long-running logs accumulate one file per append commit; scan
        cost grows with file count even when data volume doesn't. The
        compaction is tiered and planned from the manifest alone: a file
        that holds ``target_rows_per_file`` rows (by its recorded range,
        else its footer) is kept as it is, and each run of adjacent
        smaller files is packed greedily into groups of at most that
        many rows; a group of one file is left alone, and no input file
        is split. A log already at the target size is never rewritten,
        so a compaction costs O(new data), not O(log). Each group is
        merged in the driver through Arrow (no Spark job; memory is
        bounded by one group), sorted by seq, and written as one file;
        one atomic manifest swap commits every group, each output
        standing where its group stood, and leaves any concurrent
        post-compaction appends untouched. ``spark`` is unused; the
        signature is the one every caller passes through.

        OPTIMIZE/VACUUM separation (the Delta protocol's shape, which
        this manifest maps to): compaction does NOT delete the replaced
        files — it drops them from the manifest and records them as
        TOMBSTONES. In-flight readers (a foreachBatch micro-batch
        re-executing its scan between actions, a batch plan built from a
        pre-swap manifest) keep reading bit-identical data; deletion
        happens later via :meth:`vacuum`, gated on a retention window no
        healthy reader outlives. A file-source live tail additionally
        observes the merged files as new and re-delivers their rows
        (only those: kept files are untouched), which `LiveViewRunner`
        folds to a no-op (it folds the manifest range up to the batch's
        max seq, already covered), and the stream source reads with
        ignoreMissingFiles as a last line of defense for readers that DO
        outlive retention.
        """
        n = self._compact(target_rows_per_file)
        return len(self._load_meta()["files"]) if n is None else n

    def _compact(self, target_rows_per_file: int) -> int | None:
        """:meth:`compact`'s work; None when the plan merges nothing."""
        # plan over ONE snapshot, which the swap diffs against: a commit
        # landing mid-compaction is neither merged nor dropped
        snap = self._load_meta()
        groups, footers = self._compaction_groups(snap, target_rows_per_file)
        if not groups:
            return None
        run_id = uuid.uuid4().hex[:8]  # concurrent OCC compactors must not collide
        new_ranges = {}
        for i, group in enumerate(groups):
            # Spark-written files store ts as INT96, which Arrow reads
            # as timestamp[ns]: cast every file to the log's schema
            table = pa.concat_tables(
                pq.read_table(os.path.join(self.data_dir, f), columns=_ARROW_SCHEMA.names)
                .cast(_ARROW_SCHEMA)
                for f in group
            ).sort_by("seq")
            # a group of files without rows (empty bulk parts that older
            # logs committed) merges into no file
            if table.num_rows:
                name = f"compacted-{snap['since']:012d}-{i:05d}-{run_id}.parquet"
                new_ranges[name] = footer_range(self._write_file(table, name))
        merged = [f for group in groups for f in group]
        return self._swap_files(merged, new_ranges, known=footers)[1]

    def _compaction_groups(self, meta: dict, target: int) -> tuple[list[list[str]], dict]:
        """The tiered plan over ``meta``'s files in manifest (seq) order:
        the groups of adjacent files below ``target`` rows, packed
        greedily up to ``target`` rows, that hold two files or more; and
        the ranges read from the footers of files the manifest has none
        for (recorded by the swap, so its insertion rule sees them)."""
        ranges = meta.get("ranges", {})
        footers = {}
        groups, run, rows = [], [], 0
        for f in meta.get("files", []) + [None]:  # None closes the last run
            n, r = target, ranges.get(f)
            if r is not None:
                n = r[2]
            elif f is not None:
                md = pq.read_metadata(os.path.join(self.data_dir, f))
                footers[f] = footer_range(md)
                n = md.num_rows
            if run and (n >= target or rows + n > target):
                if len(run) > 1:
                    groups.append(run)
                run, rows = [], 0
            if n < target:
                run.append(f)
                rows += n
        return groups, {f: r for f, r in footers.items() if r is not None}

    def _swap_files(
        self, old_files: list[str], new_ranges: dict, deleted: int = 0, known: dict | None = None
    ):
        """Commit the staged files ``new_ranges`` (name -> seq range) in
        place of ``old_files``, which become TOMBSTONES. ``known`` holds
        footer-read ranges of kept files the manifest has none for, and
        the same commit records them. Each new file stands before the
        first kept file holding later seqs, so manifest order stays seq
        order: a compaction's or a redaction's output stands where its
        files stood, ahead of any appends that landed since it was
        planned. The swap is a write transaction like any other
        (re-runnable: pure recompute over the fresh manifest). Returns
        ``(committed, files after)``.

        Concurrent-rewrite guard: if ANOTHER compaction already
        replaced part of ``old_files``, the new files would DUPLICATE
        rows that compaction's output (now in the tail) already carries
        — permanently, since neither copy gets tombstoned. Abort; the
        staged files are removed one by one (they are regular files:
        ``rmtree`` would raise NotADirectoryError and silently no-op
        under ignore_errors, leaking orphans into data_dir)."""
        old = set(old_files)

        def stage(current: dict):
            if old - set(current["files"]):
                for name in new_ranges:
                    try:
                        os.remove(os.path.join(self.data_dir, name))
                    except OSError:
                        pass
                raise _NoCommit((False, len(current["files"])))
            files = [f for f in current["files"] if f not in old]
            ranges = {**(known or {}), **current.get("ranges", {})}
            ranges = {**{f: ranges[f] for f in files if f in ranges}, **new_ranges}
            for name, r in new_ranges.items():
                # a kept file without a range (written before ranges
                # were recorded) counts as later
                later = (
                    i for i, f in enumerate(files)
                    if ranges.get(f) is None or (r and ranges[f][2] and ranges[f][0] > r[0])
                )
                files.insert(next(later, len(files)), name)
            current["files"] = files
            current["ranges"] = ranges
            now = time.time()
            current["tombstones"] = current.get("tombstones", []) + [
                {"file": f, "ts": now} for f in old_files
            ]
            if deleted:
                current["deleted"] = current.get("deleted", 0) + deleted
            return True, len(current["files"])

        return self._write_txn(stage)

    def vacuum(self, older_than_seconds: float = 600.0) -> int:
        """Delete compaction-replaced (tombstoned) files past retention.

        The retention window is the contract with in-flight readers: a
        scan planned against a pre-compaction manifest stays valid for
        ``older_than_seconds`` after the swap. Returns files deleted.
        """
        def stage(meta: dict) -> int:
            tomb = meta.get("tombstones", [])
            if not tomb:
                raise _NoCommit(0)
            cutoff = time.time() - older_than_seconds
            keep = [t for t in tomb if t["ts"] > cutoff]
            drop = [t for t in tomb if t["ts"] <= cutoff]
            if not drop:
                raise _NoCommit(0)
            # deletion is idempotent: a replayed stage (commit conflict)
            # finds the files already gone and still drops the entries
            for t in drop:
                try:
                    os.remove(os.path.join(self.data_dir, t["file"]))
                except OSError:
                    pass  # already gone (e.g. destroyed dir): tombstone drops
            meta["tombstones"] = keep
            return len(drop)

        return self._write_txn(stage)

    def delete_seqs(self, spark: SparkSession, seqs) -> int:
        """Redact committed records by seq (right-to-be-forgotten).

        The swap is the compactor's, scoped to the files that can
        contain the targets: the manifest's per-file seq ranges prune it
        down to the affected files, whose footers give the row count
        before, one Spark job rewrites just those files without the
        redacted rows, and one atomic manifest commit swaps them in —
        originals become TOMBSTONES, so physical erasure completes at
        :meth:`vacuum` (the OPTIMIZE/VACUUM separation applies to
        redaction too: in-flight readers keep a consistent snapshot
        until retention expires, then the bytes are gone).

        Semantics: ``since`` does not move (it is the append watermark,
        not a row count); redacted seqs simply stop existing — ``get``
        returns None, ``stream`` skips them, and seq density is no
        longer guaranteed over redacted ranges (DENSE describes seq
        ASSIGNMENT). Views that already folded redacted records are the
        engine's job: ``Flume.delete_where`` rebuilds them. The
        manifest swap maps to Delta/Iceberg remove+add actions, so the
        export sync carries redaction to external readers unchanged.

        Returns the number of rows actually deleted. At 100 TB the
        range prune keeps the rewrite proportional to affected files
        (deletion batches cluster in recent files in practice).
        ``seqs`` may be an iterable (broadcast into the rewrite filter
        — the takedown-batch form) or a single-column DataFrame of
        seqs (anti-join rewrite — the bulk-redaction form: the target
        set never passes through the driver; only its min/max/count
        scalars do, for the range prune and the no-op check).
        """
        target_df = None
        if isinstance(seqs, DataFrame):
            seq_col = seqs.columns[0]
            target_df = seqs.select(
                F.col(seq_col).cast("long").alias("seq")
            ).distinct()
            bounds = target_df.agg(
                F.min("seq").alias("lo"),
                F.max("seq").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            if bounds["n"] == 0:
                return 0
            smin, smax = int(bounds["lo"]), int(bounds["hi"])
        else:
            targets = sorted({int(s) for s in seqs})
            if not targets:
                return 0
            smin, smax = targets[0], targets[-1]
        snap = self._load_meta()
        if snap["since"] < 0:
            return 0
        affected = files_in_range(snap, smin - 1, smax)
        if not affected:
            return 0
        paths = [os.path.join(self.data_dir, f) for f in affected]
        before = sum(pq.read_metadata(p).num_rows for p in paths)
        df = spark.read.schema(LOG_SCHEMA).parquet(*paths)
        if target_df is not None:
            remaining = df.join(target_df, "seq", "left_anti")
        else:
            remaining = df.where(~F.col("seq").isin(targets))
        tmp = os.path.join(self.path, f"redact-{uuid.uuid4().hex[:8]}")
        (
            remaining.repartitionByRange(max(1, len(affected)), "seq")
            .sortWithinPartitions("seq")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        import shutil

        run_id = uuid.uuid4().hex[:8]
        new_ranges = {}
        kept = 0
        for i, f in enumerate(
            sorted(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        ):
            src = os.path.join(tmp, f)
            md = pq.read_metadata(src)
            if md.num_rows == 0:  # don't re-manifest empty shards
                continue
            kept += md.num_rows
            name = f"redacted-{i:05d}-{run_id}.parquet"
            shutil.move(src, os.path.join(self.data_dir, name))
            new_ranges[name] = footer_range(md)
        shutil.rmtree(tmp, ignore_errors=True)
        deleted = before - kept
        committed, _ = self._swap_files(affected, new_ranges, deleted)
        return deleted if committed else 0

    def destroy(self) -> None:
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.data_dir, exist_ok=True)
        self._commit_meta({"since": -1, "commits": 0, "files": []})
        self._notify_since()


class OffsetLog(ParquetLog):
    """Byte-offset seqs — the reference's *recommended* backend shape
    (`flumelog-offset`, exercised by `test/offset.js:1-12`; seq format
    is implementation-defined per `README.md:138-140`).

    Each record's seq is the byte offset where its frame starts in a
    virtual concatenated stream; the frame is
    ``[u32 len][utf-8 payload][u32 len]`` plus a u64 running length —
    mirroring flumelog-offset's file format arithmetic without storing
    the frames (values still live in Parquet; only the seq NUMBERING
    follows byte offsets). Consumers doing seq arithmetic therefore see
    the same deltas they'd see on the reference's offset files:
    ``seq_{i+1} - seq_i == 16 + len(utf8(value_i))``.

    Everything downstream — views, gates, streams, the custom streaming
    source — requires only strictly-increasing seqs, so the whole engine
    suite runs unchanged against this backend (the reference proves the
    same property by running its full memlog suite over OffsetLog).
    """

    DENSE = False
    FRAME_OVERHEAD = 16  # 2 x u32 length frame + u64 running length

    def _assign_seqs(self, encoded: list[str], since: int, meta: dict) -> list[int]:
        # first record of an empty log sits at offset 0 (reference: the
        # file starts with a frame at byte 0); later records start where
        # the previous frame ended
        seqs = []
        pos = 0 if since < 0 else since + self._frame_of(meta)
        # record the new tail frame size in the SAME dict that rides the
        # atomic commit, so offsets stay contiguous across processes
        for e in encoded:
            seqs.append(pos)
            pos += len(e.encode("utf-8")) + self.FRAME_OVERHEAD
        meta["last_frame"] = len(encoded[-1].encode("utf-8")) + self.FRAME_OVERHEAD
        return seqs

    def _frame_of(self, meta: dict) -> int:
        lf = (meta or {}).get("last_frame")
        if lf is None:
            raise RuntimeError(
                "offset log meta missing last_frame; log written by a "
                "different backend?"
            )
        return int(lf)


class VersionedLog(ParquetLog):
    """Cross-HOST multi-writer log: versioned-manifest commits with
    lock-free optimistic concurrency (roadmap #1 — the Delta-protocol
    shape, implemented directly so it needs no connector jars).

    Protocol:

    - The manifest lives in ``_log/{version:020d}.json`` — IMMUTABLE
      files, each the full committed state (full-manifest-per-version;
      compaction bounds manifest size, so the simpler form wins over
      delta-actions + checkpoints at this scale).
    - Commit = write the new manifest to a tmp file (fsync'd), then
      ``os.link(tmp, version_path)``: link(2) fails with EEXIST
      atomically, so exactly ONE writer claims each version — an atomic
      compare-and-swap on any shared POSIX filesystem, across hosts,
      with no locks held. The loser reloads the new state and REPLAYS
      its transaction stage (stages are re-runnable by contract;
      a replayed append's staged parquet file becomes an invisible
      orphan, same as a torn write).
    - Readers open the highest version present — published via link of
      a fully-written file, so never torn. Old versions are pruned
      after ``keep_versions`` newer commits exist (a reader holds a
      listing for microseconds, not 16 commits).

    This is the same optimistic transaction loop Delta Lake runs
    against ``_delta_log/`` (Delta's LogStore uses put-if-absent where
    the filesystem offers it); swapping this class in place of
    ParquetLog upgrades the single-host flock to cross-host snapshot
    isolation with zero change to the read path or the engine.
    NFS caveat: requires POSIX link semantics (true for local FS and
    properly-configured NFSv4; object stores need a put-if-absent
    coordination service, which is exactly Delta's S3 story).

    Reference parity: same contract as every other backend —
    the full contract suite runs over it (tests/test_log_contract.py),
    mirroring how the reference re-runs `test/memlog.js` per backend
    (`test/offset.js:4-25`).
    """

    #: committed versions retained behind the head before pruning
    keep_versions = 16

    def __init__(self, path: str, codec="json"):
        super().__init__(path, codec=codec)
        self.txn_dir = os.path.join(path, "_log")
        os.makedirs(self.txn_dir, exist_ok=True)

    # ---- versioned manifest I/O (loaded by ``load_manifest``) --------
    def _commit_meta(self, meta: dict | None = None) -> None:
        m = self._meta if meta is None else meta
        v = int(m.get("txn_version", -1)) + 1
        body = {k: val for k, val in m.items() if k != "txn_version"}
        tmp = os.path.join(self.txn_dir, f".tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(body, f)
            f.flush()
            os.fsync(f.fileno())
        target = os.path.join(self.txn_dir, f"{v:020d}.json")
        try:
            os.link(tmp, target)  # atomic put-if-absent: the CAS
        except FileExistsError:
            raise CommitConflict(f"version {v} already committed")
        finally:
            os.remove(tmp)
        m["txn_version"] = v
        self._meta = m  # publish AFTER the durable claim (same invariant)
        self._prune_versions(v)

    def _prune_versions(self, head: int) -> None:
        for f in _version_files(self.txn_dir):
            try:
                if int(f.split(".")[0]) <= head - self.keep_versions:
                    os.remove(os.path.join(self.txn_dir, f))
            except (ValueError, OSError):
                pass  # racing another pruner: someone removed it first

    # ---- optimistic write transactions -------------------------------
    def _write_txn(self, stage):
        """Lock-free: load → stage → CAS-commit; on conflict reload the
        winner's state and replay the stage. Bounded retries guard
        against livelock under pathological contention (64 writers all
        replaying forever is a deployment error, not a state this class
        should mask)."""
        last_err: Exception | None = None
        for _ in range(256):
            meta = self._load_meta()
            if self._meta is None:
                self._meta = self._load_meta()
            try:
                result = stage(meta)
            except _NoCommit as nc:
                return nc.result
            try:
                self._commit_meta(meta)
            except CommitConflict as err:
                last_err = err
                continue
            return result
        raise RuntimeError(f"versioned log: commit contention exhausted retries: {last_err}")

    def destroy(self) -> None:
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.txn_dir, exist_ok=True)
        self._commit_meta({"since": -1, "commits": 0, "files": []})
        self._notify_since()
