"""Live log tails and always-on view maintenance (O6, SURVEY §2.A).

The reference's live feed is ``stream({gt: upto, live: true})`` — emit
the existing suffix, then keep emitting new appends in seq order
(`index.js:39`, `README.md:133`). Structured Streaming gives the same
semantics over the log:

- **source**: either ``readStream`` with the file source over the log's
  data dir (``source="files"``, the default, :func:`stream_log`) or the
  offset-native Python DataSource whose offsets are the log's ``since``
  (``source="datasource"``, ``sources/flumelog_source.py``). The
  checkpointed offset is the reference's ``since`` resume point
  (`index.js:39` ``opts.gt = upto`` ≙ checkpoint recovery — SURVEY §4
  calls this the most load-bearing mapping in the design).
- **sink**: ``foreachBatch`` with one fold path for both sources. A
  micro-batch only says how far the log has grown (its max seq); the
  rows folded are the committed range ``(view.since, head]`` read from
  the manifest by the gate's own feed (``Flume._feed``). Files no
  commit lists (a torn append, an OCC loser's staged replay) and files
  compaction has replaced are therefore never folded as records. The
  view's atomic ``(state, since)`` commit is the idempotent sink: a
  redelivered batch finds ``since`` already past it and folds nothing
  (exactly-once, Structured Streaming, SIGMOD 2018; SURVEY §7.4.2).

At scale the source becomes a real log bus (Kafka/Delta CDF) with the
identical contract: ordered offsets + checkpointed resume.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..log import LOG_SCHEMA, ParquetLog

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
DEFAULT_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession, enabled: bool = True) -> None:
    """Route streaming state to the RocksDB provider.

    At 100 TB of keyed state (windowed aggs, applyInPandasWithState
    accumulators, stream-stream join buffers) the default
    HDFSBackedStateStoreProvider keeps every version in executor JVM
    heap — an OOM ceiling; RocksDB keeps state off-heap on local disk
    with incremental changelog checkpointing. The provider is read when
    a query STARTS, so call this before ``writeStream.start()`` /
    ``LiveViewRunner.start()``. Verified available in this build
    (tests/test_streaming.py::test_rocksdb_state_store_stateful_agg).
    """
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_PROVIDER if enabled else DEFAULT_PROVIDER,
    )


def stream_log(
    spark: SparkSession,
    log: ParquetLog,
    gt: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded ``(seq, ts, value)`` stream over the log (O6).

    ``gt`` bounds the start like the reference's ``{gt: upto}``; new
    appends keep flowing until the query stops. The file source lists
    the data dir itself, so it also delivers files no commit lists (a
    torn append, an OCC loser's staged replay) and compaction's
    replacements of rows already seen; :class:`LiveViewRunner` reads only
    the batch's max seq, so neither reaches a view.
    """
    # compaction keeps the replaced files as tombstones until vacuum;
    # ignoreMissingFiles covers a reader that outlives the retention
    reader = spark.readStream.schema(LOG_SCHEMA).option("ignoreMissingFiles", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(log.data_dir)
    if gt is not None:
        df = df.where(F.col("seq") > F.lit(int(gt)))
    return df


class LiveViewRunner:
    """Always-on maintenance for a registered view: the streaming form of
    the engine's read-time catch-up loop (O9).

    ``start()`` launches a foreachBatch query resuming from the view's
    persisted ``since``; each micro-batch folds the committed log up to
    the batch's last seq through the engine's feed and commits
    atomically. Reads through the engine's gate stay correct whether
    maintenance is read-driven or stream-driven.
    """

    def __init__(
        self,
        engine,
        name: str,
        checkpoint_dir: str | None = None,
        source: str = "files",
    ):
        self.engine = engine
        self.view = engine._views[name]
        self.checkpoint_dir = checkpoint_dir or f"{engine.dir}/checkpoints/{name}"
        self.source = source  # "files" | "datasource" (flumelog custom source)
        self.query = None

    def _fold_batch(self, batch: DataFrame, epoch_id: int) -> None:
        mx = batch.agg(F.max("seq").alias("m")).collect()[0].m
        if mx is None:
            return
        # A seq past the committed head is normally an append whose
        # commit is in flight: poll the manifest for up to 5 s, outside
        # the engine lock so the wait stalls no gated read. Past that,
        # fail the batch: the checkpoint does not advance, and the
        # supervisor's restart redelivers it once the commit lands. A
        # never-committed orphan's seqs are reassigned by a later
        # commit, which then covers them.
        deadline = time.monotonic() + 5.0
        while (head := self.engine.log.refresh_since()) < mx:
            if time.monotonic() >= deadline:
                raise RuntimeError(
                    f"micro-batch carries seq {mx} past the committed head "
                    f"{head} after the grace window (an uncommitted append or "
                    "an orphan file); failing the batch so the checkpoint "
                    "does not advance"
                )
            time.sleep(0.05)
        # Serialize with the engine's read-driven catch-up (Flume._gate
        # folds under the same lock), or both paths could fold one range
        # and double-index append-style views (Level/Search/Bloom).
        # view.since is read only after acquiring, so a range the reader
        # or an earlier batch already folded is a no-op. Fold errors
        # propagate: the query fails and the supervisor restarts it.
        with self.engine._lock:
            if self.view.since < head:
                self.engine._feed(self.view, self.view.since, head)

    def start(self, trigger_seconds: float | None = None):
        if self.source == "datasource":
            from ..sources.flumelog_source import stream_log_custom

            src = stream_log_custom(self.engine.spark, self.engine.log).where(
                F.col("seq") > F.lit(self.view.since)
            )
        else:
            src = stream_log(self.engine.spark, self.engine.log, gt=self.view.since)
        writer = (
            src.writeStream.option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(self._fold_batch)
            .outputMode("append")
        )
        if trigger_seconds is not None:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        self.query = writer.start()
        return self.query

    def process_all_available(self) -> None:
        """Synchronous catch-up barrier (the streaming ``ready()``)."""
        self.query.processAllAvailable()

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time windowed counts with late-data watermarking — the
    standard tumbling/sliding aggregation over a log-derived stream
    (extension beyond reference parity; SURVEY §2.C streaming row)."""
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), F.col("w.end").alias("win_end"), "n")
    )


def sessionized_event_counts(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    key: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming gap-based sessionization per key (``session_window``
    + watermark, append mode): dynamic-size windows that merge while
    events keep arriving within ``gap`` and emit once the watermark
    passes the session end (last event + gap). The streaming twin of
    the batch ``sessionize_30min`` row. State is one open session per
    active key — bounded by key cardinality, evicted on emission."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key))
        .agg(F.count("*").alias("n"))
        .select(
            key,
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n",
        )
    )


def dedup_within_watermark(
    events_stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state — the streaming twin of
    ns_dedup_exact, and the op a live ingest pipeline actually runs:
    ``dropDuplicates([*keys, ts_col])`` under a watermark keeps one
    state entry per distinct (key, event-time) and evicts entries once
    the watermark passes their event time, so state is O(arrival skew),
    not O(stream length). A duplicate arriving while its twin's state
    is live is dropped; one arriving after eviction is either dropped
    by the late-event filter or (inside the filter/eviction lag window)
    re-emitted — semantics empirically pinned in
    tests/test_streaming.py::test_stream_dedup_watermark_semantics."""
    return events_stream.withWatermark(ts_col, watermark).dropDuplicates(
        [*keys, ts_col]
    )


def windowed_hll_registers(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming HLL distinct sketch per event-time window: the
    deterministic register formulation (md5-derived 60-bit hash,
    bucket = hv % 256, rho = leading-zero rank — the exact arithmetic
    of the batch `ns_hll_user_estimate` row) expressed as a windowed
    ``max`` aggregate. Because register update is max() — associative,
    commutative — Spark's incremental streaming state IS the mergeable
    sketch: each micro-batch folds its rows into at most 256 register
    rows per open window, so state is O(windows x 256) regardless of
    stream rate, and append mode emits a window's registers exactly
    once when the watermark passes its end. Finalize emitted registers
    with :func:`hll_finalize_registers` (a batch-side 256-row-per-
    window reduction). The streaming twin of the batch HLL row — and
    the general recipe: ANY sketch whose update is a commutative
    monoid (count-min, KMV min-k) streams the same way."""
    hashed = events_stream.selectExpr(
        ts_col,
        f"CAST(conv(substring(md5(CAST({key_col} AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT) AS hv",
    ).selectExpr(
        ts_col,
        "hv % 256 AS bucket",
        "CASE WHEN hv DIV 256 = 0 THEN 53"
        " ELSE 53 - length(bin(hv DIV 256)) END AS rho",
    )
    return (
        hashed.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col("bucket"))
        .agg(F.max("rho").alias("rho"))
        .select(F.col("w.start").alias("win_start"), "bucket", "rho")
    )


def hll_finalize_registers(registers: DataFrame) -> DataFrame:
    """Turn emitted (win_start, bucket, rho) register rows into the
    per-window estimate, with the same constants and small-range
    linear-counting branch as the batch HLL row (bit-identical
    arithmetic: the branch threshold is a precomputed double literal,
    all register sums are exact BIGINTs)."""
    per = registers.groupBy("win_start").agg(
        F.expr("CAST(sum(shiftleft(CAST(1 AS BIGINT), 53 - rho)) AS BIGINT)")
        .alias("s_present"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n_present"),
    )
    return per.selectExpr(
        "win_start",
        "CAST(s_present + (256 - n_present) * 9007199254740992 AS BIGINT) AS s53",
        "CAST(256 - n_present AS BIGINT) AS v_zero",
    ).selectExpr(
        "win_start",
        "s53",
        "v_zero",
        "CASE WHEN CAST(s53 AS DOUBLE) >= 6.624895351417025e+17 AND v_zero > 0"
        " THEN round(256.0 * ln(256.0 / v_zero), 4)"
        " ELSE round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0"
        " * 9007199254740992.0 / CAST(s53 AS DOUBLE), 4) END AS hll_estimate",
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "30 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream watermarked INTERVAL join (the one major
    Structured Streaming capability the family lacked, VERDICT-r7 #2):
    match every left-stream row (e.g. purchase) to all right-stream
    rows (e.g. clicks) satisfying ``on`` with ``right_ts`` in
    ``(left_ts - lookback, left_ts]`` — the streaming twin of the batch
    ``interval_join_events`` row, inner join, append mode (the only
    mode stream-stream joins support).

    Both sides carry watermarks and the join condition bounds event
    time on both sides, so Spark derives state-cleanup thresholds for
    BOTH buffers: a right row is evicted once the watermark passes
    ``right_ts + lookback`` (no future left row surviving the late
    filter can match it), a left row once it passes ``left_ts`` — state
    is O(arrival rate x (lookback + lateness)), never O(stream length).
    At 100 TB this runs on the RocksDB state store
    (:func:`use_rocksdb_state_store`) partitioned by the join key.

    Late-data semantics inherit the pinned global-watermark rules
    (multipleWatermarkPolicy = min across the two sources; the
    late-event filter in batch N uses the watermark through batch N-2
    — probe-pinned in tests/test_streaming.py::
    test_stream_interval_join_semantics).

    ``how="left_outer"`` additionally emits every unmatched left row
    null-extended once it is provably unmatchable. Empirically pinned
    null-emission rule (probe: test_stream_interval_join_left_boundary):
    eviction in batch N uses the GLOBAL watermark at batch start (min
    across both sources of floor-to-ms(max event time seen) - delay),
    and an unmatched left row emits iff left_ts <= wm - 1ms — a row AT
    the watermark millisecond is held, anything below emits. The final
    cumulative threshold is the all-data global watermark - 1ms."""
    cond = F.expr(
        f"{on} AND {right_ts} <= {left_ts}"
        f" AND {right_ts} > {left_ts} - INTERVAL {lookback}"
    )
    return (
        left.withWatermark(left_ts, watermark)
        .join(right.withWatermark(right_ts, watermark), cond, how)
    )


def enrich_stream_static(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "left",
) -> DataFrame:
    """Stream-STATIC enrichment join — the third join capability the
    streaming family exercises (windowed aggs, stream-stream interval
    joins, and now the dimension lookup every live ingest runs before
    anything else). The static side is broadcast-hinted: a dimension
    table joined per micro-batch must never shuffle the stream; at
    100 TB the dim is either broadcastable (the normal case) or the
    join key pre-partitions the stream once. Stateless — no watermark,
    no state store: every stream row passes through exactly once with
    its enrichment, so append mode needs no late-data semantics at
    all (the oracle is a plain batch join)."""
    return stream.join(F.broadcast(dim), on, how)
