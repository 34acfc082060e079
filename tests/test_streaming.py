"""O6 live-tail + always-on view maintenance via Structured Streaming."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from flumedb_spark import Flume, NativeStats
from flumedb_spark.log import OffsetLog, ParquetLog, VersionedLog, load_manifest
from flumedb_spark.streaming.live import (
    LiveViewRunner,
    stream_log,
    windowed_event_counts,
)


def test_live_tail_stream_memory_sink(spark, tmp_log_dir, tmp_path):
    # O6: bounded prefix delivered, then new appends keep flowing
    db = Flume(tmp_log_dir, spark=spark)
    db.append([{"foo": i} for i in range(3)])
    src = stream_log(spark, db.log)
    q = (
        src.writeStream.format("memory")
        .queryName("tail_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        seqs = [r.seq for r in spark.sql("SELECT seq FROM tail_out ORDER BY seq").collect()]
        assert seqs == [0, 1, 2]
        db.append([{"foo": 3}, {"foo": 4}])  # live appends
        q.processAllAvailable()
        seqs = [r.seq for r in spark.sql("SELECT seq FROM tail_out ORDER BY seq").collect()]
        assert seqs == [0, 1, 2, 3, 4]
    finally:
        q.stop()
    db.close()


def test_live_view_maintenance_foreachbatch(spark, tmp_log_dir):
    # always-on maintenance: stream feeds the view, gated read agrees
    db = Flume(tmp_log_dir, spark=spark).use("stats", NativeStats(1, field="foo"))
    db.append([{"foo": 1}, {"foo": 3}])
    runner = LiveViewRunner(db, "stats")
    runner.start()
    try:
        runner.process_all_available()
        assert db.stats.since == 1
        # read WITHOUT the engine-driven catch-up (since=-1 -> no gate):
        # the stream already folded everything
        s = db.stats.get(since=-1)
        assert s["count"] == 2 and s["mean"] == 2
        db.append({"foo": 5})
        runner.process_all_available()
        s = db.stats.get(since=-1)
        assert s["count"] == 3 and s["mean"] == 3
    finally:
        runner.stop()
    db.close()


def test_stream_resume_from_checkpoint(spark, tmp_log_dir):
    # O9 resume: restart the maintenance query; no loss, no double-count
    db = Flume(tmp_log_dir, spark=spark).use("stats", NativeStats(1, field="foo"))
    db.append([{"foo": 2}, {"foo": 4}])
    runner = LiveViewRunner(db, "stats")
    runner.start()
    runner.process_all_available()
    runner.stop()
    assert db.stats.get(since=-1)["count"] == 2
    db.append({"foo": 6})
    runner2 = LiveViewRunner(db, "stats")
    runner2.start()
    try:
        runner2.process_all_available()
        s = db.stats.get(since=-1)
        assert s["count"] == 3 and s["sum"] == 12  # folded exactly once each
    finally:
        runner2.stop()
    db.close()


def test_windowed_counts_with_watermark(spark, tmp_log_dir, tmp_path):
    # event-time tumbling windows + watermark over a log-derived stream
    db = Flume(tmp_log_dir, spark=spark)
    db.append([{"foo": i} for i in range(10)])
    src = stream_log(spark, db.log)
    agg = windowed_event_counts(src, window="1 minute", watermark="2 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM win_out").collect()
        assert sum(r.n for r in rows) == 10
        assert all(r.win_end > r.win_start for r in rows)
    finally:
        q.stop()
    db.close()


def test_stateful_running_key_stats(spark, tmp_log_dir, tmp_path):
    # applyInPandasWithState: per-key accumulator across micro-batches
    from flumedb_spark.streaming.stateful import parsed_log_stream, running_key_stats

    db = Flume(tmp_log_dir, spark=spark)
    db.append([{"user_id": u, "value": float(v)} for u, v in [(1, 10), (2, 5), (1, 20)]])
    src = parsed_log_stream(stream_log(spark, db.log))
    out = running_key_stats(src)
    q = (
        out.writeStream.format("memory")
        .queryName("state_out")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            r.user_id: (r.n, r.total)
            for r in spark.sql(
                "SELECT user_id, n, total FROM (SELECT *, row_number() OVER "
                "(PARTITION BY user_id ORDER BY last_seq DESC, n DESC) AS rn "
                "FROM state_out) WHERE rn = 1"
            ).collect()
        }
        assert rows[1] == (2, 30.0) and rows[2] == (1, 5.0)
        # state persists across micro-batches: new append accumulates
        db.append({"user_id": 1, "value": 5.0})
        q.processAllAvailable()
        rows = {
            r.user_id: (r.n, r.total)
            for r in spark.sql(
                "SELECT user_id, n, total FROM (SELECT *, row_number() OVER "
                "(PARTITION BY user_id ORDER BY last_seq DESC, n DESC) AS rn "
                "FROM state_out) WHERE rn = 1"
            ).collect()
        }
        assert rows[1] == (3, 35.0)
    finally:
        q.stop()
    db.close()


def test_supervisor_maintains_all_views(spark, tmp_log_dir):
    from flumedb_spark.streaming.supervisor import ViewSupervisor, wait_until

    db = Flume(tmp_log_dir, spark=spark)
    db.use("stats", NativeStats(1, field="foo"))
    db.use("stats2", NativeStats(1, field="foo"))
    db.append([{"foo": 2}, {"foo": 4}])
    sup = ViewSupervisor(db).start()
    try:
        sup.process_all_available()
        assert db.stats.get(since=-1)["count"] == 2
        assert db.stats2.get(since=-1)["count"] == 2
        db.append({"foo": 6})
        sup.process_all_available()
        assert wait_until(lambda: db.stats.get(since=-1)["count"] == 3)
        assert db.stats2.get(since=-1)["sum"] == 12
    finally:
        sup.stop()
    db.close()


def test_supervisor_clean_stop_is_not_restarted(spark, tmp_log_dir):
    """A CLEANLY-stopped maintenance query is deliberately NOT
    restarted by the supervisor (only failed queries are — that path
    is covered by test_supervisor_recovers_from_failing_fold); gated
    reads still self-heal through the engine's own catch-up (O10).
    (Previously named *_restarts_failed_query, which it never
    tested.)"""
    from flumedb_spark.streaming.supervisor import ViewSupervisor, wait_until

    db = Flume(tmp_log_dir, spark=spark)
    db.use("stats", NativeStats(1, field="foo"))
    db.append([{"foo": 1}, {"foo": 3}])
    sup = ViewSupervisor(db, poll_interval=0.2).start()
    try:
        sup.process_all_available()
        assert db.stats.get(since=-1)["count"] == 2
        sup.runners["stats"].query.stop()
        assert wait_until(lambda: not sup.runners["stats"].query.isActive)
        # give the monitor a couple of poll cycles: it must NOT restart
        import time as _t

        _t.sleep(0.6)
        assert not sup.runners["stats"].query.isActive
        assert sup.restarts.get("stats", 0) == 0
        db.append({"foo": 5})
        # gated read still self-heals through the engine path (O10)
        assert db.stats.get()["count"] == 3
    finally:
        sup.stop()
    db.close()


def test_supervisor_recovers_from_failing_fold(spark, tmp_log_dir, tmp_path):
    # a genuinely failing maintenance query: the reducer faults until the
    # flag file is consumed; the supervisor must destroy + restart and
    # the replay then succeeds (index.js:56-75 as a service)
    from flumedb_spark import Reduce
    from flumedb_spark.streaming.supervisor import ViewSupervisor, wait_until

    flag = str(tmp_path / "fail_once_stream")
    with open(flag, "w") as f:
        f.write("1")

    def flaky(acc, item, _flag=flag):
        import os as _os

        if item["foo"] == 3 and _os.path.exists(_flag):
            _os.remove(_flag)
            raise RuntimeError("transient stream fault")
        return (acc or 0) + item["foo"]

    db = Flume(tmp_log_dir, spark=spark)
    db.use("sum", Reduce(1, flaky))
    db.append([{"foo": 1}, {"foo": 3}, {"foo": 5}])
    sup = ViewSupervisor(db, poll_interval=0.2).start()
    try:
        # first run fails on foo==3; supervisor restarts; replay succeeds
        assert wait_until(lambda: db.sum.get(since=-1) == 9, timeout=90)
        assert sup.restarts.get("sum", 0) >= 1
    finally:
        sup.stop()
    db.close()


def test_custom_datasource_stream(spark, tmp_log_dir, tmp_path):
    # the Python Data Source API form of O6: offsets ARE log seqs
    from flumedb_spark.sources.flumelog_source import stream_log_custom

    db = Flume(tmp_log_dir, spark=spark)
    db.append([{"foo": i} for i in range(3)])
    src = stream_log_custom(spark, db.log)
    q = (
        src.writeStream.format("memory")
        .queryName("cds_out")
        .option("checkpointLocation", str(tmp_path / "cds_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        seqs = [r.seq for r in spark.sql("SELECT seq FROM cds_out ORDER BY seq").collect()]
        assert seqs == [0, 1, 2]
        db.append([{"foo": 3}, {"foo": 4}])
        q.processAllAvailable()
        seqs = [r.seq for r in spark.sql("SELECT seq FROM cds_out ORDER BY seq").collect()]
        assert seqs == [0, 1, 2, 3, 4]
        # values arrive intact through the custom reader
        vals = [r.value for r in spark.sql("SELECT value FROM cds_out ORDER BY seq").collect()]
        import json as _json

        assert [_json.loads(v)["foo"] for v in vals] == [0, 1, 2, 3, 4]
        # compaction between micro-batches must not disturb the stream
        db.log.compact(spark, target_rows_per_file=100)
        db.append({"foo": 5})
        q.processAllAvailable()
        seqs = [r.seq for r in spark.sql("SELECT seq FROM cds_out ORDER BY seq").collect()]
        assert seqs == [0, 1, 2, 3, 4, 5]  # no duplicates, no loss
    finally:
        q.stop()
    db.close()


def test_live_runner_with_custom_source(spark, tmp_log_dir):
    db = Flume(tmp_log_dir, spark=spark).use("stats", NativeStats(1, field="foo"))
    db.append([{"foo": 2}, {"foo": 4}])
    runner = LiveViewRunner(db, "stats", source="datasource")
    runner.start()
    try:
        runner.process_all_available()
        assert db.stats.get(since=-1)["count"] == 2
        db.append({"foo": 6})
        runner.process_all_available()
        assert db.stats.get(since=-1)["sum"] == 12
    finally:
        runner.stop()
    db.close()


def test_live_runner_with_custom_source_on_versioned_log(spark, tmp_log_dir):
    # the offset-native source loads the manifest the way the log does:
    # a VersionedLog keeps it in _log/ versions and writes no meta.json,
    # so a source reading meta.json sat at since -1 and never folded
    from flumedb_spark.log import VersionedLog

    db = Flume(VersionedLog(tmp_log_dir), spark=spark).use("stats", NativeStats(1, field="foo"))
    db.append([{"foo": 2}, {"foo": 4}])
    runner = LiveViewRunner(db, "stats", source="datasource")
    runner.start()
    try:
        runner.process_all_available()
        assert db.stats.since == db.since
        db.append({"foo": 6})
        runner.process_all_available()
        assert db.stats.since == db.since
        live = db.stats.get(since=-1)
    finally:
        runner.stop()
    gated = Flume(VersionedLog(tmp_log_dir), spark=spark).use("fresh", NativeStats(1, field="foo"))
    assert live == gated.fresh.get() and live["sum"] == 12
    gated.close()
    db.close()


_BACKENDS = {"parquet": ParquetLog, "offset": OffsetLog, "versioned": VersionedLog}


@pytest.mark.parametrize("source", ["files", "datasource"])
@pytest.mark.parametrize("kind", ["parquet", "offset", "versioned"])
def test_live_runner_over_backends(spark, tmp_log_dir, kind, source):
    """Both live sources fold exactly once on every log backend, across a
    compaction between micro-batches, and the live fold is metered like
    a gated fold (``meta["items"]`` = rows folded)."""
    db = Flume(_BACKENDS[kind](tmp_log_dir), spark=spark)
    db.use("stats", NativeStats(1, field="foo"))
    db.append([{"foo": 1}, {"foo": 2}])
    db.append({"foo": 3})
    runner = LiveViewRunner(db, "stats", source=source)
    runner.start()
    try:
        runner.process_all_available()
        s = db.stats.get(since=-1)
        assert (s["count"], s["sum"]) == (3, 6)
        db.log.compact(spark, target_rows_per_file=100)
        db.append([{"foo": 4}, {"foo": 5}])
        runner.process_all_available()
        assert db.stats.since == db.since
        s = db.stats.get(since=-1)
        assert (s["count"], s["sum"]) == (5, 15)
        assert db.stats.meta["items"] == 5
    finally:
        runner.stop()
    db.close()


@pytest.mark.parametrize("kind", ["parquet", "offset"])
def test_datasource_plans_one_partition_per_overlapping_file(tmp_log_dir, kind):
    """The offset source plans by each committed file's recorded seqs,
    never by seq arithmetic (OffsetLog seqs are byte offsets)."""
    from flumedb_spark.sources.flumelog_source import FlumeLogStreamReader

    log = _BACKENDS[kind](tmp_log_dir)
    heads = [log.append([{"foo": i}, {"foo": i + 1}]) for i in range(0, 6, 2)]
    reader = FlumeLogStreamReader(tmp_log_dir)
    files = load_manifest(tmp_log_dir)["files"]

    def planned(gt, lte):
        return [
            os.path.basename(p.file)
            for p in reader.partitions({"since": gt}, {"since": lte})
        ]

    assert planned(-1, heads[2]) == files
    assert planned(heads[0], heads[2]) == files[1:]
    assert planned(heads[0], heads[1]) == files[1:2]
    assert planned(heads[2], heads[2]) == []
    rows = [
        r
        for p in reader.partitions({"since": heads[0]}, {"since": heads[2]})
        for b in reader.read(p)
        for r in b.column("seq").to_pylist()
    ]
    assert len(rows) == 4 and min(rows) > heads[0] and max(rows) == heads[2]


def test_stream_static_enrichment_join(spark, tmp_log_dir, tmp_path):
    # stream-static join: enrich the live log stream with a dimension
    # table (broadcast per micro-batch) - the standard streaming
    # enrichment shape
    from pyspark.sql import functions as F

    db = Flume(tmp_log_dir, spark=spark)
    db.append([{"uid": 1, "v": 10}, {"uid": 2, "v": 20}, {"uid": 1, "v": 30}])
    dim = spark.createDataFrame([(1, "gold"), (2, "silver")], "uid long, tier string")
    src = stream_log(spark, db.log).select(
        "seq", F.get_json_object("value", "$.uid").cast("long").alias("uid")
    )
    enriched = src.join(F.broadcast(dim), "uid")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .option("checkpointLocation", str(tmp_path / "ck_e"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(r.seq, r.tier) for r in spark.sql("SELECT seq, tier FROM enrich_out").collect()}
        assert rows == {(0, "gold"), (1, "silver"), (2, "gold")}
        db.append({"uid": 2, "v": 40})
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) AS n FROM enrich_out").collect()[0].n == 4
    finally:
        q.stop()
    db.close()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    # exactly-once-by-key on a stream: dropDuplicatesWithinWatermark
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os as _os

    src_dir = str(tmp_path / "dd_src")
    _os.makedirs(src_dir)
    base = 1_699_999_980

    def write(name, rows):
        t = pa.Table.from_pydict(
            {
                "ts": pa.array([int((base + o) * 1e6) for o, _ in rows], pa.timestamp("us", tz="UTC")),
                "k": pa.array([k for _, k in rows], pa.string()),
            }
        )
        pq.write_table(t, _os.path.join(src_dir, name))

    write("b1.parquet", [(10, "a"), (20, "b"), (30, "a")])  # dup 'a'
    stream = spark.readStream.schema("ts timestamp, k string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    dd = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["k"])
    q = (
        dd.writeStream.format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "ck_dd"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write("b2.parquet", [(40, "a"), (50, "c")])  # 'a' again within watermark
        q.processAllAvailable()
        ks = sorted(r.k for r in spark.sql("SELECT k FROM dd_out").collect())
        assert ks == ["a", "b", "c"]  # each key exactly once
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    # stream-stream inner join with watermarks + event-time interval:
    # purchases match clicks of the same user within the preceding hour
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    base = 1_699_999_980

    def write(dirname, name, rows):
        d = str(tmp_path / dirname)
        _os.makedirs(d, exist_ok=True)
        t = pa.Table.from_pydict(
            {
                "ts": pa.array(
                    [int((base + o) * 1e6) for o, _ in rows], pa.timestamp("us", tz="UTC")
                ),
                "uid": pa.array([u for _, u in rows], pa.int64()),
            }
        )
        pq.write_table(t, _os.path.join(d, name))

    write("clicks", "c1.parquet", [(0, 1), (100, 2), (5000, 1)])
    write("purch", "p1.parquet", [(1800, 1), (2000, 3), (5400, 1)])

    clicks = (
        spark.readStream.schema("ts timestamp, uid long")
        .parquet(str(tmp_path / "clicks"))
        .withWatermark("ts", "2 hours")
        .select(F.col("uid").alias("c_uid"), F.col("ts").alias("c_ts"))
    )
    purch = (
        spark.readStream.schema("ts timestamp, uid long")
        .parquet(str(tmp_path / "purch"))
        .withWatermark("ts", "2 hours")
        .select(F.col("uid").alias("p_uid"), F.col("ts").alias("p_ts"))
    )
    joined = clicks.join(
        purch,
        F.expr("c_uid = p_uid AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
    ).select(
        "c_uid",
        (F.unix_timestamp("c_ts") - base).alias("c_off"),
        (F.unix_timestamp("p_ts") - base).alias("p_off"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ck_ssj"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r.c_uid, r.c_off, r.p_off) for r in spark.sql("SELECT * FROM ssj_out").collect()}
        # user1: click@0 matches purchase@1800 (within 1h); click@5000
        # matches purchase@5400; click@0 does NOT match purchase@5400
        # (gap > 1h); user2's click and user3's purchase never match
        assert got == {(1, 0, 1800), (1, 5000, 5400)}
        # late-arriving click still joins while within the watermark
        write("clicks", "c2.parquet", [(1900, 3)])
        q.processAllAvailable()
        got = {(r.c_uid, r.c_off, r.p_off) for r in spark.sql("SELECT * FROM ssj_out").collect()}
        assert (3, 1900, 2000) in got
    finally:
        q.stop()


def test_log_stream_sink_exactly_once(spark, tmp_path):
    """stream -> log sink: rows land in seq order, and a crash-retried
    epoch (same epoch_id redelivered) never double-appends because rows
    + epoch commit in one atomic meta rename."""
    import json as _json

    from flumedb_spark.log import ParquetLog
    from flumedb_spark.sources.readers import log_stream_sink

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    sink_log = ParquetLog(str(tmp_path / "sinklog"))

    stream = (
        spark.readStream.schema("k long, v string").json(src_dir)
    )
    q = log_stream_sink(stream, sink_log, str(tmp_path / "ckpt"))
    try:
        with open(os.path.join(src_dir, "a.jsonl"), "w") as f:
            for i in range(5):
                f.write(_json.dumps({"k": i, "v": f"x{i}"}) + "\n")
        q.processAllAvailable()
        rows = sink_log.df(spark).orderBy("seq").collect()
        assert [_json.loads(r.value)["k"] for r in rows] == [0, 1, 2, 3, 4]

        # crash-retry simulation: redeliver through the REAL sink writer
        # with an already-committed epoch -> no-op. The epoch comes from
        # the QUERY's own progress (what Spark would redeliver on a
        # crash-retry), NOT from the sink's bookkeeping — reading
        # sink_log._meta['sink_epoch'] here would be circular: it is the
        # exact field the dedup guard compares against, so a sink that
        # recorded the WRONG epoch would still pass.
        from flumedb_spark.sources.readers import make_log_batch_writer

        batch = spark.createDataFrame([(9, "dup")], "k long, v string")
        epoch = int(q.lastProgress["batchId"])
        make_log_batch_writer(sink_log)(batch, epoch)
        assert sink_log.df(spark).count() == 5
        # the guard holds for every epoch Spark could retry (0..last)
        for past in range(epoch + 1):
            make_log_batch_writer(sink_log)(batch, past)
        assert sink_log.df(spark).count() == 5
        # and a NEW epoch appends normally
        with open(os.path.join(src_dir, "b.jsonl"), "w") as f:
            f.write(_json.dumps({"k": 5, "v": "x5"}) + "\n")
        q.processAllAvailable()
        assert sink_log.df(spark).count() == 6
    finally:
        q.stop()


def test_stream_stream_left_outer_join_emits_nulls(spark, tmp_path):
    # LEFT OUTER stream-stream join: an unmatched click emits
    # (click, null) only after BOTH watermarks pass its join window —
    # the stateful null-emission semantics the inner join can't show
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    base = 1_699_999_980

    def write(dirname, name, rows):
        d = str(tmp_path / dirname)
        _os.makedirs(d, exist_ok=True)
        t = pa.Table.from_pydict(
            {
                "ts": pa.array(
                    [int((base + o) * 1e6) for o, _ in rows],
                    pa.timestamp("us", tz="UTC"),
                ),
                "uid": pa.array([u for _, u in rows], pa.int64()),
            }
        )
        pq.write_table(t, _os.path.join(d, name))

    write("clicks", "c1.parquet", [(0, 1), (10, 2)])
    write("purch", "p1.parquet", [(1800, 1)])

    clicks = (
        spark.readStream.schema("ts timestamp, uid long")
        .parquet(str(tmp_path / "clicks"))
        .withWatermark("ts", "10 minutes")
        .select(F.col("uid").alias("c_uid"), F.col("ts").alias("c_ts"))
    )
    purch = (
        spark.readStream.schema("ts timestamp, uid long")
        .parquet(str(tmp_path / "purch"))
        .withWatermark("ts", "10 minutes")
        .select(F.col("uid").alias("p_uid"), F.col("ts").alias("p_ts"))
    )
    joined = clicks.join(
        purch,
        F.expr("c_uid = p_uid AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
        "leftOuter",
    ).select(
        "c_uid",
        (F.unix_timestamp("c_ts") - base).alias("c_off"),
        (F.unix_timestamp("p_ts") - base).alias("p_off"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_outer")
        .option("checkpointLocation", str(tmp_path / "ck_ssj_outer"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.c_uid, r.c_off, r.p_off)
            for r in spark.sql("SELECT * FROM ssj_outer").collect()
        }
        assert (1, 0, 1800) in got  # inner match flows immediately
        assert (2, 10, None) not in got  # null held: window still open
        # advance BOTH watermarks far past click@10's 1h window...
        write("clicks", "c2.parquet", [(20000, 9)])
        write("purch", "p2.parquet", [(20000, 9)])
        q.processAllAvailable()
        q.processAllAvailable()  # null emission lands on a later trigger
        got = {
            (r.c_uid, r.c_off, r.p_off)
            for r in spark.sql("SELECT * FROM ssj_outer").collect()
        }
        assert (2, 10, None) in got  # ...and the unmatched click emits
    finally:
        q.stop()


def test_stateful_rocksdb_state_store(spark, tmp_log_dir, tmp_path):
    # roadmap #2: the SAME stateful operator under the RocksDB state
    # store provider (rocksdbjni ships with Spark — no operator change,
    # exactly the claimed seam). At real state sizes this is the
    # provider that keeps executor heap flat.
    from flumedb_spark.streaming.stateful import parsed_log_stream, running_key_stats

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    db = Flume(tmp_log_dir, spark=spark)
    try:
        db.append([{"user_id": u, "value": float(v)} for u, v in [(7, 1), (7, 2), (8, 4)]])
        src = parsed_log_stream(stream_log(spark, db.log))
        q = (
            running_key_stats(src)
            .writeStream.format("memory")
            .queryName("rocks_out")
            .option("checkpointLocation", str(tmp_path / "ck_rocks"))
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            db.append({"user_id": 7, "value": 4.0})  # across micro-batches
            q.processAllAvailable()
            rows = {
                r.user_id: (r.n, r.total)
                for r in spark.sql(
                    "SELECT user_id, n, total FROM (SELECT *, row_number() OVER "
                    "(PARTITION BY user_id ORDER BY last_seq DESC, n DESC) AS rn "
                    "FROM rocks_out) WHERE rn = 1"
                ).collect()
            }
            assert rows[7] == (3, 7.0) and rows[8] == (1, 4.0)
            # proof it actually ran on RocksDB: the provider materializes
            # its working dir under the checkpoint's state store path
            import glob as _glob

            assert _glob.glob(str(tmp_path / "ck_rocks" / "state" / "**" / "*.zip"), recursive=True) or _glob.glob(
                str(tmp_path / "ck_rocks" / "state" / "**" / "*.changelog"), recursive=True
            ) or any(
                "rocksdb" in p.lower()
                for p in _glob.glob(str(tmp_path / "ck_rocks" / "state" / "**" / "*"), recursive=True)
            )
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    db.close()


def test_stream_fold_ignores_uncommitted_orphan_files(spark, tmp_log_dir):
    """The file source discovers the data dir directly, so an ORPHAN
    parquet (torn append / OCC-loser replay: file written, never
    manifest-committed) is delivered to the fold. r4 contract: while the
    orphan's seqs exceed the committed head it is indistinguishable from
    an IN-FLIGHT append whose commit is slow, so the batch FAILS (the
    checkpoint must not advance — silently dropping a slow commit would
    lose its rows forever); once the real commit covers those seqs the
    redelivered batch folds the committed range from the manifest, which
    never lists the orphan."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    db = Flume(tmp_log_dir, spark=spark).use("stats", NativeStats(1, field="foo"))
    db.append([{"foo": 1}, {"foo": 3}])  # committed seqs 0, 1

    # plant an orphan holding the NEXT seq (2) with a bogus value — the
    # exact artifact a crashed append leaves behind
    orphan = pa.table(
        {
            "seq": pa.array([2], pa.int64()),
            "ts": pa.array([0], pa.timestamp("us")),
            "value": pa.array(['{"foo": 999}']),
        }
    )
    pq.write_table(orphan, os.path.join(db.log.data_dir, "0000000002-deadbeef.parquet"))

    runner = LiveViewRunner(db, "stats")
    runner.start()
    try:
        # seq 2 > committed head 1: could be an in-flight commit — the
        # batch must FAIL (not silently drop), checkpoint un-advanced
        with _pytest.raises(Exception, match="uncommitted|grace"):
            runner.process_all_available()
        assert db.stats.since <= 1  # nothing bogus folded
    finally:
        runner.stop()

    # the REAL seq-2 record commits (different value, fresh file name);
    # a restarted runner redelivers from the un-advanced checkpoint, now
    # drops the orphan (its seqs are covered by the committed head) and
    # folds only committed rows
    db.append({"foo": 5})
    runner2 = LiveViewRunner(db, "stats")
    runner2.start()
    try:
        runner2.process_all_available()
        s = db.stats.get(since=-1)
        assert s["count"] == 3 and s["mean"] == 3  # 1, 3, 5 — not 999
        assert db.stats.since == 2
    finally:
        runner2.stop()
    db.close()


def test_stream_windowed_counts_batch_lag(spark, tmp_path):
    """Pins the Spark watermark semantics the stream_windowed_counts
    oracle encodes: the late-event filter in batch N uses the watermark
    from data through batch N-2 (one batch BEHIND eviction), so a late
    row arriving in the same batch as its window's eviction is still
    merged, while one arriving a batch later is dropped."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    sd = tmp_path / "in"
    sd.mkdir()
    # b0: hour-0 row + hour-10 row  -> wm after b0 = 09:30
    pq.write_table(
        pa.table({"ts": [t0, t0 + dt.timedelta(hours=10)]}), str(sd / "b0.parquet")
    )
    # b1: benign hour-10 row; eviction wm = 09:30 emits window 0 (n=1);
    # late filter still uses the initial wm, so nothing is dropped here
    pq.write_table(
        pa.table({"ts": [t0 + dt.timedelta(hours=10, minutes=5)]}),
        str(sd / "b1.parquet"),
    )
    # b2: late hour-0 row AFTER eviction -> filtered (wm after b0 = 09:30)
    pq.write_table(
        pa.table({"ts": [t0 + dt.timedelta(minutes=1)]}), str(sd / "b2.parquet")
    )
    for i in range(3):
        os.utime(sd / f"b{i}.parquet", (1_700_000_000 + i * 100,) * 2)
    src = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sd))
    )
    agg = (
        src.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("s"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_lag_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        s["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for s in p["stateOperators"]
    )
    rows = {r.s: r.n for r in spark.sql("SELECT * FROM wm_lag_out").collect()}
    # window 0 emitted with ONLY the b0 row (late b2 row dropped), and
    # window 10 withheld (end 11:00 > final wm 09:35)
    assert rows == {t0: 1}
    assert dropped == 1


def test_rocksdb_state_store_stateful_agg(spark, tmp_log_dir, tmp_path):
    """The 100 TB state-store posture: the RocksDB provider (off-heap
    state, incremental changelog checkpoints) must actually run in this
    build — drive the applyInPandasWithState accumulator under it and
    confirm both the results and the rocksdb metrics in progress."""
    from flumedb_spark.streaming.live import (
        DEFAULT_PROVIDER,
        use_rocksdb_state_store,
    )
    from flumedb_spark.streaming.stateful import parsed_log_stream, running_key_stats

    use_rocksdb_state_store(spark)
    try:
        db = Flume(tmp_log_dir, spark=spark)
        db.append(
            [{"user_id": u, "value": float(v)} for u, v in [(1, 10), (2, 5), (1, 20)]]
        )
        src = parsed_log_stream(stream_log(spark, db.log))
        q = (
            running_key_stats(src)
            .writeStream.format("memory")
            .queryName("rocks_out")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            rows = {
                r.user_id: (r.n, r.total)
                for r in spark.sql("SELECT * FROM rocks_out").collect()
            }
            assert rows[1] == (2, 30.0) and rows[2] == (1, 5.0)
            metrics = {
                k
                for p in q.recentProgress
                for s in p["stateOperators"]
                for k in s.get("customMetrics", {})
            }
            assert any(k.startswith("rocksdb") for k in metrics), metrics
        finally:
            q.stop()
        db.close()
    finally:
        use_rocksdb_state_store(spark, enabled=False)
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == DEFAULT_PROVIDER
        )


def test_stream_dedup_watermark_semantics(spark, tmp_path):
    """Empirical pin of Spark 4.1 dropDuplicates-under-watermark batch
    semantics (the stream_dedup_watermark oracle is derived from this):
    in batch N the late-event filter uses the watermark through batch
    N-2 while state eviction at end of N uses the watermark through
    N-1 — the two bounds COINCIDE for any duplicate, so every duplicate
    is dropped (live-state if ts >= wm, late if ts < wm) and output is
    exactly-once distinct non-late first arrivals."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from flumedb_spark.streaming.live import dedup_within_watermark

    work = str(tmp_path / "dedup_probe")
    stream_dir = os.path.join(work, "in")
    os.makedirs(stream_dir)

    def ts(h, m):
        return f"2024-01-01 {h:02d}:{m:02d}:00"

    # b0 -> wm-through-b0 = 11:30
    batches = [
        [(1, ts(10, 0)), (2, ts(12, 0))],
        # b1: dup of k=1 (10:00 < 11:30: state must still be live ->
        # dropped, NOT re-emitted), new k=3/k=4; wm-through-b1 = 12:30
        [(3, ts(11, 0)), (1, ts(10, 0)), (4, ts(13, 0))],
        # b2: dup of k=2 (12:00 >= late-wm 11:30, state live -> drop);
        # dup of k=3 (11:00 < late-wm 11:30 -> late-drop); new k=5
        # (11:45 >= 11:30 -> emit)
        [(2, ts(12, 0)), (3, ts(11, 0)), (5, ts(11, 45))],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "k long, ts string").select(
            "k", F.col("ts").cast("timestamp").alias("ts")
        )
        staged = os.path.join(work, f"st{i}")
        df.coalesce(1).write.parquet(staged)
        dst = os.path.join(stream_dir, f"b{i}.parquet")
        shutil.move(glob.glob(os.path.join(staged, "*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)

    src = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    out = dedup_within_watermark(src, keys=("k",), watermark="30 minutes", ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_probe")
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r.k, str(r.ts)) for r in spark.table("dedup_probe").collect())
    spark.catalog.dropTempView("dedup_probe")
    assert got == [
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 12:00:00"),
        (3, "2024-01-01 11:00:00"),
        (4, "2024-01-01 13:00:00"),
        (5, "2024-01-01 11:45:00"),
    ]
    # bounded state: the final progress's state operator must not be
    # holding every distinct row seen (watermark evicted old entries)
    prog = q.lastProgress
    n_state = prog["stateOperators"][0]["numRowsTotal"]
    assert n_state < 5, f"state not evicted: {n_state} rows held"


def _run_session_probe(spark, tmp_path, tag, batches, gap="30 minutes",
                       watermark="30 minutes"):
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from flumedb_spark.streaming.live import sessionized_event_counts

    work = str(tmp_path / f"sess_{tag}")
    stream_dir = os.path.join(work, "in")
    os.makedirs(stream_dir)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id long, ts string").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        staged = os.path.join(work, f"st{i}")
        df.coalesce(1).write.parquet(staged)
        dst = os.path.join(stream_dir, f"b{i}.parquet")
        shutil.move(glob.glob(os.path.join(staged, "*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)
    src = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    out = sessionized_event_counts(
        src, gap=gap, watermark=watermark, key="user_id", ts_col="ts"
    )
    q = (
        out.writeStream.format("memory")
        .queryName(f"sessp_{tag}")
        .option("checkpointLocation", os.path.join(work, "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, str(r.sess_start), str(r.sess_end), r.n)
        for r in spark.table(f"sessp_{tag}").collect()
    )
    spark.catalog.dropTempView(f"sessp_{tag}")
    return got


def test_stream_session_semantics(spark, tmp_path):
    """Empirical pin of Spark 4.1 session_window-under-watermark batch
    semantics (the stream_session_counts oracle is derived from this):
    (a) the merge bound is INCLUSIVE — an event at exactly
        last_ts + gap merges into the session (probe finding: a
        half-open [ts, ts+gap) assumption is WRONG on exact-gap ties);
    (b) a session is emitted once the final watermark reaches its end
        (end <= wm — boundary equality emits);
    (c) the late-event filter in batch N uses the watermark through
        batch N-2 (same lag as the tumbling-window pin), so an event
        under the through-b(N-1) watermark but over the through-b(N-2)
        one still sessionizes;
    (d) open sessions survive across batches and flush in the trailing
        eviction batch."""

    def ts(h, m):
        return f"2024-01-01 {h:02d}:{m:02d}:00"

    # scenario 1: merge bound + end==wm emission.
    # b0 max ts 12:00 -> wm-through-b0 = 11:30 = final wm.
    got = _run_session_probe(spark, tmp_path, "s1", [
        # u=1: 10:00 and 10:30 — diff == gap: MERGES -> [10:00, 11:00]
        # u=2: 10:00, 10:20 -> [10:00, 10:50]
        [(1, ts(10, 0)), (1, ts(10, 30)), (2, ts(10, 0)), (2, ts(10, 20)),
         (9, ts(12, 0))],
        # b1: u=3 at 11:00 — never late (wm through b(-1) = -inf);
        # session end 11:30 == final wm -> EMITTED (boundary equality)
        [(3, ts(11, 0))],
        # b2: u=4 at 11:00 < 11:30 (wm through b0) -> late, dropped;
        #     u=5 at 11:45 -> survives but end 12:15 > final wm 11:30
        [(4, ts(11, 0)), (5, ts(11, 45))],
    ])
    assert got == [
        (1, "2024-01-01 10:00:00", "2024-01-01 11:00:00", 2),  # (a) merged
        (2, "2024-01-01 10:00:00", "2024-01-01 10:50:00", 2),
        (3, "2024-01-01 11:00:00", "2024-01-01 11:30:00", 1),  # (b) end==wm
        # u=9 [12:00,12:30] > wm; u=5 past wm; u=4 late -> absent
    ]

    # scenario 2: the late filter's one-batch lag (c).
    # wm-through-b0 = 11:30, wm-through-b1 = 12:30 (sentinel u=8).
    got = _run_session_probe(spark, tmp_path, "s2", [
        [(9, ts(12, 0))],
        [(8, ts(13, 0))],
        # b2: u=5 at 12:00 — BELOW wm-through-b1 (12:30) but at/above
        # wm-through-b0 (11:30): survives only because the filter lags;
        # u=7 at EXACTLY 11:30 (== the governing watermark): survives —
        # the late filter is ts >= wm, boundary inclusive
        [(5, ts(12, 0)), (7, ts(11, 30)), (6, ts(14, 0))],
    ])
    assert (5, "2024-01-01 12:00:00", "2024-01-01 12:30:00", 1) in got  # (c)
    assert (7, "2024-01-01 11:30:00", "2024-01-01 12:00:00", 1) in got  # boundary
    assert (8, "2024-01-01 13:00:00", "2024-01-01 13:30:00", 1) in got  # (d)
    assert not any(u == 6 for u, *_ in got)  # open at stream end


def test_streaming_ingest_to_lakehouse_visibility(spark, tmp_path):
    """Composition: a live stream lands in the log through the
    exactly-once sink, the export sweep publishes BOTH table formats,
    and each format's spec reader sees exactly the streamed rows —
    the 'streaming ingest -> lakehouse table' loop a real pipeline
    runs on a schedule."""
    import json as _json

    from flumedb_spark.log import ParquetLog
    from flumedb_spark.sources.delta_export import export_delta_log
    from flumedb_spark.sources.iceberg_export import export_iceberg_metadata
    from flumedb_spark.sources.readers import log_stream_sink, read_any

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    sink_log = ParquetLog(str(tmp_path / "lakelog"))
    stream = spark.readStream.schema("k long").json(src_dir)
    q = log_stream_sink(stream, sink_log, str(tmp_path / "ck"))
    try:
        for batch_no in range(2):
            with open(os.path.join(src_dir, f"b{batch_no}.jsonl"), "w") as f:
                for i in range(batch_no * 10, batch_no * 10 + 10):
                    f.write(_json.dumps({"k": i}) + "\n")
            q.processAllAvailable()
            export_delta_log(sink_log)
            export_iceberg_metadata(sink_log)
            want = sorted(range(batch_no * 10 + 10))
            for fmt in ("delta", "iceberg"):
                df = read_any(spark, sink_log.path, fmt)
                ks = sorted(
                    int(_json.loads(r.value)["k"]) for r in df.collect()
                )
                assert ks == want, (fmt, batch_no)
    finally:
        q.stop()


def test_stream_locf_grid_semantics(spark, tmp_path):
    """Streaming gap-fill/LOCF (stateful.locf_grid_stream): constructed
    three-batch stream pinning (1) exactly-once per (key, bucket), (2)
    a watermark-late event's value NEVER enters the grid, (3) unobserved
    buckets carry the last closed value, (4) the grid extends to the
    final watermark via event-time timeouts even with no new data."""
    from datetime import datetime

    from flumedb_spark.catalog import _run_stream_to_memory, _staged_stream_source
    from flumedb_spark.streaming.stateful import locf_grid_stream

    def ts(h, m=0):
        return datetime(2024, 1, 1, h, m)

    base = 473352  # epoch-hour of 2024-01-01 00:00 UTC
    # batch layout via event_id % 10 (the staged-source predicates):
    # b0 (ids 1,2): u1 @ 00:00 v=10, u1 @ 05:00 v=50  -> wm0 = 04:30
    # b1 (id 7):    u1 @ 03:00 v=30 (>= -inf: never late, bucket 3 open)
    # b2 (id 3):    u1 @ 01:00 v=99 (< wm0 04:30: DROPPED as late)
    # b2 (id 13):   u1 @ 06:00 v=60 (>= wm0: survives, but final wm =
    #               05:30 closes only buckets with end <= 05:30, i.e.
    #               through bucket 4 — buckets 5 and 6 stay open)
    rows = [
        (1, ts(0), 1, 10.0),
        (2, ts(5), 1, 50.0),
        (7, ts(3), 1, 30.0),
        (3, ts(1), 1, 99.0),
        (13, ts(6), 1, 60.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    work = str(tmp_path / "locf_sem")
    os.makedirs(work)
    src = _staged_stream_source(spark, ev, work)
    sink = _run_stream_to_memory(
        spark, locf_grid_stream(src, watermark="30 minutes"), work, "update"
    )
    got = [
        (r["user_id"], r["bucket"], r["observed"], r["value_locf"])
        for r in sink.collect()
    ]
    assert len(got) == len({(u, b) for u, b, *_ in got}), "exactly-once violated"
    as_map = {(u, b): (o, v) for u, b, o, v in got}
    assert as_map == {
        (1, base + 0): (True, 10.0),
        (1, base + 1): (False, 10.0),  # late 99.0 dropped: gap carries 10.0
        (1, base + 2): (False, 10.0),
        (1, base + 3): (True, 30.0),
        (1, base + 4): (False, 30.0),
        # buckets 5 (05:00 v=50) and 6 (06:00 v=60) are NOT emitted:
        # their ends exceed the final watermark 05:30 — still pending
    }
    assert not any(v == 99.0 for _, v in as_map.values())


def test_stream_mad_outliers_semantics(spark, tmp_path):
    """Streaming MAD outliers (stateful.mad_outliers_stream):
    constructed three-batch stream pinning (1) exactly-once per
    (key, bucket), (2) a watermark-late event never enters its bucket's
    median/MAD, (3) per-closed-bucket results are bit-identical to the
    batch timeseries.mad_outliers rule, (4) open buckets (end past the
    final watermark) emit nothing."""
    from datetime import datetime

    from flumedb_spark.catalog import _run_stream_to_memory, _staged_stream_source
    from flumedb_spark.streaming.stateful import mad_outliers_stream

    def ts(h, m=0):
        return datetime(2024, 1, 1, h, m)

    base = 473352  # epoch-hour of 2024-01-01 00:00 UTC
    # bucket 0 (u1): values 1,1,1,1,100 at 00:00-00:40 — med=1, mad=0,
    #   so 100 is the lone outlier; the late-arriving (b2, id 3) copy
    #   at 00:50 value 500 is DROPPED (ts < wm0) and must not shift
    #   the median or appear as an outlier.
    # bucket 3 (u1): id 7 (b1, never late) value 30 joins ids 11,21
    #   values 10,20 — med=20, mad=|10-20|=10 lower-median of {10,0,10}
    #   -> devs sorted (0,10,10): mad=10 ... n=3 -> rank 2 -> 10; no
    #   dev (10,0,10) exceeds 3*10, so bucket 3 emits nothing.
    # bucket 6 (u1): id 13 at 06:00 — final wm 05:30 leaves it OPEN.
    rows = [
        (1, ts(0, 0), 1, 1.0),
        (2, ts(0, 10), 1, 1.0),
        (4, ts(0, 20), 1, 1.0),
        (5, ts(0, 30), 1, 1.0),
        (6, ts(0, 40), 1, 100.0),
        (11, ts(3, 0), 1, 10.0),
        (21, ts(3, 10), 1, 20.0),
        (8, ts(5, 0), 1, 7.0),  # advances wm0 to 04:30
        (7, ts(3, 20), 1, 30.0),  # b1: never late, joins bucket 3
        (3, ts(0, 50), 1, 500.0),  # b2: ts < wm0 -> dropped as late
        (13, ts(6, 0), 1, 60.0),  # b2: survives but bucket 6 stays open
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    work = str(tmp_path / "mad_sem")
    os.makedirs(work)
    src = _staged_stream_source(spark, ev, work)
    sink = _run_stream_to_memory(
        spark, mad_outliers_stream(src, watermark="30 minutes"), work, "update"
    )
    got = [
        (r["user_id"], r["bucket"], r["event_id"], r["value"], r["med"], r["mad"])
        for r in sink.collect()
    ]
    assert got == [(1, base, 6, 100.0, 1.0, 0.0)]

    # (3) agreement with the batch operator over the same closed bucket
    from flumedb_spark.operators.timeseries import mad_outliers

    closed = ev.where("event_id in (1,2,4,5,6)").selectExpr(
        "user_id", "event_id", "value"
    )
    batch = mad_outliers(closed, "user_id", "value", "event_id").collect()
    assert [(r["user_id"], r["event_id"], r["value"], r["med"], r["mad"])
            for r in batch] == [(1, 6, 100.0, 1.0, 0.0)]


def test_stream_interval_join_semantics(spark, tmp_path):
    """PROBE (r8): pins the two-source stream-stream interval-join
    semantics the stream_interval_join oracle relies on —
    (a) two file sources with maxFilesPerTrigger=1 advance TOGETHER
    (one file from each per micro-batch, mtime order), so per-key
    co-batched sides join intra-batch; (b) the late-event filter in
    batch N uses the GLOBAL watermark through batch N-2, where global
    = MIN across both sources' watermark operators; (c) matched pairs
    emit iff both sides survive the filter."""
    import datetime
    import os
    import shutil

    from pyspark.sql import functions as F

    from flumedb_spark.streaming.live import interval_join_streams

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(9):
        for j in range(4):
            m = u * 60 + j * 15
            rows.append((u, 100 * u + j, t0 + datetime.timedelta(minutes=m), "c"))
            rows.append(
                (u, 200 * u + j, t0 + datetime.timedelta(minutes=m + 10), "p")
            )
    ev = spark.createDataFrame(rows, "u long, eid long, ts timestamp, k string")

    def stage(df, sub):
        d = str(tmp_path / sub)
        os.makedirs(d)
        for i in range(3):
            st = str(tmp_path / f"{sub}_st{i}")
            df.where(F.col(df.columns[0]) % 3 == i).coalesce(1).write.parquet(st)
            part = next(f for f in os.listdir(st) if f.endswith(".parquet"))
            dst = os.path.join(d, f"b{i}.parquet")
            shutil.move(os.path.join(st, part), dst)
            os.utime(dst, (1_700_000_000 + i * 100,) * 2)
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    cs = stage(
        ev.where("k = 'c'").select(
            F.col("u").alias("c_user"),
            F.col("eid").alias("click_id"),
            F.col("ts").alias("c_ts"),
        ),
        "c",
    )
    ps = stage(
        ev.where("k = 'p'").select(
            F.col("u").alias("p_user"),
            F.col("eid").alias("purch_id"),
            F.col("ts").alias("p_ts"),
        ),
        "p",
    )
    out = interval_join_streams(
        ps, cs, on="p_user = c_user", left_ts="p_ts", right_ts="c_ts"
    ).select("p_user", "click_id", "purch_id")
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_probe")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("ssj_probe").collect()
    spark.catalog.dropTempView("ssj_probe")
    by_u = {}
    for r in got:
        by_u.setdefault(r.p_user, set()).add((r.click_id, r.purch_id))
    # each user: purchase j matches clicks j (10 min back) and j-1
    # (25 min back) -> 7 pairs; users in batches 0/1 never filtered
    for u in (0, 3, 6, 1, 4, 7):
        assert len(by_u[u]) == 7, (u, sorted(by_u.get(u, ())))
    # batch-2 users filter vs wm-after-b0 = min(max c_ts, max p_ts of
    # batch 0) - 30min = (6*60+45 min) - 30min = 375 min: users 2 and 5
    # (all rows below) drop entirely, user 8 (rows at 480+) keeps all 7
    assert 2 not in by_u and 5 not in by_u
    assert len(by_u[8]) == 7
    # exact pair identity for user 0 (click j matches purchases j and
    # j+1 — the intra-batch matching shape): ids are 100*0+j / 200*0+j
    assert by_u[0] == {(0, 0), (0, 1), (1, 1), (1, 2), (2, 2), (2, 3), (3, 3)}


def test_stream_interval_join_left_boundary(spark, tmp_path):
    """PROBE (r8): pins the left-outer null-emission rule the
    stream_interval_join_left oracle relies on — eviction in batch N
    uses the GLOBAL watermark at batch start (min across both sources
    of floor-ms(max ts) - delay), and an unmatched left row null-emits
    iff left_ts <= wm - 1ms: a row AT the watermark millisecond is
    held, anything below emits. Cumulative final threshold =
    all-data global watermark - 1ms."""
    import datetime
    import os
    import shutil

    from pyspark.sql import functions as F

    from flumedb_spark.streaming.live import interval_join_streams

    t0 = datetime.datetime(2024, 1, 1)
    mins = lambda m: t0 + datetime.timedelta(minutes=m)  # noqa: E731
    us1 = datetime.timedelta(microseconds=1)
    # b0 anchors push both sides to 1000 (wm 970 during b1/b2);
    # b1 unmatched purchases straddle 970; b2 anchors raise both sides
    # to 2000 (final wm 1970, trailing batch runs) + purchases
    # straddling 1970 — incl. one at 1970 - 1us and one at exactly 1970
    crows = [(99, 1, mins(1000)), (97, 2, mins(400)), (98, 3, mins(2000))]
    prows = [
        (99, 40, mins(1000)), (98, 41, mins(2000)),
        (1, 50, mins(935)), (4, 51, mins(965)),
        (7, 52, mins(970) - us1), (10, 53, mins(975)),
        (2, 60, mins(1945)), (5, 61, mins(1965)),
        (8, 62, mins(1970) - us1), (11, 63, mins(1970)),
    ]
    clicks = spark.createDataFrame(crows, "c_user long, click_id long, c_ts timestamp")
    purch = spark.createDataFrame(prows, "p_user long, purch_id long, p_ts timestamp")

    def stage(df, sub, key):
        d = str(tmp_path / sub)
        os.makedirs(d)
        for i in range(3):
            st = str(tmp_path / f"{sub}_st{i}")
            df.where(F.col(key) % 3 == i).coalesce(1).write.parquet(st)
            part = next(f for f in os.listdir(st) if f.endswith(".parquet"))
            shutil.move(os.path.join(st, part), os.path.join(d, f"b{i}.parquet"))
            os.utime(os.path.join(d, f"b{i}.parquet"),
                     (1_700_000_000 + i * 100,) * 2)
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    out = interval_join_streams(
        stage(purch, "p", "p_user"), stage(clicks, "c", "c_user"),
        on="p_user = c_user", left_ts="p_ts", right_ts="c_ts",
        how="left_outer",
    ).select("purch_id", "click_id")
    batches = []

    def fb(df, bid):
        batches.append((bid, sorted(r.purch_id for r in df.where("click_id IS NULL").collect())))

    q = (
        out.writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {bid: ids for bid, ids in batches if ids}
    # batch 1 runs with wm=970 (from b0), bound = wm - 1ms compared at
    # FULL us precision: 935 and 965 emit; 970-1us (969:59.999999 >
    # 969:59.999000) and 975 are held
    assert emitted.get(1) == [50, 51], emitted
    # trailing batch with final wm=1970 (bound 1969:59.999000): the
    # held 970-1us row and 975 now emit alongside 1945/1965; 1970-1us
    # and exactly-1970 sit inside the final watermark millisecond and
    # never emit
    assert emitted.get(3) == [52, 53, 60, 61], emitted
    assert all(62 not in ids and 63 not in ids for _, ids in batches)


def test_locf_ttl_bounds_abandoned_keys():
    """_locf_update with ttl_buckets: an abandoned key stops emitting
    unobserved grid rows ttl past its last observation and its state is
    REMOVED once nothing is buffered; a later event re-creates the grid
    from its own bucket (unit-level, fake state — the product default
    ttl_buckets=None keeps the infinite-grid behavior the oracle row
    attests)."""
    import pandas as pd

    from flumedb_spark.streaming.stateful import _locf_update

    class FakeState:
        def __init__(self, wm_ms):
            self.exists = False
            self._v = None
            self.removed = False
            self._wm = wm_ms

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def remove(self):
            self.removed = True
            self.exists = False

        def getCurrentWatermarkMs(self):
            return self._wm

        def setTimeoutTimestamp(self, ts):
            pass

    H = 3_600_000_000  # 1h buckets in us
    # one observation in bucket 0; watermark far ahead (bucket 10 open)
    st = FakeState(wm_ms=10 * 3_600_000)
    out = pd.concat(list(_locf_update(H, 2, (7,), iter([pd.DataFrame(
        {"ts_us": [100], "event_id": [1], "value": [5.0]}
    )]), st)))
    # grid: bucket 0 observed, then ONLY ttl=2 unobserved rows (1, 2)
    assert list(out["bucket"]) == [0, 1, 2]
    assert list(out["observed"]) == [True, False, False]
    assert st.removed and not st.exists, "expired key must drop state"
    # a later event re-creates the grid from its own bucket
    st2 = FakeState(wm_ms=20 * 3_600_000)
    out2 = pd.concat(list(_locf_update(H, 2, (7,), iter([pd.DataFrame(
        {"ts_us": [15 * H + 5], "event_id": [2], "value": [9.0]}
    )]), st2)))
    assert list(out2["bucket"]) == [15, 16, 17]
    assert list(out2["observed"]) == [True, False, False]
    # default (ttl None) keeps the infinite grid: same input, all 11
    # closed buckets emitted and state kept
    st3 = FakeState(wm_ms=10 * 3_600_000)
    out3 = pd.concat(list(_locf_update(H, None, (7,), iter([pd.DataFrame(
        {"ts_us": [100], "event_id": [1], "value": [5.0]}
    )]), st3)))
    assert list(out3["bucket"]) == list(range(0, 10))
    assert st3.exists and not st3.removed


def test_live_view_pdf_ingest_kernel(spark, tmp_log_dir):
    """VERDICT-r9 #6: the office/PDF ingest kernels compose with O6/O9
    stream-driven maintenance — a Level view whose fold runs the REAL
    PDF parse (operators/pdf.py) over appended blobs, maintained by
    LiveViewRunner instead of the read gate."""
    import base64

    from flumedb_spark.operators import pdf as _pdf
    from flumedb_spark.views.level import Level

    def page_keys(v):
        return _pdf.decode_pdf_text(base64.b64decode(v["pdf_b64"]))

    db = Flume(tmp_log_dir, spark=spark)
    db.use("pages", Level(1, key_fn=page_keys))
    texts = {d: f"doc {d} | " + "lorem ipsum " * 12 for d in range(6)}
    db.append(
        [
            {
                "doc_id": d,
                "pdf_b64": base64.b64encode(
                    _pdf.synth_pdf([t[:60], t[60:120]])
                ).decode(),
            }
            for d, t in texts.items()
        ]
    )
    runner = LiveViewRunner(db, "pages")
    runner.start()
    try:
        runner.process_all_available()
        # read WITHOUT the gate: the stream already folded everything,
        # and the index keys are the REAL extracted page texts
        hits = db.pages.get(texts[3][:60], since=-1)
        assert len(hits) == 1 and hits[0]["value"]["doc_id"] == 3
        # live append keeps flowing through the same parse path
        extra = "fresh appended document " * 3
        db.append(
            {
                "doc_id": 99,
                "pdf_b64": base64.b64encode(
                    _pdf.synth_pdf([extra[:60]])
                ).decode(),
            }
        )
        runner.process_all_available()
        hits = db.pages.get(extra[:60], since=-1)
        assert len(hits) == 1 and hits[0]["value"]["doc_id"] == 99
    finally:
        runner.stop()
    db.close()
