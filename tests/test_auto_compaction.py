"""Cost-based compaction scheduling (roadmap #7): metadata-only
triggers, maybe_compact idempotence, engine-level maintain()."""

import os
import uuid

from flumedb_spark import Flume
from flumedb_spark.log import _ARROW_SCHEMA, ParquetLog
from flumedb_spark.views.level import Level


def test_log_trigger_and_maybe_compact(spark, tmp_path):
    log = ParquetLog(str(tmp_path / "log"))
    for i in range(12):
        log.append({"foo": i})
    assert log.compaction_due(max_files=10)  # 12 commits = 12 files
    n_after = log.maybe_compact(spark, max_files=10)
    assert n_after == 1
    # data survives, seqs dense, trigger resets
    seqs = [r.seq for r in log.stream_df(spark).select("seq").collect()]
    assert seqs == list(range(12))
    assert log.maybe_compact(spark, max_files=10) is None


def test_maybe_compact_none_when_nothing_merges(spark, tmp_path):
    """Due past ``max_files``, but every file is at the target size: the
    plan merges nothing, so nothing commits and no file is tombstoned."""
    db = Flume(str(tmp_path / "db"), spark=spark)
    for i in range(6):
        db.append([{"foo": i}, {"foo": -i}])
    log = db.log
    assert log.compaction_due(max_files=4)
    meta = log._load_meta()
    stamp = os.stat(log.meta_path).st_mtime_ns
    assert log.maybe_compact(spark, max_files=4, target_rows_per_file=2) is None
    assert db.maintain(max_files=4, target_rows_per_file=2)["log"] is None
    assert log._load_meta() == meta and "tombstones" not in meta
    assert os.stat(log.meta_path).st_mtime_ns == stamp
    db.close()


def test_log_compaction_starts_no_spark_job(spark, tmp_path):
    """``compact`` and ``maintain()`` merge the log in the driver: under
    a job group, neither starts a Spark job."""
    db = Flume(str(tmp_path / "db"), spark=spark)
    db.use("idx", Level(1, key_fn=lambda v: [str(v["foo"])]))
    for i in range(12):
        db.append({"foo": i})
    db.idx.get("3")  # one fold: the view is not due
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"compact-{uuid.uuid4().hex[:8]}"
    probe = f"probe-{uuid.uuid4().hex[:8]}"
    try:
        # the group does capture this thread's jobs
        sc.setJobGroup(probe, "probe")
        db.log.df(spark).count()
        assert tracker.getJobIdsForGroup(probe)
        sc.setJobGroup(group, "compaction")
        assert db.log.compact(spark) == 1
        for i in range(12, 24):
            db.append({"foo": i})
        report = db.maintain(max_files=8, target_rows_per_file=12)
        assert report == {"log": 2, "views": [], "vacuumed": 0}
        assert tracker.getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(db.stream(values=False)) == list(range(24))
    assert db.idx.get("17")[0]["value"]["foo"] == 17
    db.close()


def test_compaction_drops_files_without_rows(spark, tmp_path):
    """Logs written before empty bulk parts were skipped list files
    without rows; a group of only such files merges into no file."""
    log = ParquetLog(str(tmp_path / "log"))
    log.append([{"foo": i} for i in range(4)])
    empties = ["empty-0.parquet", "empty-1.parquet"]
    for name in empties:
        log._write_file(_ARROW_SCHEMA.empty_table(), name)

    def stage(meta):
        meta["files"] += empties
        meta["ranges"].update({f: [None, None, 0] for f in empties})

    log._write_txn(stage)
    log.append([{"foo": i} for i in range(4, 8)])
    assert log.compact(spark, target_rows_per_file=4) == 2
    meta = log._load_meta()
    assert not set(empties) & set(meta["files"]) and set(meta["ranges"]) == set(meta["files"])
    assert [r.seq for r in log.stream_df(spark).select("seq").collect()] == list(range(8))


def test_small_file_ratio_trigger(spark, tmp_path):
    log = ParquetLog(str(tmp_path / "log"))
    for i in range(10):
        log.append({"foo": i})
    # 10 files under the count threshold, but all tiny -> ratio trigger
    assert not log.compaction_due(max_files=64, small_file_bytes=1)
    assert log.compaction_due(max_files=64, small_file_bytes=4 << 20)


def test_engine_maintain_compacts_log_and_views(spark, tmp_path):
    db = Flume(str(tmp_path / "db"), spark=spark)
    db.use("idx", Level(1, key_fn=lambda v: [str(v["foo"])]))
    for i in range(18):
        db.append({"foo": i})
        db.idx.get(str(i))  # fold incrementally: one index commit each
    assert len(db.log._load_meta()["files"]) == 18
    report = db.maintain(max_files=10)
    assert report["log"] == 1
    assert "idx" in report["views"]  # 18 fold commits > Level's 16 default
    # reads agree after maintenance
    assert db.idx.get("7")[0]["value"]["foo"] == 7
    assert list(db.stream(seqs=True, values=False)) == list(range(18))
    db.close()


def test_supervisor_auto_compact_daemon(spark, tmp_path):
    # the always-on form: maintenance keeps file counts bounded while
    # live view maintenance continues to fold correctly (compaction
    # re-delivery is a no-op through the runner's fresh-seq filter)
    from flumedb_spark import NativeStats
    from flumedb_spark.streaming.supervisor import ViewSupervisor, wait_until

    db = Flume(str(tmp_path / "db"), spark=spark)
    db.use("stats", NativeStats(1, field="foo"))
    sup = ViewSupervisor(
        db, poll_interval=0.2, auto_compact=True, compact_policy={"max_files": 8}
    ).start()
    try:
        for i in range(12):
            db.append({"foo": i})
        assert wait_until(lambda: len(db.log._load_meta()["files"]) <= 8)
        sup.process_all_available()
        sup.process_all_available()
        s = db.stats.get()  # gated read: exact, whatever the interleaving
        assert s["count"] == 12 and s["sum"] == sum(range(12))
        # replaced files are tombstoned, not deleted — in-flight
        # micro-batches can re-read them; retention-gated vacuum GCs.
        # The auto-compactions above tombstoned files, so a zero-
        # retention vacuum must delete SOMETHING (>= 0 was vacuous: it
        # holds on every code path) and reads must survive the GC.
        if db.log._load_meta().get("tombstones"):
            assert db.log.vacuum(older_than_seconds=0) > 0
        s2 = db.stats.get()
        assert s2["count"] == 12 and s2["sum"] == sum(range(12))
    finally:
        sup.stop()
    db.close()


def test_maintain_noop_when_nothing_due(spark, tmp_path):
    db = Flume(str(tmp_path / "db"), spark=spark)
    db.append([{"foo": 1}, {"foo": 2}])  # one batch commit = one file
    report = db.maintain()
    assert report == {"log": None, "views": [], "vacuumed": 0}
    db.close()
