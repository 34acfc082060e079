"""Cost-based compaction scheduling (roadmap #7): metadata-only
triggers, maybe_compact idempotence, engine-level maintain()."""

from flumedb_spark import Flume
from flumedb_spark.log import ParquetLog
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
