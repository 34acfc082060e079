"""Engine contract tests — ports of the reference's behavioral suite
(SURVEY.md §5: test/memlog.js, test/memlog-map.js, test/rebuild.js
patterns), parametrized over mapper configs like the reference
parametrizes over log backends."""

import threading
import time

import pytest

from flumedb_spark import ClosedError, Flume, NativeStats, Reduce


def make_db(tmp_log_dir, spark, mapper=None, is_ready=True):
    return Flume(tmp_log_dir, is_ready=is_ready, mapper=mapper, spark=spark)


def sum_foo(acc, item):
    return (acc or 0) + item["foo"]


# ---- M1: README example semantics (SURVEY §7.1) -------------------------


def test_empty_log_since_and_view_undefined(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    # before any operation since is undefined (README.md:197-201) ...
    assert db.since is None
    assert db.sum.get() is None  # test/memlog.js:26-34
    # ... and the gated read above took the init barrier: loaded + empty
    assert db.since == -1


def test_append_then_gated_read(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    seq = db.append({"foo": 1})
    assert seq == 0
    assert db.since == 0  # since visible by append-return (README.md:149)
    assert db.sum.get() == 1  # read-after-write (test/memlog.js:36-52)
    db.append({"foo": 3})
    assert db.sum.get() == 4


def test_running_stats_golden(spark, tmp_log_dir):
    # test/memlog.js:44-64 golden values: mean=1 stdev=0, then mean=2 stdev=1
    db = make_db(tmp_log_dir, spark).use("stats", NativeStats(1, field="foo"))
    db.append({"foo": 1})
    s = db.stats.get()
    assert s["mean"] == 1 and s["stdev"] == 0
    db.append({"foo": 3})
    s = db.stats.get()
    assert s["mean"] == 2 and s["stdev"] == 1


def test_batch_append_atomic(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark)
    maxseq = db.append([{"foo": i} for i in range(5)])
    assert maxseq == 4
    assert db.since == 4


# ---- ordering / round trip (test/memlog.js:68-80) -----------------------


def test_stream_roundtrip_and_get(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark)
    vals = [{"foo": i} for i in range(7)]
    db.append(vals)
    items = db.stream()
    assert [i["seq"] for i in items] == list(range(7))
    assert [i["value"] for i in items] == vals
    for i in range(7):
        assert db.get(i) == vals[i]
    with pytest.raises(KeyError):
        db.get(99)


def test_stream_range_reverse_limit(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark)
    db.append([{"foo": i} for i in range(10)])
    assert [i["seq"] for i in db.stream(gt=2, lte=6)] == [3, 4, 5, 6]
    assert [i["seq"] for i in db.stream(gte=2, lt=6)] == [2, 3, 4, 5]
    # limit truncates AFTER reverse: top-k from the chosen end
    assert [i["seq"] for i in db.stream(reverse=True, limit=3)] == [9, 8, 7]
    assert [i["seq"] for i in db.stream(limit=3)] == [0, 1, 2]


def test_stream_projection_flags(spark, tmp_log_dir):
    # test/memlog-map.js:48-108 three projection modes
    db = make_db(tmp_log_dir, spark)
    db.append([{"foo": 1}, {"foo": 2}])
    assert db.stream(values=False) == [0, 1]
    assert db.stream(seqs=False) == [{"foo": 1}, {"foo": 2}]
    assert db.stream() == [
        {"seq": 0, "value": {"foo": 1}},
        {"seq": 1, "value": {"foo": 2}},
    ]


# ---- mapper (O15, test/memlog-map.js) -----------------------------------


def test_mapper_applied_once_per_consumption(spark, tmp_log_dir):
    def mapper(v):
        return {**v, "map": True, "called": v.get("called", 0) + 1}

    db = make_db(tmp_log_dir, spark, mapper=mapper)
    db.use("counts", Reduce(1, lambda acc, item: (acc or 0) + item["called"]))
    db.append([{"foo": i} for i in range(1, 5)])
    # every read shows called=1 (mapped once, never persisted)
    for item in db.stream():
        assert item["value"]["map"] is True and item["value"]["called"] == 1
    assert db.get(0)["called"] == 1
    # the called-sum fold equals record count (test/memlog-map.js:110-118)
    assert db.counts.get() == 4
    # seq-only stream skips the mapper entirely (index.js:97-99)
    assert db.stream(values=False) == [0, 1, 2, 3]


# ---- gate behaviors (O10-O13) -------------------------------------------


def test_ready_flag_stalls_reads(spark, tmp_log_dir):
    # test/memlog.js:82-96
    db = make_db(tmp_log_dir, spark, is_ready=False).use("sum", Reduce(1, sum_foo))
    db.append({"foo": 2})
    out = {}

    def reader():
        out["v"] = db.sum.get()

    t = threading.Thread(target=reader)
    t.start()
    time.sleep(0.3)
    assert "v" not in out  # stalled while not ready
    db.set_ready(True)
    t.join(timeout=30)
    assert out["v"] == 2


def test_staleness_opt_out(spark, tmp_log_dir):
    # opts.since = -1: don't wait for catch-up (O11)
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    db.append({"foo": 1})
    assert db.sum.get() == 1
    db.append({"foo": 10})
    stale = db.sum.get(since=-1)  # view state at some seq' <= since
    assert stale in (1, 11)
    assert db.sum.get() == 11


def test_wait_for_specific_seq(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    db.append([{"foo": 1}, {"foo": 2}, {"foo": 3}])
    assert db.sum.get(since=1) in (3, 6)  # at least seqs 0..1 folded
    assert db.sum.since >= 1


def test_view_ahead_of_log_rebuilds(spark, tmp_log_dir):
    # test/memlog.js:98-126: log replaced by a shorter one => destroy+rebuild
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    db.append([{"foo": 1}, {"foo": 2}, {"foo": 3}])
    assert db.sum.get() == 6
    db.log.destroy()  # truncate the log under the engine
    db.append({"foo": 5})
    assert db.sum.get() == 5  # rebuilt from the new log only


# ---- use() validation (O8) ----------------------------------------------


def test_use_name_collision_throws(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    with pytest.raises(ValueError):
        db.use("sum", Reduce(1, sum_foo))
    with pytest.raises(ValueError):
        db.use("append", Reduce(1, sum_foo))  # clashes with engine method


def test_use_contract_violation_throws(spark, tmp_log_dir):
    # test/memlog.js:128-141
    db = make_db(tmp_log_dir, spark)
    with pytest.raises(TypeError):
        db.use("bad", object())


def test_views_registry_accessor(spark, tmp_log_dir):
    # README.md:175-179: db.views is "an object with all the views with
    # their names as keys" — same handles as the mounted db.<name>
    db = make_db(tmp_log_dir, spark)
    assert db.views == {}
    db.use("sum", Reduce(1, sum_foo))
    db.use("sum2", Reduce(1, sum_foo))
    assert set(db.views) == {"sum", "sum2"}
    assert db.views["sum"] is db.sum
    db.append({"foo": 7})
    assert db.views["sum"].get() == 7  # handles are the gated read path
    # a COPY: mutating the returned dict never touches the registry
    db.views.pop("sum")
    assert set(db.views) == {"sum", "sum2"}
    # and the name "views" itself is reserved (collision check covers it)
    with pytest.raises(ValueError):
        db.use("views", Reduce(1, sum_foo))


def test_late_registration_backfills(spark, tmp_log_dir):
    # README.md:156-157: use() legal after data exists => backfill
    db = make_db(tmp_log_dir, spark)
    db.append([{"foo": i} for i in range(1, 4)])
    db.use("sum", Reduce(1, sum_foo))
    assert db.sum.get() == 6


# ---- version bump / rebuild / destroy (O16/O17) -------------------------


def test_version_bump_forces_rebuild(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    db.append([{"foo": 1}, {"foo": 2}])
    assert db.sum.get() == 3
    db.close()
    # reopen with a new view version: must rebuild, not resume
    db2 = Flume(tmp_log_dir, spark=spark).use(
        "sum", Reduce(2, lambda acc, item: (acc or 0) + 2 * item["foo"])
    )
    assert db2.sum.get() == 6


def make_counting_reducer(path):
    # The reducer runs executor-side; record each sink delivery through the
    # (local-mode-shared) filesystem so the test can count them, mirroring
    # the reference's sink-delivery counting (test/rebuild.js:21-23).
    def counting_reducer(acc, item):
        with open(path, "a") as f:
            f.write(f"{item['foo']}\n")
        return (acc or 0) + item["foo"]

    return counting_reducer


def n_deliveries(path):
    import os

    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return len(f.readlines())


def test_rebuild_replays_whole_log(spark, tmp_log_dir, tmp_path):
    # test/rebuild.js:19-62 delivery counting: no loss, no duplication
    dlog = str(tmp_path / "deliveries.txt")
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, make_counting_reducer(dlog)))
    db.append([{"foo": 1}, {"foo": 2}])
    assert db.sum.get() == 3  # 2 deliveries
    db.rebuild()  # replays the 2
    db.append([{"foo": 3}, {"foo": 4}, {"foo": 5}])
    assert db.sum.get() == 15
    assert n_deliveries(dlog) == 7  # 2 + 2 replayed + 3 new, exactly


def test_persistence_resume_not_refold(spark, tmp_log_dir, tmp_path):
    dlog = str(tmp_path / "deliveries.txt")
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, make_counting_reducer(dlog)))
    db.append([{"foo": 1}, {"foo": 2}])
    assert db.sum.get() == 3
    db.close()
    db2 = Flume(tmp_log_dir, spark=spark).use("sum", Reduce(1, make_counting_reducer(dlog)))
    db2.append({"foo": 4})
    assert db2.sum.get() == 7  # resumed from checkpointed acc
    assert n_deliveries(dlog) == 3  # seqs 0,1 folded once ever; only seq 2 new


# ---- close (O18) --------------------------------------------------------


def test_close_then_everything_throws(spark, tmp_log_dir):
    # test/memlog.js:143-168
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    db.append({"foo": 1})
    db.close()
    for call in (
        lambda: db.append({"foo": 2}),
        lambda: db.get(0),
        lambda: db.stream(),
        lambda: db.sum.get(),
        lambda: db.use("x", Reduce(1, sum_foo)),
        db.rebuild,
    ):
        with pytest.raises(ClosedError):
            call()
    db.close()  # idempotent


# ---- meta counters (O20) ------------------------------------------------


def test_meta_counters(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    db.append({"foo": 1})
    db.get(0)
    db.stream()
    db.sum.get()
    db.sum.get()
    assert db.meta["append"] == 1
    assert db.meta["get"] == 1
    # per-item metering (wrap.js:74-76): one call + one delivered item
    assert db.meta["stream"] == 2
    assert db.sum.meta["get"] == 2
    assert db.sum.meta["items"] == 1  # rows delivered through the feed


# ---- live tail (O6, driver-side form) -----------------------------------


def test_live_tail(spark, tmp_log_dir):
    db = make_db(tmp_log_dir, spark)
    db.append([{"foo": 1}, {"foo": 2}])
    got = []
    gen = db.stream(live=True)

    def consume():
        for item in gen:
            got.append(item)
            if len(got) >= 3:
                break

    t = threading.Thread(target=consume)
    t.start()
    time.sleep(0.5)
    db.append({"foo": 3})
    t.join(timeout=60)
    assert [g["seq"] for g in got] == [0, 1, 2]


def test_log_compaction(spark, tmp_log_dir):
    import os

    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    for i in range(12):  # 12 separate commits -> 12 files
        db.append({"foo": i})
    assert db.sum.get() == sum(range(12))
    assert len(db.log._meta["files"]) == 12
    n = db.log.compact(spark, target_rows_per_file=50)
    assert n == 1
    # identical contents and semantics after the swap
    assert [i["value"]["foo"] for i in db.stream()] == list(range(12))
    assert db.get(5) == {"foo": 5}
    # appends keep working, and the view state survives
    db.append({"foo": 100})
    assert db.sum.get() == sum(range(12)) + 100
    assert len(db.log._meta["files"]) == 2  # compacted + new commit
    # OPTIMIZE/VACUUM separation: the replaced commits are tombstoned
    # (still on disk for in-flight readers), then GC'd by vacuum
    assert len(db.log._meta.get("tombstones", [])) == 12
    assert db.log.vacuum(older_than_seconds=0) == 12
    on_disk = [f for f in os.listdir(db.log.data_dir) if f.endswith(".parquet")]
    assert sorted(on_disk) == sorted(db.log._meta["files"])
    # contents unaffected by the GC
    assert [i["value"]["foo"] for i in db.stream()] == list(range(12)) + [100]
    db.close()


def test_live_tail_rejects_reverse_only(spark, tmp_log_dir):
    # gte/lt/lte/limit now COMPOSE with live (README.md:133, covered in
    # tests/test_live_since.py); reverse stays batch-only — an unbounded
    # reverse tail is incoherent and the reference's backends disagree
    # on it (test/level.js:6-8)
    db = make_db(tmp_log_dir, spark)
    db.append({"foo": 1})
    with pytest.raises(ValueError):
        db.stream(live=True, reverse=True)
    items = list(db.stream(live=True, limit=1, poll_interval=0.01))
    assert [i["value"]["foo"] for i in items] == [1]
    db.close()


def test_expr_mapper_jvm_fast_path(spark, tmp_log_dir):
    # O15 via a pure-JVM column expression: no Python worker in the plan
    from flumedb_spark import ExprMapper

    mapper = ExprMapper(
        "to_json(named_struct('foo', CAST(get_json_object(value, '$.foo') AS BIGINT) * 2))"
    )
    db = Flume(tmp_log_dir, mapper=mapper, spark=spark)
    db.use("sum", Reduce(1, sum_foo))
    db.append([{"foo": 1}, {"foo": 3}])
    assert db.get(0) == {"foo": 2}  # mapped on read
    assert db.get(1) == {"foo": 6}  # the unordered one-row scan
    with pytest.raises(KeyError):
        db.get(2)
    assert [i["value"]["foo"] for i in db.stream()] == [2, 6]
    assert db.sum.get() == 8  # views consume the mapped feed
    # never persisted: raw log still holds the original values
    raw = db.log.get(spark, 0)
    assert raw["value"] == {"foo": 1}
    # the plan stays JVM-side
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        db.stream_df().explain(extended=False)
    assert "EvalPython" not in buf.getvalue()
    db.close()


def test_concurrent_appends_and_gated_reads(spark, tmp_log_dir):
    # single-writer appends racing gated readers: every read must see a
    # consistent prefix sum (monotone, matching some append boundary)
    db = make_db(tmp_log_dir, spark).use("sum", Reduce(1, sum_foo))
    prefix_sums = {0}
    total = 0
    for i in range(1, 9):
        total += i
        prefix_sums.add(total)
    results = []
    errors = []

    def reader():
        try:
            for _ in range(4):
                v = db.sum.get()
                results.append(v or 0)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    for i in range(1, 9):
        db.append({"foo": i})
    t.join(timeout=120)
    assert not errors
    assert all(v in prefix_sums for v in results), results
    assert sorted(results) == results  # monotone progress
    assert db.sum.get() == total
    db.close()


def test_second_instance_sees_appends(spark, tmp_log_dir):
    # manifest-based reads: a second engine instance over the same dir
    # observes the writer's commits without any coordination
    writer = make_db(tmp_log_dir, spark)
    reader = Flume(tmp_log_dir, spark=spark)
    writer.append([{"foo": 1}, {"foo": 2}])
    assert [i["seq"] for i in reader.stream()] == [0, 1]
    writer.append({"foo": 3})
    assert reader.get(2) == {"foo": 3}
    assert reader.since == 2 or reader.log._load_meta()["since"] == 2
    writer.close()
    reader.close()


def test_reduce_with_combiner_parallel_fold(spark, tmp_log_dir):
    # non-commutative but associative fold (string concat): the parallel
    # monoid path must reproduce the exact sequential order
    db = make_db(tmp_log_dir, spark)
    db.use(
        "concat",
        Reduce(
            1,
            lambda acc, item: (acc or "") + item["c"],
            combiner=lambda a, b: a + b,
        ),
    )
    import string

    letters = list(string.ascii_lowercase)
    db.append([{"c": ch} for ch in letters[:13]])
    assert db.concat.get() == "".join(letters[:13])
    db.append([{"c": ch} for ch in letters[13:]])
    assert db.concat.get() == "".join(letters)  # incremental merge in order
    db.rebuild()
    assert db.concat.get() == "".join(letters)  # replay converges
    db.close()


def test_decryption_mapper_rebuild_scenario(spark, tmp_log_dir):
    # THE reference mapper use case (test/rebuild.js:1-4): values are
    # stored encrypted; the mapper decrypts what it has keys for; when a
    # new key arrives, rebuild() replays the log so views see the newly
    # decryptable plaintext. Mapper output is never persisted, so the
    # stored ciphertext is untouched throughout.
    keys = {"k1"}  # mutable driver-side keyring, captured per fold

    def decrypt(v, _keys=keys):
        if v["key_id"] in _keys:
            return {"key_id": v["key_id"], "text": v["blob"][::-1], "open": True}
        return {"key_id": v["key_id"], "text": None, "open": False}

    db = make_db(tmp_log_dir, spark, mapper=decrypt)
    db.use(
        "opened",
        Reduce(1, lambda acc, item: (acc or 0) + (1 if item["open"] else 0)),
    )
    db.append(
        [
            {"key_id": "k1", "blob": "olleh"},
            {"key_id": "k2", "blob": "dlrow"},
        ]
    )
    assert db.get(0)["text"] == "hello"
    assert db.get(1)["text"] is None  # no key yet
    assert db.opened.get() == 1
    # the new key arrives -> rebuild replays the log through the mapper
    keys.add("k2")
    db.rebuild()
    assert db.get(1)["text"] == "world"
    assert db.opened.get() == 2
    # stored ciphertext never changed (mapper not persisted)
    raw = db.log.get(spark, 1)
    assert raw["value"]["blob"] == "dlrow"
    db.close()
