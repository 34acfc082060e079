"""Backend-parametrized contract suite — the reference's dominant test
pattern (SURVEY §5.1): ONE suite run against every log implementation x
every mapper mode, mirroring how `test/memlog.js:12-169` is re-run by
`test/offset.js:4-25` (flumelog-offset) and with/without a mapper
(`test/memlog.js:171-179`).

Behaviors covered per (backend, mapper) combination:
- append -> read-after-write through a gated view (memlog.js:36-52)
- golden mean/stdev after each append (memlog.js:44-64)
- ordering round-trip: stream seqs -> get each (memlog.js:68-80)
- projection modes seqs/values (memlog-map.js:48-108)
- view-ahead-of-log forces destroy-then-rebuild (memlog.js:98-126)
- close -> use-after-close throws (memlog.js:143-168)
- rebuild delivery counting: no loss, no duplication (rebuild.js:19-62)
- driver-side point gets (``db.get``, ``Level.get``) equal the Spark scan,
  before and after redaction and compaction
- range reads, planned from the manifest's per-file seq ranges, equal the
  full scan's filter after redaction and compaction, and a manifest
  written before ranges were recorded still reads every row
- tiered compaction keeps a file at the target size (name and mtime)
  and merges only the small files after it, every row (``ts`` included)
  unchanged and manifest order still seq order
"""

import math
import os

import pytest

from flumedb_spark.engine import ClosedError, Flume
from flumedb_spark.log import OffsetLog, ParquetLog, VersionedLog
from flumedb_spark.views.level import Level
from flumedb_spark.views.reduce import NativeStats, Reduce


class _BulkWrites:
    """append() routed through the DISTRIBUTED bulk path — runs the
    whole contract suite over ``bulk_append_df`` (the reference proves
    backend conformance the same way: re-run the one suite per backend,
    `test/offset.js:4-25`). meta_updates writes (streaming-sink epochs)
    keep the driver path; everything else becomes a Spark job."""

    def append(self, values, meta_updates=None):
        from pyspark.sql import SparkSession

        batch = values if isinstance(values, list) else [values]
        spark = SparkSession.getActiveSession()
        # the *-bulk parametrizations exist to run the contract over the
        # DISTRIBUTED write path: a missing active session must fail
        # loudly, not silently degrade into re-running the driver path
        assert spark is not None or meta_updates or not batch, (
            "bulk contract backend requires an active SparkSession"
        )
        if meta_updates or not batch:
            return super().append(values, meta_updates)
        encoded = [(self.codec.encode(v),) for v in batch]
        # createDataFrame splits the list into contiguous in-order
        # chunks, so (pid, row) order == list order == append order
        return self.bulk_append_df(spark.createDataFrame(encoded, "value string"))


class BulkParquetLog(_BulkWrites, ParquetLog):
    pass


class BulkOffsetLog(_BulkWrites, OffsetLog):
    pass


class BulkVersionedLog(_BulkWrites, VersionedLog):
    pass


BACKENDS = {
    "parquet-dense": ParquetLog,
    "parquet-offset": OffsetLog,
    "parquet-dense-bulk": BulkParquetLog,
    "parquet-offset-bulk": BulkOffsetLog,
    # cross-host optimistic-concurrency backend (versioned manifests):
    # same contract, no locks — the reference's run-the-suite-per-backend
    # pattern proves conformance (test/offset.js:4-25)
    "versioned-occ": VersionedLog,
    "versioned-occ-bulk": BulkVersionedLog,
}

MAPPERS = {
    "none": None,
    "identity": lambda v: v,
    "enriching": lambda v: {**v, "mapped": True},
}


@pytest.fixture(params=list(BACKENDS), ids=list(BACKENDS))
def backend(request):
    return BACKENDS[request.param]


@pytest.fixture(params=list(MAPPERS), ids=list(MAPPERS))
def mapper(request):
    return MAPPERS[request.param]


@pytest.fixture()
def db(spark, tmp_log_dir, backend, mapper):
    d = Flume(backend(tmp_log_dir + "/log"), mapper=mapper, spark=spark)
    yield d
    if not d.closed:
        d.close()


def test_read_after_write_and_golden_stats(db, mapper):
    db.use("stats", NativeStats(1, field="foo"))
    db.append({"foo": 1})
    s = db.stats.get()
    assert s["mean"] == 1 and s["stdev"] == 0  # memlog.js:44-49
    db.append({"foo": 3})
    s = db.stats.get()
    assert s["mean"] == 2 and math.isclose(s["stdev"], 1.0)  # memlog.js:58-64
    if mapper is MAPPERS["enriching"]:
        # mapper output reaches reads but is never persisted to the log
        assert db.get(db.since)["mapped"] is True
        import json

        raw = db.log.df(db.spark).orderBy("seq").collect()[-1]
        assert "mapped" not in json.loads(raw.value)


def test_ordering_roundtrip_and_projection(db):
    vals = [{"foo": i} for i in range(4)]
    db.append(vals)
    items = db.stream()
    assert [i["value"]["foo"] for i in items] == [0, 1, 2, 3]  # memlog.js:68-80
    seqs = db.stream(values=False)
    assert seqs == sorted(seqs) and len(seqs) == 4
    for s, expect in zip(seqs, range(4)):
        assert db.get(s)["foo"] == expect
    only_vals = db.stream(seqs=False)
    assert [v["foo"] for v in only_vals] == [0, 1, 2, 3]


def test_view_ahead_of_log_rebuilds(db, spark, backend, tmp_log_dir, mapper):
    db.use("sum", Reduce(1, lambda a, i: (a or 0) + i["foo"]))
    db.append([{"foo": 1}, {"foo": 2}])
    assert db.sum.get() == 3
    db.close()
    # replace the LOG with a shorter one but KEEP the view's persisted
    # state (memlog.js:98-126: log truncated behind the view's back).
    # Deleting the whole log dir would also delete <log>/views/sum and
    # the destroy-then-rebuild logic would never run — the fresh view
    # would trivially start at -1 (a vacuous pass).
    import shutil

    root = tmp_log_dir + "/log"
    for entry in os.listdir(root):
        if entry != "views":
            p = os.path.join(root, entry)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    db2 = Flume(backend(root), mapper=mapper, spark=spark)
    db2.append({"foo": 7})
    db2.use("sum", Reduce(1, lambda a, i: (a or 0) + i["foo"]))
    # the persisted accumulator (3, since ahead of the truncated log)
    # must be DISCARDED by the view-ahead destroy, not merged
    assert db2.sum.get() == 7
    db2.close()


def test_close_then_everything_throws(db):
    db.append({"foo": 1})
    db.close()
    for call in (
        lambda: db.append({"foo": 2}),
        lambda: db.stream(),
        lambda: db.get(0),
    ):
        with pytest.raises(ClosedError):
            call()


def test_rebuild_delivery_counts(db):
    """rebuild.js:19-62: 2 original + 2 replayed + 3 appended after = the
    view sees exactly 7 deliveries, none lost, none duplicated."""
    db.use("idx", Level(1, key_fn=lambda v: [str(v["foo"])]))
    db.append([{"foo": 1}, {"foo": 2}])
    assert len(db.idx.get("1")) == 1
    assert db.idx.meta["items"] == 2
    db.rebuild()
    assert db.idx.meta["items"] == 4  # 2 replayed
    db.append([{"foo": 3}, {"foo": 4}, {"foo": 5}])
    assert len(db.idx.get("5")) == 1
    assert db.idx.meta["items"] == 7  # 3 appended after
    # no duplication: each key indexed exactly once
    for k in "12345":
        assert len(db.idx.get(k)) == 1


def _concat(acc, v):
    return (acc or "") + v["tok"]


def _join(a, b):
    return a + b


def test_order_sensitive_reduce_folds_in_seq_order(spark, tmp_log_dir, backend):
    """A batch reaches a fold unordered (FlumeView.fold): an
    order-sensitive Reduce must sort it itself, with and without a
    combiner, on every backend (the mapper modes add nothing to order,
    so this case runs per backend only). Each commit's records are
    longer than the last, so its file is larger and a size-ordered scan
    would read it first."""
    db = Flume(backend(tmp_log_dir + "/log"), spark=spark)
    db.use("seq_cat", Reduce(1, _concat))
    db.use("par_cat", Reduce(1, _concat, combiner=_join))
    toks = [f"{c}{i}" for c in "abcd" for i in range(3)]
    for c in range(3):
        db.append([{"tok": t, "pad": "x" * (200 * c)} for t in toks[3 * c : 3 * c + 3]])
    expect = "".join(toks[:9])
    assert db.seq_cat.get() == expect and db.par_cat.get() == expect
    db.append([{"tok": t} for t in toks[9:]])  # incremental fold onto acc
    expect = "".join(toks)
    assert db.seq_cat.get() == expect and db.par_cat.get() == expect
    db.rebuild()
    assert db.seq_cat.get() == expect and db.par_cat.get() == expect
    db.close()


def _k_key(v):
    return [str(v["k"])]


def test_point_gets_match_the_scan(spark, tmp_log_dir, backend):
    """``db.get`` and ``Level.get`` read the manifest's files in the
    driver: on every backend they must equal the Spark scan. Seqs come
    from the log itself, never from arithmetic: on OffsetLog they are
    byte offsets."""
    db = Flume(backend(tmp_log_dir + "/log"), spark=spark)
    db.use("idx", Level(1, key_fn=_k_key))
    for c in range(3):
        db.append([{"k": i % 3, "c": c} for i in range(4)])

    def check():
        scan = db.stream()
        for item in scan:
            assert db.get(item["seq"]) == item["value"]
        for k in range(3):
            want = [(i["seq"], i["value"]) for i in scan if i["value"]["k"] == k]
            assert [(r["seq"], r["value"]) for r in db.idx.get(str(k))] == want
        with pytest.raises(KeyError):
            db.get(scan[-1]["seq"] + 1)  # past the head
        return scan

    scan = check()
    gone = scan[4]["seq"]
    assert db.delete_seqs([gone]) == 1
    with pytest.raises(KeyError):
        db.get(gone)
    assert len(check()) == len(scan) - 1
    db.log.compact(spark)
    db._views["idx"].compact()
    assert len(check()) == len(scan) - 1
    db.close()


def _seqs(df) -> list[int]:
    return sorted(r.seq for r in df.select("seq").collect())


def _check_range_reads(db, spark) -> list[int]:
    """Range reads and point gets equal the full scan's filter, and the
    manifest's ``ranges`` name exactly its ``files``. Bounds sit inside
    files and on file edges (each commit holds five records)."""
    meta = db.log._load_meta()
    assert set(meta["ranges"]) == set(meta["files"])
    # no commit lists a file without rows (a bulk append's empty parts)
    assert all(r[2] > 0 for r in meta["ranges"].values()), meta["ranges"]
    seqs = _seqs(db.log.df(spark))
    bounds = [
        (None, seqs[3]),
        (seqs[2], seqs[9]),
        (seqs[4], seqs[5]),
        (seqs[7], None),
        (seqs[-1], None),
        (None, None),
    ]
    for gt, lte in bounds:
        want = [s for s in seqs if (gt is None or s > gt) and (lte is None or s <= lte)]
        assert _seqs(db.log.stream_df(spark, gt=gt, lte=lte, ordered=False)) == want
    assert _seqs(db.log.stream_df(spark, gte=seqs[5], lt=seqs[12], ordered=False)) == seqs[5:12]
    assert [r["seq"] for r in db.log.read_seqs(seqs[3:8])] == seqs[3:8]
    return seqs


def test_range_reads_match_the_full_scan(spark, tmp_log_dir, backend):
    """A range read plans only the files whose recorded seq range
    overlaps it. On every backend it must equal the full scan's filter,
    and stay equal after redaction, compaction, later appends and a
    tiered compaction."""
    db = Flume(backend(tmp_log_dir + "/log"), spark=spark)
    for c in range(4):
        db.append([{"c": c, "i": i} for i in range(5)])
    seqs = _check_range_reads(db, spark)
    assert db.delete_seqs([seqs[6], seqs[13]]) == 2
    kept = _check_range_reads(db, spark)
    assert len(kept) == 18
    # the rewritten files stand where the redacted ones stood: manifest
    # order is still seq order, so a file-order read is seq-ordered
    meta = db.log._load_meta()
    lows = [meta["ranges"][f][0] for f in meta["files"]]
    assert lows == sorted(lows)
    assert [r["seq"] for r in db.log.read_seqs(kept)] == kept
    db.append([{"c": 4, "i": i} for i in range(5)])
    db.log.compact(spark)
    db.append([{"c": 5, "i": i} for i in range(5)])
    assert len(_check_range_reads(db, spark)) == 28
    # tiered: the compacted file holds the target's rows, so the next
    # compaction keeps it (same name, same mtime) and merges only the
    # small files after it; the *-bulk backends' small files store ts
    # as INT96
    meta = db.log._load_meta()
    big = meta["files"][0]
    mtime = os.stat(os.path.join(db.log.data_dir, big)).st_mtime_ns
    for c in range(6, 9):
        db.append([{"c": c, "i": i} for i in range(2)])
    small = db.log._load_meta()["files"][1:]
    rows = sorted(db.log.df(spark).collect())
    db.log.compact(spark, target_rows_per_file=meta["ranges"][big][2])
    meta = db.log._load_meta()
    assert meta["files"][0] == big and len(meta["files"]) == 2
    assert os.stat(os.path.join(db.log.data_dir, big)).st_mtime_ns == mtime
    assert not set(small) & set(meta["files"])
    assert sorted(db.log.df(spark).collect()) == rows  # ts included
    lows = [meta["ranges"][f][0] for f in meta["files"]]
    assert lows == sorted(lows)
    assert len(_check_range_reads(db, spark)) == 34
    db.close()


def test_manifest_without_ranges_reads_every_file(spark, tmp_log_dir, backend):
    """A manifest written before ranges were recorded: every file is
    read, and the next append records a range for its own files only."""
    db = Flume(backend(tmp_log_dir + "/log"), spark=spark)
    for c in range(3):
        db.append([{"c": c, "i": i} for i in range(5)])
    full = db.stream()
    db.log._write_txn(lambda meta: meta.pop("ranges"))
    old_files = db.log._load_meta()["files"]
    assert "ranges" not in db.log._load_meta()
    assert db.stream() == full
    seqs = [i["seq"] for i in full]
    assert _seqs(db.log.stream_df(spark, gt=seqs[3], lte=seqs[11], ordered=False)) == seqs[4:12]
    assert [db.get(s) for s in seqs] == [i["value"] for i in full]
    db.append([{"c": 3, "i": i} for i in range(5)])
    meta = db.log._load_meta()
    assert set(meta["ranges"]) == set(meta["files"]) - set(old_files)
    assert len(db.stream()) == 20
    assert len(_seqs(db.log.stream_df(spark, gt=seqs[-1], ordered=False))) == 5
    # compaction counts a file without a range by its footer, and records
    # the ranges of the files it keeps, so its output stands after them
    db.log.compact(spark)
    db.log._write_txn(lambda meta: meta.pop("ranges"))
    [big] = db.log._load_meta()["files"]
    db.append([{"c": 4, "i": i} for i in range(2)])
    db.append([{"c": 5, "i": i} for i in range(2)])
    db.log.compact(spark, target_rows_per_file=20)
    meta = db.log._load_meta()
    assert meta["files"][0] == big and len(meta["files"]) == 2
    assert set(meta["ranges"]) == set(meta["files"])
    assert meta["ranges"][big][2] == 20
    scan = db.stream()
    assert scan[:15] == full and len(scan) == 24
    db.close()
