"""Regression tests for the round-1 advisor findings: fold-race
serialization, multi-row-group file pruning, atomic scalar-state
commits, the combiner None-sentinel, and search-term normalization."""

import json
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flumedb_spark.engine import Flume
from flumedb_spark.views.level import Level
from flumedb_spark.views.reduce import NativeStats, Reduce
from flumedb_spark.views.search import Search


# ---- live-fold vs read-driven catch-up serialization ----------------


def test_stream_fold_serializes_with_catchup(spark, tmp_log_dir):
    """_fold_batch must hold the engine lock and re-read view.since
    inside it: a range the reader already folded shrinks to a no-op
    instead of double-indexing append-style views."""
    from flumedb_spark.streaming.live import LiveViewRunner

    db = Flume(tmp_log_dir, spark=spark)
    db.use("idx", Level(1, key_fn=lambda v: [v["k"]]))
    for i in range(5):
        db.append({"k": f"k{i}", "v": i})
    assert db.idx.get("k3")[0]["value"]["v"] == 3  # gated read folds all

    runner = LiveViewRunner(db, "idx")
    # a stale batch covering the already-folded range, as the streaming
    # thread would deliver after losing the race with the gated read
    stale = db.log.stream_df(spark, gt=-1, lte=db.since, seqs=True, values=True)

    # the fold must wait while a catch-up holds the engine lock
    entered = threading.Event()

    def fold():
        entered.set()
        runner._fold_batch(stale, 0)

    with db._lock:
        t = threading.Thread(target=fold)
        t.start()
        entered.wait(5)
        time.sleep(0.2)
        assert t.is_alive(), "fold ran without taking the engine lock"
    t.join(60)
    # and folding the stale range is a no-op: each key indexed once
    rows = db.idx.read(gte="k0", lt="k9", values=False).collect()
    assert [r.key for r in rows] == [f"k{i}" for i in range(5)]
    db.close()


# ---- multi-row-group file pruning -----------------------------------


def test_source_pruning_checks_all_row_groups(tmp_path):
    """A file whose row group 0 is out of range but whose LATER row
    groups hold in-range seqs must not be pruned."""
    from flumedb_spark.sources.flumelog_source import FlumeLogStreamReader

    log_dir = tmp_path / "log"
    data = log_dir / "data"
    data.mkdir(parents=True)
    # two row groups: seqs 0-4 and 100-104
    t = pa.table(
        {
            "seq": list(range(5)) + list(range(100, 105)),
            "ts": [None] * 10,
            "value": [f"v{i}".encode() for i in range(10)],
        },
        schema=pa.schema(
            [("seq", pa.int64()), ("ts", pa.timestamp("us")), ("value", pa.binary())]
        ),
    )
    pq.write_table(t, data / "000000000000.parquet", row_group_size=5)
    (log_dir / "meta.json").write_text(
        json.dumps({"files": ["000000000000.parquet"], "since": 104})
    )

    reader = FlumeLogStreamReader(str(log_dir))
    # range (50, 104]: row group 0's max (4) <= 50 — pruning on rg0 alone
    # would skip the whole file and drop seqs 100-104
    parts = reader.partitions({"since": 50}, {"since": 104})
    # read() yields Arrow RecordBatches (the DataSource API batch path)
    seqs = [
        s for p in parts for b in reader.read(p) for s in b.column("seq").to_pylist()
    ]
    assert seqs == list(range(100, 105))
    # the range a commit records for such a file spans every row group
    from flumedb_spark.log import footer_range

    assert footer_range(pq.read_metadata(data / "000000000000.parquet")) == [0, 104, 10]


# ---- atomic scalar-state commit -------------------------------------


def test_reduce_state_commits_atomically_with_since(spark, tmp_log_dir):
    """Reduce/NativeStats accumulators live INSIDE meta.json: one rename
    commits state + watermark together, so no crash window can pair new
    state with an old since."""
    db = Flume(tmp_log_dir, spark=spark)
    db.use("sum", Reduce(1, lambda a, i: (a or 0) + i["x"]))
    db.use("stats", NativeStats(1, field="x"))
    for x in (1, 2, 3):
        db.append({"x": x})
    assert db.sum.get() == 6
    assert db.stats.get("count") == 3

    for name in ("sum", "stats"):
        view = db._views[name]
        assert not os.path.exists(os.path.join(view.path, "state.json"))
        with open(os.path.join(view.path, "meta.json")) as f:
            meta = json.load(f)
        assert meta["since"] == view.since
        assert ("acc_json" in meta) or ("s" in meta)
    db.close()

    # reopen: state survives via meta alone
    db2 = Flume(tmp_log_dir, spark=spark)
    db2.use("sum", Reduce(1, lambda a, i: (a or 0) + i["x"]))
    assert db2.sum.get() == 6
    db2.close()


def test_reduce_none_accumulator_roundtrips(spark, tmp_log_dir):
    """A reducer that legitimately produces None must yield None, not
    silently keep the previous/initial accumulator."""
    db = Flume(tmp_log_dir, spark=spark)
    db.use("last_even", Reduce(1, lambda a, i: i["x"] if i["x"] % 2 == 0 else None,
                               initial=99))
    db.append({"x": 2})
    assert db.last_even.get() == 2
    db.append({"x": 3})  # reducer returns None
    assert db.last_even.get() is None
    db.close()


def test_combiner_merge_uses_explicit_set_flag(spark, tmp_log_dir):
    """Parallel-fold merge must consult the explicit acc-set flag: after
    real rows have folded, later partials go through the combiner even
    if the persisted accumulator is None."""
    calls = []

    def reducer(a, i):
        v = i["x"]
        return v if a is None else a + v

    def combiner(left, right):
        calls.append((left, right))
        l = 0 if left is None else left
        r = 0 if right is None else right
        return l + r

    db = Flume(tmp_log_dir, spark=spark)
    db.use("sum", Reduce(1, reducer, combiner=combiner))
    db.append({"x": 1})
    db.append({"x": 2})
    assert db.sum.get() == 3
    db.append({"x": 4})
    assert db.sum.get() == 7
    assert calls, "second fold must merge through the combiner"
    db.close()


# ---- search query-term normalization --------------------------------


def test_search_terms_normalized_and_deduped(spark, tmp_log_dir):
    db = Flume(tmp_log_dir, spark=spark)
    db.use("fts", Search(1, text_field="text"))
    db.append({"text": "don't panic said the whale"})
    db.append({"text": "panic elsewhere"})

    # repeated term: countDistinct(token)==len(terms) would never match
    hits = db.fts.query(["panic", "panic", "whale"])
    assert [h["value"]["text"] for h in hits] == ["don't panic said the whale"]
    # punctuated term tokenizes like the index side ("don't" -> don, t)
    hits = db.fts.query("don't")
    assert [h["value"]["text"] for h in hits] == ["don't panic said the whale"]
    db.close()


def test_nativestats_scaled_partials_exact_incremental(spark, tmp_log_dir):
    """With scale set, incremental folds accumulate exact scaled ints:
    N one-row batches produce bit-identical stats to one N-row batch,
    immune to float summation order."""
    vals = [0.1, 0.2, 0.3, 1.07, 2.45, 9.99, 0.01]

    db1 = Flume(tmp_log_dir + "/inc", spark=spark)
    db1.use("st", NativeStats(1, field="x", scale=100))
    for v in vals:
        db1.append({"x": v})
        db1.st.get()  # force a fold per append
    inc = db1.st.get()
    db1.close()

    db2 = Flume(tmp_log_dir + "/oneshot", spark=spark)
    db2.use("st", NativeStats(1, field="x", scale=100))
    db2.append([{"x": v} for v in vals])
    one = db2.st.get()
    db2.close()

    assert inc == one  # exact equality, not approx
    assert inc["count"] == len(vals)
    assert inc["sum"] == round(sum(round(v * 100) for v in vals) / 100, 10)


# ---------------------------------------------------------------------
# round-3 deep-review fixes (full-repo code review of the core)
# ---------------------------------------------------------------------


def test_gate_target_beyond_head_clamps(spark, tmp_path):
    """An explicit wait-for-seq PAST the log head must not commit the
    view watermark into the unwritten gap — records later appended
    there would be permanently skipped by the fresh-seq filter.
    (Clamp is opt-in since r5: gate_on_timeout='clamp'.)"""
    from flumedb_spark import Flume, Reduce

    db = Flume(str(tmp_path / "db"), spark=spark)
    db.gate_on_timeout = "clamp"
    db.gate_wait_seconds = 0.1
    db.use("sum", Reduce(1, lambda a, i: (a or 0) + i["v"]))
    db.append([{"v": 1}, {"v": 2}])  # head = 1
    assert db.sum.get(since=100) == 3  # clamped to head, not committed at 100
    assert db._views["sum"].since == 1
    db.append({"v": 10})  # seq 2 — must still be folded
    assert db.sum.get() == 13
    db.close()


def test_live_tail_explicit_gt_none(spark, tmp_path):
    """stream(live=True, gt=None) means unbounded start, not TypeError."""
    from flumedb_spark import Flume

    db = Flume(str(tmp_path / "db2"), spark=spark)
    db.append([{"v": 1}, {"v": 2}])
    it = db.stream(live=True, gt=None, limit=2)
    got = [r["seq"] for r in it]
    assert got == [0, 1]
    db.close()


def test_corrupt_view_meta_destroys_and_rebuilds(spark, tmp_path):
    """A torn meta.json (crash mid-write) must trigger the reference's
    destroy-and-rebuild, not crash engine startup (index.js:56-75)."""
    import os

    from flumedb_spark import Flume, Reduce

    root = str(tmp_path / "db3")
    db = Flume(root, spark=spark)
    db.use("sum", Reduce(1, lambda a, i: (a or 0) + i["v"]))
    db.append([{"v": 5}, {"v": 7}])
    assert db.sum.get() == 12
    db.close()
    # tear the view meta
    meta_path = os.path.join(root, "views", "sum", "meta.json")
    with open(meta_path, "w") as f:
        f.write('{"since": 1, "vers')  # truncated json
    db2 = Flume(root, spark=spark)
    db2.use("sum", Reduce(1, lambda a, i: (a or 0) + i["v"]))
    assert db2.sum.get() == 12  # rebuilt from the log
    db2.close()


def test_query_sort_and_reduce_validate_fields(spark, tmp_path):
    """$sort / $reduce field refs go through the same undeclared-field
    validation as $filter/$map (KeyError, not AnalysisException)."""
    import pytest as _pytest

    from flumedb_spark import Flume
    from flumedb_spark.views.query import Query

    db = Flume(str(tmp_path / "db4"), spark=spark)
    db.use("q", Query(1, fields={"v": "long"}))
    db.append([{"v": 3}, {"v": 1}])
    assert [r["v"] for r in db.q.query([{"$sort": "v"}])] == [1, 3]
    with _pytest.raises(KeyError):
        db.q.query([{"$sort": "likez"}])
    with _pytest.raises(KeyError):
        db.q.query([{"$reduce": {"total": {"$sum": "likez"}}}])
    with _pytest.raises(KeyError):
        db.q.query([{"$reduce": {"n": {"$count": "v"}, "by": "nope"}}])
    db.close()


def test_bulk_staged_names_are_collision_free(spark, tmp_path):
    """Bulk-append staged files carry a uuid component: two optimistic
    writers at the same commit index must never stage identical names
    (the loser would overwrite the winner's committed data file)."""
    import os
    import re

    from flumedb_spark import Flume

    db = Flume(str(tmp_path / "db5"), spark=spark)
    df = spark.range(0, 10).selectExpr("CAST(id AS STRING) AS value")
    from flumedb_spark.sources.readers import append_df_to_log

    append_df_to_log(db.log, spark.range(0, 10).selectExpr("id AS v"))
    names = [f for f in os.listdir(db.log.data_dir) if "-b" in f]
    assert names, "bulk staged no files"
    for n in names:
        assert re.match(r"\d{10}-b\d{5}-[0-9a-f]{8}\.parquet$", n), n
    db.close()


# ---------------------------------------------------------------------
# round-4 advisor fixes
# ---------------------------------------------------------------------


def test_gate_observes_cross_process_commit(spark, tmp_path):
    """ready(since=N) where N was committed by ANOTHER process must
    refresh the on-disk watermark (wrap.js:42-53 queues the waiter until
    the view reaches N) instead of silently clamping to the stale cached
    head and returning a view that does not contain seq N."""
    from flumedb_spark import Flume, Reduce

    path = str(tmp_path / "xproc")
    db_reader = Flume(path, spark=spark)
    db_reader.use("sum", Reduce(1, lambda a, i: (a or 0) + i["v"]))
    db_reader.append([{"v": 1}, {"v": 2}])  # head = 1, cached
    assert db_reader.sum.get() == 3

    # "another process": a second engine over the same directory commits
    # seqs 2-3; the reader's cached watermark still says head=1
    db_writer = Flume(path, spark=spark)
    db_writer.append([{"v": 10}, {"v": 100}])
    assert db_writer.log.ready_since() == 3
    db_writer.close()

    assert db_reader.log.ready_since() == 1  # stale cache, precondition
    # explicit wait-for-seq-3: must observe the cross-process commit
    assert db_reader.sum.get(since=3) == 113
    assert db_reader._views["sum"].since == 3
    db_reader.close()


# ---------------------------------------------------------------------
# round-5 fixes (r4 VERDICT #3 / ADVICE: no silent prefix-read success)
# ---------------------------------------------------------------------


def test_gate_timeout_raises_by_default(spark, tmp_path):
    """A wait-for-seq that times out must NOT silently return a prefix
    read: the reference queues the waiter until the view reaches N
    (wrap.js:42-53), so a bounded waiter fails loudly with what it DID
    reach — and the watermark never commits into the unwritten gap."""
    import pytest as _pytest

    from flumedb_spark import Flume, GateTimeout, Reduce

    db = Flume(str(tmp_path / "strict"), spark=spark)
    db.gate_wait_seconds = 0.15
    db.use("sum", Reduce(1, lambda a, i: (a or 0) + i["v"]))
    db.append([{"v": 1}, {"v": 2}])  # head = 1
    with _pytest.raises(GateTimeout) as exc:
        db.sum.get(since=100)
    assert exc.value.target == 100
    assert exc.value.head == 1
    # the view never advanced past real data: later appends still fold
    assert db._views["sum"].since <= 1
    db.append({"v": 10})
    assert db.sum.get() == 13
    db.close()


def test_gate_block_mode_waits_for_late_commit(spark, tmp_path):
    """gate_on_timeout='block' reproduces the reference's unbounded
    queue: a commit landing AFTER the default poll window still resolves
    the waiter with the full state — never a prefix, never an error."""
    import threading as _threading

    from flumedb_spark import Flume, Reduce

    path = str(tmp_path / "blockmode")
    db = Flume(path, spark=spark)
    db.gate_on_timeout = "block"
    db.gate_wait_seconds = 0.05  # irrelevant in block mode
    db.use("sum", Reduce(1, lambda a, i: (a or 0) + i["v"]))
    db.append([{"v": 1}, {"v": 2}])  # head = 1

    def late_writer():
        import time as _t

        _t.sleep(0.4)  # past any poll window
        w = Flume(path, spark=spark)
        w.append([{"v": 10}, {"v": 100}])  # seqs 2, 3
        w.close()

    t = _threading.Thread(target=late_writer)
    t.start()
    try:
        assert db.sum.get(since=3) == 113  # blocked until the commit
        assert db._views["sum"].since == 3
    finally:
        t.join()
    db.close()


# ---------------------------------------------------------------------
# round-6 advisor fixes (jpeg multi-scan, archive guards, tiff/ebml/ogg)
# ---------------------------------------------------------------------


def test_jpeg_multiscan_baseline_rejected():
    """A baseline JPEG whose SOS covers only 1 of 3 frame components
    (legal per T.81 sequential multi-scan) must raise ValueError, not
    return a grayscale-expanded wrong image from the first scan."""
    import struct as _struct

    import numpy as np

    from flumedb_spark.operators import jpegcodec

    img = np.full((16, 16, 3), 0, dtype=np.uint8)
    img[:, :, 0] = 200  # make channels distinct
    enc = jpegcodec.encode_jpeg(img, quality=50)
    jpegcodec.decode_jpeg(enc)  # sanity: untouched stream decodes

    i = enc.find(b"\xff\xda")
    assert i > 0
    seglen = _struct.unpack(">H", enc[i + 2 : i + 4])[0]
    body = enc[i + 4 : i + 2 + seglen]
    assert body[0] == 3  # interleaved 3-component scan
    # rewrite to a single-component scan header (Ns=1, first component)
    new_sos = (
        b"\xff\xda" + _struct.pack(">H", 8) + bytes([1]) + body[1:3] + body[-3:]
    )
    hacked = enc[:i] + new_sos + enc[i + 2 + seglen :]
    with pytest.raises(ValueError):
        jpegcodec.decode_jpeg(hacked)


def test_gunzip_capped_stops_decompression_bombs():
    import gzip

    from flumedb_spark.operators import archives

    bomb = gzip.compress(b"\x00" * 100_000, mtime=0)
    assert archives.gunzip_capped(bomb) == b"\x00" * 100_000
    with pytest.raises(ValueError, match="cap"):
        archives.gunzip_capped(bomb, cap=1_000)


def test_archive_kernels_use_broad_malformed_guard():
    """The mapInPandas kernels catch the same error zoo as mmcodec's
    entry guard (MemoryError from a bomb, struct/Index errors from
    pathological stdlib paths) — never a partition failure."""
    from flumedb_spark.operators import archives

    for exc in (MemoryError, OverflowError, IndexError, ValueError):
        assert issubclass(exc, archives._MALFORMED) or exc in archives._MALFORMED
    import struct as _struct

    assert _struct.error in archives._MALFORMED


def test_tiff_offset_valued_bits_per_sample():
    """Real RGB TIFFs store BitsPerSample as a count-3 SHORT array
    behind a value offset; the decoder must follow it (reporting the
    first element), not silently report the default of 1."""
    from flumedb_spark.operators import mmcodec

    for be in (False, True):
        t = mmcodec.encode_tiff_skeleton(
            width=320, height=200, bits_per_sample=8, samples_per_pixel=3,
            big_endian=be, bps_as_array=True,
        )
        m = mmcodec.decode_tiff_meta(t)
        assert m["bits_per_sample"] == 8, (be, m)
        assert m["samples_per_pixel"] == 3
        assert m["width"] == 320 and m["height"] == 200
    # an offset pointing past the payload is malformed, not default-1
    t = mmcodec.encode_tiff_skeleton(samples_per_pixel=3, bps_as_array=True)
    with pytest.raises(ValueError):
        mmcodec.decode_tiff_meta(t[:-2])  # chop the out-of-line array


def test_ebml_short_form_unknown_size():
    """Unknown-size vints shorter than the 8-byte all-ones form (e.g.
    1-byte 0xFF on live-streamed/unfinalized Matroska Segments) must
    parse as unknown-size, not as a literal overrunning size."""
    from flumedb_spark.operators import mmcodec as mm

    full = mm.encode_webm_skeleton(500.0, width=320, height=240)
    seg_id = mm._ebml_encode_id(mm._MKV_SEGMENT)
    i = full.find(seg_id)
    assert i > 0
    _, p2 = mm._ebml_vint(full, i + len(seg_id), keep_marker=False)
    hacked = full[: i + len(seg_id)] + b"\xff" + full[p2:]
    m = mm.decode_webm_meta(hacked)
    assert m["doc_type"] == "webm"
    assert (m["width"], m["height"]) == (320, 240)
    # 2-byte form 0x7F 0xFF as well
    hacked2 = full[: i + len(seg_id)] + b"\x7f\xff" + full[p2:]
    m2 = mm.decode_webm_meta(hacked2)
    assert (m2["width"], m2["height"]) == (320, 240)


def test_ogg_truncated_page_and_spanning_packet_rejected():
    """A page whose segment table claims more bytes than are present
    must raise (not parse a short body that happens to pass the prefix
    checks), and an id header laced across pages (trailing 255) must
    refuse rather than parse a partial packet."""
    import struct as _struct

    from flumedb_spark.operators import mmcodec as mm

    good = mm.encode_ogg_skeleton("opus", channels=2, sample_rate=44100)
    assert mm.decode_ogg_meta(good)["channels"] == 2
    # claim a 30-byte packet but ship only the real 19: the OpusHead
    # prefix/length checks would still pass on the short body
    pkt = good[28:]
    assert len(pkt) == 19
    head = good[:26] + bytes([1, 30])
    with pytest.raises(ValueError, match="shorter"):
        mm.decode_ogg_meta(head + pkt)
    # a packet spanning pages: single lacing value 255
    body = (pkt + b"\x00" * 255)[:255]
    head255 = good[:26] + bytes([1, 255])
    with pytest.raises(ValueError, match="spans"):
        mm.decode_ogg_meta(head255 + body)
    # multi-segment id header fully inside the page still parses: a
    # 260-byte padded packet laces as [255, 5]
    pkt260 = pkt + b"\x00" * 241
    head2 = good[:26] + bytes([2, 255, 5])
    assert mm.decode_ogg_meta(head2 + pkt260)["codec"] == "opus"


# ---- round-6 advisor findings ----------------------------------------


def test_delta_gapped_log_with_dead_checkpoint_raises(spark, tmp_path):
    """A cleaned Delta log whose checkpoint is then corrupted must
    ERROR, not silently replay the surviving (gapped) JSONs into an
    incomplete snapshot (ADVICE r6, medium)."""
    import glob

    from flumedb_spark.engine import Flume
    from flumedb_spark.sources import delta_export as de

    db = Flume(str(tmp_path / "log"), spark=spark)
    for i in range(6):
        db.append({"i": i})
        de.export_delta_log(db.log, checkpoint_interval=None)
    delta_dir = os.path.join(db.log.path, "_delta_log")
    de.write_delta_checkpoint(db.log.path)
    cleaned = de.clean_delta_log(db.log.path, keep_versions=2)
    assert cleaned["deleted"] > 0, "cleaning must remove covered commits"
    assert de.read_delta_snapshot(db.log.path)["files"]  # healthy via ckpt
    ckpts = glob.glob(os.path.join(delta_dir, "*.checkpoint.parquet"))
    assert ckpts, "test needs a checkpoint to corrupt"
    for c in ckpts:
        with open(c, "wb") as f:
            f.write(b"not parquet")
    with pytest.raises(OSError):
        de.read_delta_snapshot(db.log.path)
    db.close()


def test_iceberg_existing_entries_keep_adding_snapshot_id(spark, tmp_path):
    """Spec: a manifest entry's snapshot_id is the snapshot where the
    file was ADDED; restating it as EXISTING in a later snapshot must
    carry the original id forward (ADVICE r6)."""
    from flumedb_spark.engine import Flume
    from flumedb_spark.operators.archives import avro_records
    from flumedb_spark.sources import iceberg_export as ie

    db = Flume(str(tmp_path / "log"), spark=spark)
    db.append({"i": 1})
    v1 = ie.export_iceberg_metadata(db.log)
    db.append({"i": 2})
    v2 = ie.export_iceberg_metadata(db.log)
    assert v2 > v1
    snap = ie.read_iceberg_snapshot(db.log.path)
    # the v1 file restated as EXISTING must still say snapshot v1
    meta_dir = os.path.join(db.log.path, "metadata")
    lists = [f for f in os.listdir(meta_dir) if f.startswith(f"snap-{v2}-")]
    assert lists
    with open(os.path.join(meta_dir, lists[0]), "rb") as f:
        mfs = avro_records(f.read())
    with open(mfs[0]["manifest_path"], "rb") as f:
        entries = avro_records(f.read())
    by_status = {}
    for e in entries:
        by_status.setdefault(e["status"], []).append(e)
    assert 0 in by_status, "expected an EXISTING restatement"
    for e in by_status[0]:
        assert e["snapshot_id"] == v1, "EXISTING entry lost its adding snapshot"
    for e in by_status.get(1, []):
        assert e["snapshot_id"] == v2
    # the replay reader carries the adding snapshot through (5th slot)
    assert {t[4] for t in snap["files"].values()} == {v1, v2}
    db.close()


def test_iceberg_schema_resolves_current_schema_id(tmp_path):
    """Foreign metadata with schema evolution must resolve the schema
    whose schema-id equals current-schema-id, not schemas[0]."""
    from flumedb_spark.sources.iceberg_export import _current_schema

    md = {
        "current-schema-id": 1,
        "schemas": [
            {"schema-id": 0, "fields": [{"id": 1, "name": "old"}]},
            {"schema-id": 1, "fields": [{"id": 1, "name": "new"}]},
        ],
    }
    assert _current_schema(md)["fields"][0]["name"] == "new"
    # writers that omit the id fall back to schemas[0]
    assert _current_schema({"schemas": [{"schema-id": 0}]}) == {"schema-id": 0}


def test_delete_where_stays_distributed(spark, tmp_path):
    """delete_where must route through the DataFrame bulk-redaction
    form — no driver-side seq list (ADVICE r6)."""
    from unittest.mock import patch

    from flumedb_spark.engine import Flume

    db = Flume(str(tmp_path / "log"), spark=spark)
    for i in range(10):
        db.append({"i": i})
    from pyspark.sql import DataFrame

    seen = {}
    orig = db.log.delete_seqs

    def spy(spark_, seqs):
        seen["type"] = type(seqs)
        return orig(spark_, seqs)

    with patch.object(db.log, "delete_seqs", side_effect=spy):
        n = db.delete_where("get_json_object(value, '$.i') % 2 = 0")
    assert n == 5
    assert issubclass(seen["type"], DataFrame)
    vals = sorted(
        json.loads(r["value"])["i"]
        for r in db.log.df(spark).select("value").collect()
    )
    assert vals == [1, 3, 5, 7, 9]
    db.close()


def test_avro_sink_timestamps_respect_session_timezone(spark, tmp_path):
    """timestamp-micros must be UTC epoch micros regardless of
    spark.sql.session.timeZone (ADVICE r6): a naive session-local
    wall-clock is localized, not mis-read as UTC."""
    import datetime

    from flumedb_spark.sources.avro_sink import read_avro_ocf, write_avro_ocf

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # 2024-01-15 12:00:00 in New York == 17:00 UTC
        df = spark.sql(
            "SELECT 1 AS id, timestamp'2024-01-15 12:00:00' AS ts"
        )
        out = str(tmp_path / "tz_avro")
        write_avro_ocf(df.coalesce(1), out)
        recs = read_avro_ocf(spark, out, logical=False)
        want_us = int(
            datetime.datetime(
                2024, 1, 15, 17, 0, 0, tzinfo=datetime.timezone.utc
            ).timestamp()
            * 1_000_000
        )
        assert recs[0]["ts"] == want_us
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_avro_sink_dst_fold_and_gap_localize_deterministically():
    """A naive wall time in a DST fold or gap must localize under the
    documented policy (fold -> DST/earlier instant, gap -> shift
    forward) instead of raising Ambiguous/NonExistentTimeError and
    killing the whole export for one row (ADVICE r7)."""
    import pandas as pd
    from pyspark.sql import types as T

    from flumedb_spark.sources.avro_sink import _to_avro_value

    tz = "America/New_York"
    # 2024-11-03 01:30 happens twice (fall back): policy picks the DST
    # (earlier, UTC-4) instant = 05:30 UTC
    amb = _to_avro_value(pd.Timestamp("2024-11-03 01:30:00"), T.TimestampType(), tz)
    assert amb == 1730611800000000
    # 2024-03-10 02:30 never happens (spring forward): shift forward to
    # 03:00 EDT = 07:00 UTC
    gap = _to_avro_value(pd.Timestamp("2024-03-10 02:30:00"), T.TimestampType(), tz)
    assert gap == 1710054000000000


def test_avro_sink_dst_fold_row_does_not_kill_export(spark, tmp_path):
    """End-to-end: exporting a row whose session-local wall time falls
    inside the fall-back fold completes instead of raising."""
    from flumedb_spark.sources.avro_sink import read_avro_ocf, write_avro_ocf

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # SQL literal parses under the SESSION zone, so Arrow hands the
        # executor kernel the ambiguous naive wall time 01:30
        df = spark.sql("SELECT 1 AS id, timestamp'2024-11-03 01:30:00' AS ts")
        out = str(tmp_path / "dst_avro")
        write_avro_ocf(df.coalesce(1), out)
        recs = read_avro_ocf(spark, out, logical=False)
        assert len(recs) == 1
        # whichever fold instant Spark stored, the writer's policy emits
        # the DST (earlier) micros for the 01:30 naive wall time
        assert recs[0]["ts"] == 1730611800000000
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_delta_missing_hint_on_gapped_log_raises(spark, tmp_path):
    """The gapped-log guard must cover EVERY full-replay path without a
    readable checkpoint (ADVICE r7 hoist): when _last_checkpoint itself
    is missing (not just unreadable parquet), a cleaned log must error,
    not silently replay the surviving JSONs into an incomplete
    snapshot."""
    from flumedb_spark.engine import Flume
    from flumedb_spark.sources import delta_export as de

    db = Flume(str(tmp_path / "log"), spark=spark)
    for i in range(6):
        db.append({"i": i})
        de.export_delta_log(db.log, checkpoint_interval=None)
    delta_dir = os.path.join(db.log.path, "_delta_log")
    de.write_delta_checkpoint(db.log.path)
    cleaned = de.clean_delta_log(db.log.path, keep_versions=2)
    assert cleaned["deleted"] > 0
    assert de.read_delta_snapshot(db.log.path)["files"]  # healthy via ckpt
    os.remove(os.path.join(delta_dir, "_last_checkpoint"))
    with pytest.raises(OSError):
        de.read_delta_snapshot(db.log.path)
    db.close()


def test_delta_empty_log_dir_still_reads_as_empty_table(tmp_path):
    """The hoisted guard must NOT break the legal empty-table case: a
    log dir with no commits and no checkpoint artifacts reads as
    version -1 with no files."""
    from flumedb_spark.sources import delta_export as de

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    snap = de.read_delta_snapshot(root)
    assert snap["version"] == -1 and snap["files"] == set()


def test_stream_mad_state_removed_when_drained():
    """_mad_update must REMOVE state once its pending list drains —
    keeping an empty-array entry with a re-armed event-time timeout
    grows state and per-batch timeout work with every key ever seen
    (ADVICE r7)."""
    import pandas as pd

    from flumedb_spark.streaming.stateful import _mad_update

    class FakeState:
        def __init__(self, wm_ms):
            self.exists = False
            self._v = None
            self.removed = False
            self.timeout_set = False
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
            self.timeout_set = True

    bucket_us = 3_600_000_000
    # watermark far past the events' buckets: everything closes, rest=[]
    st = FakeState(wm_ms=10 * 3_600_000)
    st.update(([1_000_000], [1], [5.0]))  # one pending event in bucket 0
    st.timeout_set = False
    out = list(_mad_update(bucket_us, 3.0, (7,), iter([pd.DataFrame(
        {"ts_us": [2_000_000], "event_id": [2], "value": [6.0]}
    )]), st))
    assert st.removed and not st.exists
    assert not st.timeout_set, "drained key must not re-arm a timeout"
    assert len(out) == 1
    # a fresh open-bucket event later re-creates state from scratch
    st2 = FakeState(wm_ms=1)
    list(_mad_update(bucket_us, 3.0, (7,), iter([pd.DataFrame(
        {"ts_us": [9 * 3_600_000_000], "event_id": [3], "value": [1.0]}
    )]), st2))
    assert st2.exists and not st2.removed and st2.timeout_set
