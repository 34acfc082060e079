"""Point gets read Parquet in the driver through Arrow; these tests pin
them to the Spark expressions they replaced.

Each oracle is the old Spark read, rebuilt inside the test: a
``where(col("key") == lit(k))`` filter plus ``collect()`` on the view's
snapshot, ``Level._join_back`` for the index, and the mapped Spark scan
(``db.stream_df``) for ``db.get``. Then the point gets that have nothing
left to fold must start no Spark job at all.
"""

import os
import uuid

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from flumedb_spark import ExprMapper, Flume
from flumedb_spark.views.grouped import GroupedStats
from flumedb_spark.views.hashtable import Hashtable
from flumedb_spark.views.level import Level

RECS = [{"k": i % 7, "v": i, "name": f"n{i % 5}"} for i in range(40)]
ABSENT = object()


def _last(k):
    return [r for r in RECS if r["k"] == k][-1]


def _name(v):
    return v["name"]


def _names(v):
    return [v["name"]]


def _key_twice(v):
    return [v["name"], v["name"]]


def _enrich(v):
    return {**v, "mapped": v["v"] * 10}


def _ht_oracle(db, view, key):
    rows = view.df_snapshot().where(F.col("key") == F.lit(key)).collect()
    return db.log.codec.decode(rows[0].value) if rows else None


def _level_oracle(db, view, key):
    idx = view.df().where(F.col("key") == F.lit(key))
    rows = view._join_back(idx).select("seq", "key", "value").collect()
    rows.sort(key=lambda r: r.seq)
    decode = db.log.codec.decode
    return [{"seq": r.seq, "key": r.key, "value": decode(r.value)} for r in rows]


def _db_get_oracle(db, seq):
    rows = db.stream_df(gte=seq, lte=seq).collect()
    return db.log.codec.decode(rows[0].value) if rows else ABSENT


def _db_get(db, seq):
    try:
        return db.get(seq)
    except KeyError:
        return ABSENT


def _fill(db, chunks=4):
    step = len(RECS) // chunks
    for i in range(0, len(RECS), step):
        db.append(RECS[i : i + step])


def test_hashtable_get_matches_spark_filter(spark, tmp_log_dir):
    db = Flume(tmp_log_dir, spark=spark)
    db.use("by_k", Hashtable(1, key_expr="get_json_object(value, '$.k')", key_type="long"))
    db.use("first_k", Hashtable(1, key_expr="get_json_object(value, '$.k')", key_type="long", keep="first"))
    db.use("by_name", Hashtable(1, key_fn=_name))
    _fill(db)
    cases = [
        ("by_k", [0, 3, 6, 99, "5", None]),  # "5" against a long column
        ("first_k", [0, 3, 99, "4", None]),
        ("by_name", ["n0", "n4", "nope", None]),
    ]
    for name, keys in cases:
        getattr(db, name).ready()
        view = db._views[name]
        for key in keys:
            want = _ht_oracle(db, view, key)
            assert getattr(db, name).get(key) == want, (name, key)
    # the answers are the real ones, not a shared empty result
    assert db.by_k.get("5") == _last(5)
    assert db.first_k.get(3) == RECS[3]
    assert db.by_name.get("nope") is None
    # a key Spark rejects must raise, never read as a silent None
    with pytest.raises(Exception):
        _ht_oracle(db, db._views["by_k"], "abc")
    with pytest.raises(pa.ArrowInvalid):
        db.by_k.get("abc")
    db.close()


def test_grouped_stats_get_matches_spark_filter(spark, tmp_log_dir):
    db = Flume(tmp_log_dir, spark=spark)
    db.use("g", GroupedStats(1, "get_json_object(value, '$.k')", field="v", key_type="long"))
    _fill(db)
    db.g.ready()
    view = db._views["g"]
    for key in [0, 6, "2", 99, None]:
        rows = view.snapshot().where(F.col("key") == F.lit(key)).collect()
        want = view._row_to_stats(rows[0].asDict()) if rows else None
        assert db.g.get(key) == want, key
    assert db.g.get(6)["count"] == len([r for r in RECS if r["k"] == 6])
    db.close()


@pytest.mark.parametrize("mapper", ["none", "python", "expr"])
def test_level_and_db_get_match_join_back(spark, tmp_log_dir, mapper):
    mappers = {
        "none": None,
        "python": _enrich,
        "expr": ExprMapper(
            "to_json(named_struct('k', CAST(get_json_object(value, '$.k') AS BIGINT),"
            " 'v', CAST(get_json_object(value, '$.v') AS BIGINT) * 10,"
            " 'name', get_json_object(value, '$.name')))"
        ),
    }
    db = Flume(tmp_log_dir, mapper=mappers[mapper], spark=spark)
    db.use("idx", Level(1, key_fn=_names))
    db.use("twice", Level(1, key_fn=_key_twice))
    db.use("by_k", Level(1, key_expr="array(get_json_object(value, '$.k'))", key_type="long"))
    _fill(db)
    for name in ("idx", "twice", "by_k"):
        getattr(db, name).ready()

    def check(name, hits, misses=()):
        view = db._views[name]
        for key in [*hits, *misses]:
            got = getattr(db, name).get(key)
            assert got == _level_oracle(db, view, key), (name, key)
            assert bool(got) == (key in hits), (name, key)

    check("idx", ["n0", "n3"], ["nope", None])
    check("twice", ["n1"], ["nope"])
    check("by_k", [0, 4, "4"], [99, None])
    # a record indexed twice under one key comes back twice
    twice = db.twice.get("n1")
    assert len(twice) == 2 * len([r for r in RECS if r["name"] == "n1"])
    assert [r["seq"] for r in twice] == sorted(r["seq"] for r in twice)
    with pytest.raises(pa.ArrowInvalid):
        db.by_k.get("abc")
    seqs = [0, 7, 39, 40, 1000]
    for seq in seqs:
        assert _db_get(db, seq) == _db_get_oracle(db, seq), seq

    # after compaction of both the index and the log
    db._views["idx"].compact()
    db.log.compact(spark)
    check("idx", ["n0", "n2"])
    check("by_k", [3])
    # a redacted seq vanishes from Level.get and db.get
    victim = db.idx.get("n2")[1]["seq"]
    db.delete_seqs([victim])
    assert _db_get(db, victim) is ABSENT
    assert victim not in [r["seq"] for r in db.idx.get("n2")]
    check("idx", ["n2"])
    check("twice", ["n2"])
    check("by_k", [0, 1])
    for seq in seqs:
        assert _db_get(db, seq) == _db_get_oracle(db, seq), seq
    if mapper == "python":
        assert db.get(8)["mapped"] == 80 and db.idx.get("n3")[0]["value"]["mapped"] == 30
    if mapper == "expr":
        assert db.get(8) == {"k": 1, "v": 80, "name": "n3"}
        assert db.idx.get("n3")[0]["value"] == {"k": 3, "v": 30, "name": "n3"}
    db.close()


def test_snapshot_dir_without_data_files(spark, tmp_log_dir):
    db = Flume(tmp_log_dir, spark=spark)
    db.use("ht", Hashtable(1, key_expr="get_json_object(value, '$.k')", key_type="long"))
    db.use("g", GroupedStats(1, "get_json_object(value, '$.k')", field="v", key_type="long"))
    db.use("idx", Level(1, key_fn=_names))
    db.append(RECS[:5])
    for name in ("ht", "g", "idx"):
        getattr(db, name).ready()
    assert db.ht.get(1) == RECS[1]
    # keep only the Spark write's markers (_SUCCESS, .crc files)
    dirs = [os.path.join(db._views[n].path, db._views[n]._meta["snapshot"]) for n in ("ht", "g")]
    view = db._views["idx"]
    dirs += [os.path.join(view._data_dir(), f) for f in view._meta["files"]]
    for d in dirs:
        for f in os.listdir(d):
            if not f.startswith(("_", ".")):
                os.remove(os.path.join(d, f))
    assert db.ht.get(1) is None
    assert db.g.get(1) is None
    assert db.idx.get("n1") == []
    db.close()


def test_point_gets_start_no_spark_job(spark, tmp_log_dir):
    """Gated gets with nothing left to fold run entirely in the driver."""
    db = Flume(tmp_log_dir, spark=spark)
    db.use("ht", Hashtable(1, key_expr="get_json_object(value, '$.k')", key_type="long"))
    db.use("idx", Level(1, key_expr="array(get_json_object(value, '$.k'))", key_type="long"))
    db.use("g", GroupedStats(1, "get_json_object(value, '$.k')", field="v", key_type="long"))
    _fill(db)
    for name in ("ht", "idx", "g"):
        getattr(db, name).ready()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"point-gets-{uuid.uuid4().hex[:8]}"
    probe = f"probe-{uuid.uuid4().hex[:8]}"
    try:
        # the group does capture this thread's jobs
        sc.setJobGroup(probe, "probe")
        db.log.df(spark).count()
        assert tracker.getJobIdsForGroup(probe)
        sc.setJobGroup(group, "point gets")
        assert db.ht.get(3) == _last(3)
        assert len(db.idx.get(3)) == len([r for r in RECS if r["k"] == 3])
        assert db.g.get(3)["count"] == len([r for r in RECS if r["k"] == 3])
        assert db.get(5) == RECS[5]
        assert tracker.getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    db.close()
