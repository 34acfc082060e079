"""View-family tests (SURVEY §2.B): level index, hashtable, search,
bloom, query DSL — including late registration, rebuild, persistence."""

import os

import pytest

from flumedb_spark import Flume
from flumedb_spark.views.bloom import Bloom
from flumedb_spark.views.grouped import GroupedStats
from flumedb_spark.views.hashtable import Hashtable
from flumedb_spark.views.level import Level
from flumedb_spark.views.query import Query
from flumedb_spark.views.search import Search

DOCS = [
    {"author": "alice", "tags": ["db", "log"], "text": "append only log store", "likes": 3},
    {"author": "bob", "tags": ["db"], "text": "the log is the database", "likes": 10},
    {"author": "alice", "tags": ["spark"], "text": "catalyst optimizes the plan", "likes": 7},
    {"author": "carol", "tags": [], "text": "views fold the log stream", "likes": 10},
]


@pytest.fixture()
def db(spark, tmp_log_dir):
    d = Flume(tmp_log_dir, spark=spark)
    d.append(DOCS)
    yield d
    d.close()


# ---- V2: level secondary index -----------------------------------------


def test_level_index_key_fn(db):
    # one record may index under MANY keys (test/rebuild.js:25-32)
    db.use("by_tag", Level(1, key_fn=lambda v: v["tags"]))
    hits = db.by_tag.get("db")
    assert [h["seq"] for h in hits] == [0, 1]
    assert hits[0]["value"]["author"] == "alice"
    assert db.by_tag.get("nope") == []


def test_level_index_key_expr_range(db):
    # JVM-only path + ordered key range scan with join-back
    db.use(
        "by_author",
        Level(1, key_expr="array(get_json_object(value, '$.author'))"),
    )
    rows = db.by_author.read(gte="alice", lt="carol").collect()
    assert [(r.key, r.seq) for r in rows] == [("alice", 0), ("alice", 2), ("bob", 1)]
    rows = db.by_author.read(reverse=True, limit=1, values=False).collect()
    assert [(r.key, r.seq) for r in rows] == [("carol", 3)]


def test_level_incremental_and_rebuild(db):
    db.use("by_tag", Level(1, key_fn=lambda v: v["tags"]))
    assert len(db.by_tag.get("db")) == 2
    db.append({"author": "dan", "tags": ["db"], "text": "x", "likes": 0})
    assert len(db.by_tag.get("db")) == 3  # incremental fold picked it up
    db.rebuild()
    assert len(db.by_tag.get("db")) == 3  # no dup after replay


# ---- V5: hashtable latest-per-key --------------------------------------


def test_hashtable_latest_per_key(db):
    db.use("latest", Hashtable(1, key_expr="get_json_object(value, '$.author')"))
    assert db.latest.get("alice")["likes"] == 7  # seq 2 beats seq 0
    db.append({"author": "alice", "tags": [], "text": "new", "likes": 99})
    assert db.latest.get("alice")["likes"] == 99
    assert db.latest.get("missing") is None
    assert db.latest.keys() == ["alice", "bob", "carol"]


def test_hashtable_key_fn(db):
    db.use("ht", Hashtable(1, key_fn=lambda v: v["author"]))
    assert db.ht.get("carol")["likes"] == 10


# ---- V4: full-text search ----------------------------------------------


def test_search_and_semantics(db):
    db.use("ft", Search(1, text_field="text"))
    assert [h["seq"] for h in db.ft.query("log")] == [0, 1, 3]
    assert [h["seq"] for h in db.ft.query(["the", "log"])] == [1, 3]  # AND
    assert db.ft.query("absent") == []
    db.append({"author": "dan", "tags": [], "text": "another log line", "likes": 1})
    assert [h["seq"] for h in db.ft.query("log")] == [0, 1, 3, 4]


# ---- V6: bloom ----------------------------------------------------------


def test_bloom_membership(db):
    db.use("seen", Bloom(1, key_expr="get_json_object(value, '$.author')", expected_items=1000))
    assert db.seen.has("alice") is True
    assert db.seen.has("nobody") is False
    # sketch: no false negatives ever
    for a in ("alice", "bob", "carol"):
        assert db.seen.might_have(a) is True
    assert db.seen.approx_count() >= 3
    db.append({"author": "zed", "tags": [], "text": "", "likes": 0})
    assert db.seen.has("zed") is True


# ---- V3: query DSL ------------------------------------------------------


FIELDS = {"author": "string", "likes": "long", "text": "string"}


def test_query_filter_map_sort_limit(db):
    db.use("q", Query(1, fields=FIELDS))
    out = db.q.query(
        [
            {"$filter": {"likes": {"$gte": 7}}},
            {"$map": {"who": "author", "n": "likes"}},
            {"$sort": "n", "$reverse": True},
            {"$limit": 2},
        ]
    )
    assert {o["who"] for o in out} <= {"bob", "carol", "alice"}
    assert [o["n"] for o in out] == [10, 10]


def test_query_reduce_grouped(db):
    db.use("q", Query(1, fields=FIELDS))
    out = db.q.query(
        [{"$reduce": {"total": {"$sum": "likes"}, "n": {"$count": True}, "by": "author"}}]
    )
    d = {o["author"]: (o["total"], o["n"]) for o in out}
    assert d == {"alice": (10, 2), "bob": (10, 1), "carol": (10, 1)}


def test_query_filter_ops(db):
    db.use("q", Query(1, fields=FIELDS))
    out = db.q.query([{"$filter": {"author": {"$in": ["bob", "carol"]}, "likes": 10}}])
    assert sorted(o["seq"] for o in out) == [1, 3]
    out = db.q.query([{"$filter": {"author": {"$prefix": "ali"}}}])
    assert sorted(o["seq"] for o in out) == [0, 2]
    with pytest.raises(KeyError):
        db.q.query([{"$filter": {"undeclared": 1}}])


def test_query_pushdown_reaches_scan(db):
    # the declared-field filter must appear in the physical plan's scan
    db.use("q", Query(1, fields=FIELDS))
    plan = db.q.explain([{"$filter": {"likes": {"$gte": 7}}}])
    assert "PushedFilters" in plan


def test_level_compact_preserves_results(db):
    db.use("by_tag2", Level(1, key_fn=lambda v: v["tags"]))
    before = [(h["seq"], h["key"]) for h in db.by_tag2.get("db")]
    assert len(db.by_tag2._view._meta["files"]) >= 1
    db.by_tag2._view.compact()
    assert len(db.by_tag2._view._meta["files"]) == 1
    after = [(h["seq"], h["key"]) for h in db.by_tag2.get("db")]
    assert after == before
    # incremental folds keep working after compaction
    db.append({"author": "eve", "tags": ["db"], "text": "y", "likes": 1})
    assert len(db.by_tag2.get("db")) == len(before) + 1


def test_query_dsl_sees_mapped_values(spark, tmp_log_dir):
    # O15 x V3: the Query planner reads THROUGH the mapper (views consume
    # the mapped plan, index.js:169-172), so declared fields reflect the
    # transform, not the stored bytes
    from flumedb_spark import ExprMapper, Flume

    mapper = ExprMapper(
        "to_json(named_struct("
        "'author', upper(get_json_object(value, '$.author')), "
        "'likes', CAST(get_json_object(value, '$.likes') AS BIGINT) * 10))"
    )
    d = Flume(tmp_log_dir, mapper=mapper, spark=spark)
    d.append(DOCS)
    d.use("q", Query(1, fields={"author": "string", "likes": "long"}))
    out = d.q.query([{"$filter": {"likes": {"$gte": 100}}}, {"$map": {"who": "author"}}])
    assert sorted(o["who"] for o in out) == ["BOB", "CAROL"]
    d.close()


def test_grouped_stats_incremental(db):
    db.use("by_author_stats", GroupedStats(1, "get_json_object(value, '$.author')", field="likes"))
    s = db.by_author_stats.get("alice")
    assert s["count"] == 2 and s["sum"] == 10 and s["mean"] == 5
    assert db.by_author_stats.get("bob")["count"] == 1
    assert db.by_author_stats.get("nobody") is None
    # incremental: new append merges into the existing group partials
    db.append({"author": "alice", "tags": [], "text": "", "likes": 20})
    s = db.by_author_stats.get("alice")
    assert s["count"] == 3 and s["sum"] == 30 and s["mean"] == 10
    assert db.by_author_stats.n_groups() == 3
    # rebuild converges to the same state (algebra is replay-safe)
    db.rebuild()
    s2 = db.by_author_stats.get("alice")
    assert s2 == s


def test_bloom_sketch_persists_across_instances(spark, tmp_log_dir):
    db = Flume(tmp_log_dir, spark=spark)
    db.append(DOCS)
    db.use("seen", Bloom(1, key_expr="get_json_object(value, '$.author')", expected_items=100))
    assert db.seen.might_have("alice") is True  # builds + persists sketch
    db.close()
    db2 = Flume(tmp_log_dir, spark=spark)
    db2.use("seen", Bloom(1, key_expr="get_json_object(value, '$.author')", expected_items=100))
    # fresh process: bitmap loaded from disk, no recompute scan needed
    assert db2.seen._view._sketch is not None
    assert db2.seen.might_have("bob") is True
    assert db2.seen.might_have("zzznope") is False
    db2.close()


def test_bloom_no_false_negative_after_append_and_restart(spark, tmp_log_dir):
    """Regression: a fold AFTER the sketch was persisted must invalidate
    the committed sketch_valid flag, or a restarted process answers a
    definitive False for keys in the newer file (breaking the bloom
    'False is definitive' contract)."""
    db = Flume(tmp_log_dir, spark=spark)
    db.append(DOCS)
    db.use("seen", Bloom(1, key_expr="get_json_object(value, '$.author')", expected_items=100))
    assert db.seen.might_have("alice") is True  # builds + persists sketch
    # non-empty fold after persistence: must flip committed sketch_valid off
    db.append({"author": "newkey_zed", "tags": [], "text": "", "likes": 0})
    assert db.seen.has("newkey_zed") is True  # drives the fold through the gate
    db.close()
    db2 = Flume(tmp_log_dir, spark=spark)
    db2.use("seen", Bloom(1, key_expr="get_json_object(value, '$.author')", expected_items=100))
    # the stale persisted sketch must NOT be loaded as valid
    assert db2.seen.might_have("newkey_zed") is True
    db2.close()


def test_snapshot_deletion_is_retention_gated(spark, tmp_log_dir):
    """r4 review: compaction must NOT rmtree the runs it replaces — a
    concurrent reader (or a lazy source DataFrame handed to a caller)
    may still scan them. Replaced runs are deletion-deferred and die via
    maintain()'s vacuum once past retention."""
    db = Flume(tmp_log_dir, spark=spark)
    db.use("ht", Hashtable(1, key_expr="get_json_object(value, '$.author')"))
    db.append(DOCS)
    assert db.ht.get("alice") is not None  # fold 1 -> run A
    db.append({"author": "zed", "tags": [], "text": "", "likes": 1})
    assert db.ht.get("zed") is not None  # fold 2 -> run B
    view = db._views["ht"]
    runs = [os.path.join(view._run_dir(), f) for f in view._meta["files"]]
    assert len(runs) == 2
    # grab a lazy frame over runs A and B (the caller-held reader)
    lazy = db.ht.df_snapshot()
    view.compact()  # A and B deferred
    assert view._meta["files"] != [os.path.basename(r) for r in runs]
    assert all(os.path.exists(r) for r in runs), "replaced run deleted immediately"
    assert lazy.count() == 4  # caller's lazy frame still scans fine
    # vacuum with zero retention removes them
    db.maintain(vacuum_after_seconds=0.0)
    assert not any(os.path.exists(r) for r in runs)
    # the garbage queue is durably trimmed
    assert view._meta.get("garbage", []) == []
    assert db.ht.get("zed")["likes"] == 1 and db.ht.get("alice")["likes"] == 7
    db.close()


# ---- the run store shared by the file-backed views ------------------------


def _part_files(view, run):
    d = os.path.join(view._run_dir(), run)
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]


def test_folds_write_one_batch_sized_run(spark, tmp_log_dir):
    """A fold writes O(batch): 100 rows folded into a 100k-key Hashtable
    and GroupedStats add one run of at most 100 footer rows each, and
    leave every earlier run's files as they were."""
    import pyarrow.parquet as pq

    db = Flume(tmp_log_dir, spark=spark)
    db.use("ht", Hashtable(1, key_expr="get_json_object(value, '$.k')", key_type="long"))
    db.use("g", GroupedStats(1, "get_json_object(value, '$.k')", field="v", key_type="long"))
    db.append([{"k": i, "v": i} for i in range(100_000)])
    views = [db._views["ht"], db._views["g"]]
    db.ht.ready()
    db.g.ready()
    before = []
    for v in views:
        files = [f for run in v._meta["files"] for f in _part_files(v, run)]
        before.append((list(v._meta["files"]), {f: os.stat(f).st_mtime_ns for f in files}))
    db.append([{"k": 1000 * i, "v": 1} for i in range(100)])
    assert db.ht.get(5000) == {"k": 5000, "v": 1}
    assert db.g.get(5000)["count"] == 2 and db.g.get(5000)["sum"] == 5001
    for v, (runs, mtimes) in zip(views, before):
        new = [f for f in v._meta["files"] if f not in runs]
        assert v._meta["files"][: len(runs)] == runs and len(new) == 1, v.name
        assert sum(pq.read_metadata(f).num_rows for f in _part_files(v, new[0])) <= 100
        assert v._meta["ranges"][new[0]] == [0, 99_000, 100]
        assert {f: os.stat(f).st_mtime_ns for f in mtimes} == mtimes
    db.close()


def _twice_first_tag(v):
    return v["tags"] + v["tags"][:1]


def test_maintain_compacts_every_run_view(spark, tmp_log_dir):
    """Past 16 runs, maintain() merges each run-store view into one run,
    and no answer changes: Level keeps its multiplicity, keep="first"
    keeps the first writer, the Bloom sketch still covers every key."""
    author = "get_json_object(value, '$.author')"
    db = Flume(tmp_log_dir, spark=spark)
    db.use("idx", Level(1, key_fn=_twice_first_tag))
    db.use("ht", Hashtable(1, key_expr=author))
    db.use("first", Hashtable(1, key_expr=author, keep="first"))
    db.use("g", GroupedStats(1, author, field="likes"))
    db.use("s", Search(1))
    db.use("seen", Bloom(1, key_expr=author, expected_items=100))
    names = ["idx", "ht", "first", "g", "s", "seen"]
    authors = [f"a{i % 6}" for i in range(17)]
    for i, a in enumerate(authors):
        db.append({"author": a, "tags": ["db", f"t{i}"], "text": f"log w{i % 3}", "likes": i})
        for n in names:
            getattr(db, n).ready()

    def answers():
        return (
            [(h["seq"], h["key"]) for h in db.idx.get("db")],
            [(db.ht.get(a), db.first.get(a), db.g.get(a)) for a in sorted(set(authors))],
            [r["seq"] for r in db.s.query(["log", "w1"])],
            [(db.seen.has(a), db.seen.might_have(a)) for a in authors],
            db.ht.keys(),
            db.g.n_groups(),
            db.seen.approx_count(),
        )

    before = answers()
    assert all(len(db._views[n]._meta["files"]) == 17 for n in names)
    assert len(before[0]) == 2 * 17
    assert db.first.get("a1")["likes"] == 1 and db.ht.get("a1")["likes"] == 13
    out = db.maintain()
    assert sorted(out["views"]) == sorted(names)
    assert all(len(db._views[n]._meta["files"]) == 1 for n in names)
    assert answers() == before
    assert db.maintain()["views"] == []  # one run each: nothing due
    # folds keep appending runs after the compaction
    db.append({"author": "a1", "tags": ["db"], "text": "log w1", "likes": 99})
    assert db.ht.get("a1")["likes"] == 99 and db.first.get("a1")["likes"] == 1
    assert db.g.get("a1")["count"] == 4 and len(db.idx.get("db")) == 2 * 18
    assert db.s.query(["log", "w1"])[-1]["seq"] == 17
    db.close()


def test_store_without_ranges_rebuilds_on_attach(spark, tmp_log_dir):
    """A view store whose meta records no key ranges (the snapshot
    layout, or index files without ranges) is destroyed on attach and
    rebuilt from the log."""
    import json

    db = Flume(tmp_log_dir, spark=spark)
    db.append(DOCS)
    layouts = {
        "ht": {"since": 3, "version": 1, "snapshot": "snapshot-000000000003-0badc0de"},
        "idx": {"since": 3, "version": 1, "files": ["000000000003-0badc0de.parquet"]},
    }
    for name, meta in layouts.items():
        path = os.path.join(db.dir, "views", name)
        os.makedirs(path)
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)
        os.makedirs(os.path.join(path, meta.get("snapshot", "idx")))
    db.use("ht", Hashtable(1, key_expr="get_json_object(value, '$.author')"))
    db.use("idx", Level(1, key_fn=lambda v: v["tags"]))
    for name in layouts:
        view = db._views[name]
        assert view.since == -1 and view._meta["ranges"] == {}
        assert sorted(os.listdir(view.path)) == ["runs"]
    assert db.ht.get("alice")["likes"] == 7
    assert [h["seq"] for h in db.idx.get("db")] == [0, 1]
    db.close()


def test_hashtable_first_writer_wins(db):
    # keep='first': min_by(seq) — the incremental exact-dedup keeper
    # (first appearance of a key is kept forever, later copies ignored)
    db.use("first", Hashtable("f1", key_expr="get_json_object(value, '$.author')", keep="first"))
    assert db.first.get("alice")["likes"] == 3  # seq 0, not seq 2
    assert db.first.get("bob")["likes"] == 10
    # later duplicates never displace the original...
    db.append({"author": "alice", "likes": 99})
    assert db.first.get("alice")["likes"] == 3
    # ...and incremental state == a cold rebuild over the same log
    snap = {(r.key, r.seq) for r in db.first.df_snapshot().collect()}
    db.rebuild()
    assert {(r.key, r.seq) for r in db.first.df_snapshot().collect()} == snap
    assert db.first.get("alice")["likes"] == 3


def test_hashtable_keep_validation(db):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep"):
        Hashtable(1, key_expr="value", keep="newest")
