"""End-to-end parity: the ENGINE's materialized views, fed through the
real append path, produce exactly what the relational oracle queries
declare (SURVEY §2.B "oracle query" column) — the same events rows give
the same answers whether served by the incremental view or by a direct
Catalyst plan."""

import pytest
from pyspark.sql import functions as F

from flumedb_spark import Flume, NativeStats
from flumedb_spark.views.bloom import Bloom
from flumedb_spark.views.hashtable import Hashtable
from flumedb_spark.views.level import Level

N_EVENTS = 500


@pytest.fixture(scope="module")
def events_rows(spark, sf_dir):
    from flumedb_spark.catalog import register_tables

    register_tables(spark, sf_dir)  # handles the TIMESTAMP(NANOS) source
    df = spark.table("events")
    return (
        df.where(F.col("event_id") < N_EVENTS)
        .orderBy("event_id")
        .select("event_id", "user_id", "event_type", "value")
        .collect()
    )


def _fed_db(spark, events_rows, path, compact_mid_feed=False):
    """The views fed through the real append path in uneven batches (log
    seq == event_id because events are dense from 0). With
    ``compact_mid_feed`` the run-store views also fold every few
    appends and merge their runs once, halfway through the feed."""
    d = Flume(path, spark=spark)
    d.use("by_user", Level(1, key_expr="array(get_json_object(value, '$.user_id'))", key_type="long"))
    d.use("latest", Hashtable(1, key_expr="get_json_object(value, '$.user_id')", key_type="long"))
    d.use("stats", NativeStats(1, field="value"))
    d.use("seen", Bloom(1, key_expr="get_json_object(value, '$.user_id')", expected_items=500))
    run_views = ("by_user", "latest", "seen")
    batch, size = [], 7
    for r in events_rows:
        batch.append(
            {"event_id": r.event_id, "user_id": r.user_id, "event_type": r.event_type, "value": r.value}
        )
        if len(batch) == size:
            d.append(batch)
            batch, size = [], (size % 13) + 3
            if compact_mid_feed and d.log.since % 4 == 0:
                for name in run_views:
                    getattr(d, name).ready()
            if compact_mid_feed and d.log.since >= N_EVENTS // 2:
                for name in run_views:
                    assert len(d._views[name]._meta["files"]) > 1
                    d._views[name].compact()
                compact_mid_feed = False
    if batch:
        d.append(batch)
    return d


@pytest.fixture(scope="module")
def db(spark, events_rows, tmp_path_factory):
    d = _fed_db(spark, events_rows, str(tmp_path_factory.mktemp("parity") / "db"))
    yield d
    d.close()


def test_level_index_matches_oracle(db, events_rows):
    # V2 oracle: SELECT ... FROM events WHERE user_id = k ORDER BY event_id
    for k in (0, 7, 11):
        expect = [r.event_id for r in events_rows if r.user_id == k]
        got = [h["seq"] for h in db.by_user.get(k)]
        assert got == expect


def test_level_range_matches_oracle(db, events_rows):
    rows = db.by_user.read(gte=3, lt=6, values=False).collect()
    expect = sorted(
        [(r.user_id, r.event_id) for r in events_rows if 3 <= r.user_id < 6]
    )
    assert [(r.key, r.seq) for r in rows] == expect


def test_hashtable_matches_argmax_oracle(db, events_rows):
    # V5 oracle: arg_max(value, event_id) per user
    last = {}
    for r in events_rows:
        last[r.user_id] = r
    for k, exp in sorted(last.items())[:5]:
        got = db.latest.get(k)
        assert got["event_id"] == exp.event_id
        assert got["value"] == pytest.approx(exp.value)


def test_stats_matches_aggregate_oracle(db, events_rows):
    # V1 oracle: count/sum/mean over value
    s = db.stats.get()
    vals = [r.value for r in events_rows]
    assert s["count"] == len(vals)
    assert s["sum"] == pytest.approx(sum(vals))
    assert s["mean"] == pytest.approx(sum(vals) / len(vals))


def test_bloom_matches_membership_oracle(db, events_rows):
    # V6 oracle: SELECT DISTINCT user_id
    members = {r.user_id for r in events_rows}
    for k in list(sorted(members))[:5]:
        assert db.seen.has(k) and db.seen.might_have(k)
    absent = max(members) + 1000
    assert not db.seen.has(absent)


def test_oracles_hold_after_a_mid_feed_compaction(spark, events_rows, tmp_path):
    # the same oracle checks, on one more input: the run-store views
    # compacted halfway through the feed, then folded on top
    d = _fed_db(spark, events_rows, str(tmp_path / "db"), compact_mid_feed=True)
    for check in (
        test_level_index_matches_oracle,
        test_level_range_matches_oracle,
        test_hashtable_matches_argmax_oracle,
        test_stats_matches_aggregate_oracle,
        test_bloom_matches_membership_oracle,
    ):
        check(d, events_rows)
    assert all(len(d._views[n]._meta["files"]) >= 2 for n in ("by_user", "latest", "seen"))
    d.close()


# ---- empty-log edges -----------------------------------------------------


def test_views_on_empty_log(spark, tmp_log_dir):
    d = Flume(tmp_log_dir, spark=spark)
    d.use("idx", Level(1, key_fn=lambda v: [v.get("k")]))
    d.use("ht", Hashtable(1, key_fn=lambda v: v.get("k")))
    d.use("st", NativeStats(1, field="v"))
    d.use("bl", Bloom(1, key_expr="get_json_object(value, '$.k')"))
    assert d.idx.get("x") == []
    assert d.ht.get("x") is None
    assert d.st.get() is None
    assert d.bl.has("x") is False and d.bl.might_have("x") is False
    assert d.stream() == []
    assert d.stream(reverse=True, limit=5) == []
    d.close()
