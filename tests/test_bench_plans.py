"""Bench-config plan gates (VERDICT r2 item 2).

Round 2's bench coalesced every cached table to 8 partitions, silently
capping scan/join parallelism at 8 of 32 cores — results stayed correct,
so only a plan assertion can catch that class of regression. These tests
put the session in the bench's serving state (``bench.serve_tables``:
managed ingest layout, narrowed dimensions, cached views) and pin:

- the ingest layout actually multi-splits the fact tables,
- the CACHED scan is at least as wide as the layout (nothing between
  ingest and cache may narrow it — the r2 bug), while the dimensions
  cache narrowed,
- the star joins stay BroadcastHashJoin in the FINAL adaptive plan
  (dimensions must broadcast; a cache-estimate change flipping them to
  sort-merge is a silent 3-6x at sf0.1 and a shuffle disaster at 100 TB).
"""

import os

import pytest

import __spark_entry__ as entry
import bench
from flumedb_spark import catalog
from flumedb_spark.sources.ingest import managed_path

# sf0.01, not the default test sf0.001: big enough that lineitem's
# managed layout has >1 split, so the no-narrowing assertion has teeth
BENCH_SF = "/root/testdata/sf0.01"

JOIN_QUERIES = ["q3_top_revenue_orders", "q5_region_revenue", "q10_returned_items"]

SERVING_CONF = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


@pytest.fixture(scope="module")
def bench_state(spark):
    """The serving state bench.py times at sf<=0.2 (AQE off, width 8);
    the session's conf and views are restored on teardown."""
    prior_conf = {k: spark.conf.get(k) for k in SERVING_CONF}
    prior_dir = catalog._REGISTERED.get(id(spark))
    bench.serve_tables(spark, BENCH_SF, "false", "8")
    yield spark
    for t in catalog.TABLES:
        spark.catalog.uncacheTable(t)
    for k, v in prior_conf.items():
        spark.conf.set(k, v)
    # re-point the views at plain (un-narrowed) reads of the prior dir
    catalog._REGISTERED.pop(id(spark), None)
    if prior_dir is not None:
        catalog.register_tables(spark, prior_dir)


def _lineitem_layout_files() -> int:
    # count on disk: reading the cached view's path resolves to the
    # InMemoryRelation, whose inputFiles() is empty by design
    path = managed_path(BENCH_SF, "lineitem")
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def test_ingest_layout_multi_splits_fact_tables(bench_state):
    spark = bench_state
    from flumedb_spark.sources.ingest import ROWS_PER_SPLIT

    n = spark.read.parquet(managed_path(BENCH_SF, "lineitem")).count()
    expect_min = min(64, max(1, n // ROWS_PER_SPLIT))
    files = _lineitem_layout_files()
    assert files >= expect_min >= 2, (
        f"lineitem layout has {files} files for {n} rows; "
        f"scan parallelism starts at the layout"
    )


def test_cached_scan_not_narrowed(bench_state):
    """The bench serves queries from cached views; the cache must keep
    (at least) the layout's width — r2's coalesce(8) regression made it
    8 < 30 at sf0.1 and cost 3-6x on the join queries."""
    spark = bench_state
    n_files = _lineitem_layout_files()
    cached_parts = spark.table("lineitem").rdd.getNumPartitions()
    assert cached_parts >= n_files, (
        f"cached lineitem narrowed to {cached_parts} partitions "
        f"(layout has {n_files} files)"
    )


def test_dims_cache_narrowed_facts_do_not(bench_state):
    """serve_tables narrows each dimension to ~300k rows per cached
    partition — ONE partition for every dim at sf0.01 — and leaves the
    fact table at least as wide as its layout. The dims' ingest layout is
    one split at this SF already, so the view's coalesce is checked too."""
    spark = bench_state
    for t in bench.DIM_TABLES:
        assert spark.catalog.isCached(t), f"{t} not cached"
        parts = spark.table(t).rdd.getNumPartitions()
        assert parts == 1, f"cached {t} has {parts} partitions, want 1"
        plan = spark.table(t)._jdf.queryExecution().analyzed().toString()
        assert "Repartition 1, false" in plan, f"{t} view is not coalesced:\n{plan}"
    assert spark.catalog.isCached("lineitem")
    assert spark.table("lineitem").rdd.getNumPartitions() >= _lineitem_layout_files()


@pytest.fixture(params=["true", "false"], ids=["aqe_on", "aqe_off"])
def aqe_setting(bench_state, request):
    """The bench serves sf<=0.2 sweeps with AQE off (the per-stage
    barrier is pure latency there) and the sf1 section with AQE on —
    the join-shape gates must hold under BOTH settings."""
    spark = bench_state
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", request.param)
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prior)


@pytest.mark.parametrize("name", JOIN_QUERIES)
def test_star_joins_broadcast_in_final_plan(aqe_setting, name):
    spark = aqe_setting
    qs = entry.queries()
    df = qs[name](spark, BENCH_SF)
    df.count()  # materialize so AQE's FINAL plan is available
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in final plan"
    assert "SortMergeJoin" not in plan, (
        f"{name}: a dimension join fell back to sort-merge — "
        "check cached-relation size estimates vs autoBroadcastJoinThreshold"
    )


TPCH_QUERIES = [
    "q2_min_cost_supplier", "q4_order_priority", "q7_nation_volume",
    "q8_market_share", "q9_product_profit", "q11_important_parts",
    "q12_priority_classes", "q13_customer_distribution",
    "q15_top_supplier", "q16_part_supplier_counts",
    "q17_small_quantity_revenue", "q20_part_promotion",
    "q21_waiting_suppliers", "q22_global_sales_opportunity",
]


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_tpch_sweep_no_cartesian_and_dims_broadcast(aqe_setting, name):
    """The round-3 TPC-H sweep: every final adaptive plan must be free
    of cartesian products (the EXISTS/NOT EXISTS and correlated
    subqueries must decorrelate to joins), and the queries that touch a
    dimension table must broadcast at least one join side. Fact-fact
    self-joins (q17/q21) may legitimately shuffle — only the cartesian
    and no-broadcast-at-all outcomes are regressions."""
    spark = aqe_setting
    qs = entry.queries()
    df = qs[name](spark, BENCH_SF)
    df.count()  # materialize so AQE's FINAL plan is available
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name}: nested-loop join — a subquery failed to decorrelate "
        "to an equi-join"
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
        f"{name}: nothing broadcasts — dimension joins should"
    )
