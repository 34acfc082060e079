"""`catalog`: the query path, construct -> plan -> execute.

Set-up generates the tables from the seed, registers them in the
catalog's managed layout, narrows and caches the dimensions, then runs
one pass that checks every row
against its DuckDB oracle (``tools/check_correctness.check_one``) and
also warms the JVM. The timed phase runs whole passes over the list;
each query is constructed and forced with ``count()``.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import layers
from common import Outcome, dir_bytes, median

# Copied from bench.HEADLINE, plus the two ANN rows outside it, so later
# edits to bench.py do not change this workload.
QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "topk_orders",
    "window_top3_per_customer",
    "o4_stream_range",
    "v1_reduce_stats",
    "v2_index_point_get",
    "v5_hashtable_latest",
    "v4_search_single_term",
    "q10_returned_items",
    "q14_promo_revenue",
    "percentiles_exact",
    "tumbling_hour_counts",
    "sliding_window_counts",
    "sessionize_30min",
    "asof_purchase_prev_click",
    "ns_dedup_exact",
    "ns_minhash_lsh_candidates",
    "ns_ivf_ann_topk_seeded",
    "ns_lsh_ann_topk_md5",
    "ns_text_stats",
    "ns_lang_id",
    "ns_simhash_md5",
    "ns_pq_ann_topk_seeded",
    "ns_semantic_dedup",
]
#: timed passes per ``--seconds`` second; one pass takes about 7.5 s here
PASSES_PER_SECOND = 0.1

# Copied from bench.py with the query list, for the same reason.
DIM_TABLES = ["region", "nation", "customer", "supplier", "part"]


def _narrow_dims(spark, rows_per_partition: int = 300_000) -> None:
    """Re-register the dimension tables coalesced to about
    ``rows_per_partition`` rows per partition before they are cached:
    at small sizes their scans are otherwise many near-empty tasks per
    star join."""
    for t in DIM_TABLES:
        df = spark.table(t)
        w = max(1, df.count() // rows_per_partition)
        df.coalesce(w).createOrReplaceTempView(t)


def catalog(run) -> Outcome:
    import datagen

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from check_correctness import check_one, duck_connect

    import __spark_entry__ as entry
    from flumedb_spark.catalog import TABLES
    from flumedb_spark.sources.ingest import ensure_ingested

    out = Outcome()
    spark = run.spark
    tr = run.tracer
    t0 = time.perf_counter()
    sf_dir = os.path.join(run.run_dir, "data", "sfbench")
    input_bytes = datagen.write(sf_dir, run.seed)
    qs, oracles = entry.queries(), entry.oracle_sql()
    t_gen = time.perf_counter()
    # no AQE barrier, and a fixed eight post-shuffle partitions
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # load the tables into the managed layout concurrently, as the
    # checked pass below runs; registration then finds them loaded
    threads = len(os.sched_getaffinity(0))
    with ThreadPoolExecutor(max_workers=threads) as pool:
        list(pool.map(lambda t: ensure_ingested(spark, sf_dir, t), TABLES))
    qs["o7_since"](spark, sf_dir).collect()  # registers every table
    _narrow_dims(spark)
    for t in TABLES:
        spark.catalog.cacheTable(t)
        spark.table(t).count()
    t_reg = time.perf_counter()
    # the checked pass runs the queries concurrently: it warms the JVM
    # for the sequential timed pass in about half the time
    con = duck_connect(sf_dir)

    def check(name: str) -> str | None:
        cur = con.cursor()  # a DuckDB connection is not shared across threads
        try:
            return check_one(spark, cur, name, qs[name], oracles, sf_dir)
        finally:
            cur.close()

    try:
        with ThreadPoolExecutor(max_workers=threads) as pool:
            for name, err in zip(QUERIES, pool.map(check, QUERIES)):
                out.check(err is None, f"{name}: {err}")
    finally:
        con.close()
    setup_s = run.session_start_s + time.perf_counter() - t0

    passes = []
    for _ in range(max(1, round(run.seconds * PASSES_PER_SECOND))):
        per: dict[str, tuple[float, float]] = {}
        for name in QUERIES:
            with tr.op("query", query=name):
                t = time.perf_counter()
                with tr.span("catalog.construct"):
                    df = qs[name](spark, sf_dir)
                c = time.perf_counter()
                with tr.span("catalog.execute"):
                    df.count()
                e = time.perf_counter()
            per[name] = (c - t, e - c)
        passes.append(per)

    walls = [sum(a + b for a, b in p.values()) for p in passes]
    ann = [sum(sum(p[q]) for q in layers.ANN_ROWS) for p in passes]
    amplification = dir_bytes(os.path.join(run.run_dir, "warehouse")) / input_bytes
    out.end_to_end = layers.table({
        "setup_s": setup_s,
        "run_s": median(walls),
        "bytes_per_user_byte": amplification,
    }, layers.END_TO_END)
    out.name("setup_s", setup_s, "s", session_s=run.session_start_s,
             data_s=t_gen - t0, register_s=t_reg - t_gen,
             check_pass_s=setup_s - run.session_start_s - (t_reg - t0))
    out.name("error_rate", len(out.failures) / out.attempted, "ratio")
    out.name("query_pass_s", median(walls), "s", passes=len(walls))
    out.name("query_p50_ms", 1e3 * median([a + b for p in passes for a, b in p.values()]), "ms")
    out.name("ann_pass_s", median(ann), "s", share=median(ann) / median(walls))
    if tr.enabled:
        out.per_layer = layers.table(_layer_values(run, passes, median(walls)), layers.PER_LAYER)
    return out


def _layer_values(run, passes, run_s) -> dict[str, float]:
    tr = run.tracer
    n = len(QUERIES)
    jobs = tr.op_counts("query", "jobs")
    tasks = tr.op_counts("query", "tasks")
    v = {
        "session.start_s": run.session_start_s,
        "catalog.construct_s": median([sum(a for a, _ in p.values()) for p in passes]),
        "catalog.execute_s": median([sum(b for _, b in p.values()) for p in passes]),
        "spark.jobs_per_pass": sum(jobs) / len(jobs) * n,
        "spark.tasks_per_pass": sum(tasks) / len(tasks) * n,
        "trace.run_s": run_s,
    }
    for q in layers.ANN_ROWS:
        v[f"catalog.construct_s.{q}"] = median([p[q][0] for p in passes])
        v[f"catalog.execute_s.{q}"] = median([p[q][1] for p in passes])
    return v
