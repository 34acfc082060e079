"""Physical-plan invariants — the scale posture, asserted.

These tests pin the properties that make the engine survive 100x data:
filters reach the parquet scan, star joins broadcast their small sides,
relational hot paths never drop into Python, and seq-range scans prune.
A regression here is a performance bug even when results stay correct.
"""

import contextlib
import io
import os
import re

import pytest

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = entry.queries()

    def plan_of(name: str) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, sf_dir).explain("formatted")
        return buf.getvalue()

    return plan_of


def test_range_scan_pushdown(plans):
    # O4's gt/lte predicates must reach the parquet reader (SURVEY §4:
    # the reference's only pushdown; ours is Catalyst's for free)
    p = plans("o4_stream_range")
    assert "GreaterThan(event_id,100)" in p
    assert "LessThanOrEqual(event_id,800)" in p


def test_point_lookup_pushdown(plans):
    p = plans("o3_get_point")
    assert "EqualTo(event_id,424)" in p


def test_star_joins_broadcast(plans):
    # dimension sides of the star joins must broadcast, not shuffle
    for q in ("q3_top_revenue_orders", "q5_region_revenue", "q18_large_volume_customers"):
        p = plans(q)
        assert "BroadcastHashJoin" in p, f"{q} lost its broadcast join"


def test_no_python_in_relational_paths(plans):
    # every relational/catalog query must stay JVM-side (no row-at-a-time
    # Python UDF stages); only the multimodal decode is allowed Python
    for q in (
        "q1_pricing_summary",
        "v1_reduce_stats",
        "v5_hashtable_latest",
        "ns_dedup_exact",
        "ns_minhash_lsh_candidates",
        "ns_similarity_topk",
        "ns_text_stats",
        "ns_lang_id",
    ):
        p = plans(q)
        assert "BatchEvalPython" not in p, f"{q} fell into a Python UDF"
        assert "ArrowEvalPython" not in p, f"{q} fell into a Pandas UDF"


def test_projection_prunes_columns(plans):
    # seq-only stream reads one column (O5 projection == column pruning)
    p = plans("o5_stream_seqs_only")
    assert "ReadSchema: struct<event_id:bigint>" in p


def test_mapside_partial_aggregation(spark, sf_dir):
    # the grouped aggregate must partial-combine BEFORE the shuffle —
    # at 100 TB this is the difference between shuffling 600B rows and
    # shuffling |groups| x |partitions| partials. (AQE's pre-execution
    # explain hides codegen '*(n)' markers, so we pin this instead.)
    qs = entry.queries()
    df = qs["q1_pricing_summary"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(extended=False)
    p = buf.getvalue()
    assert "partial_sum" in p
    assert p.index("partial_sum") > p.index("Exchange hashpartitioning")


def test_plans_inspect_api(spark, sf_dir):
    # the plans/ module exposes the same invariants programmatically
    from flumedb_spark.plans import (
        has_broadcast_join,
        is_python_free,
        pushed_filters,
    )

    qs = entry.queries()
    df = qs["o4_stream_range"](spark, sf_dir)
    pf = pushed_filters(df)
    assert any("GreaterThan(event_id,100)" in p for p in pf)
    assert is_python_free(df)
    assert has_broadcast_join(qs["q3_top_revenue_orders"](spark, sf_dir))
    assert not is_python_free(qs["ns_multimodal_meta"](spark, sf_dir))  # the one sanctioned Python stage


def test_level_point_get_broadcasts_index(spark, tmp_path):
    # a Level point lookup filters the index to a handful of seqs, then
    # joins back to the FULL log — the index side must broadcast
    # explicitly (like Search's join-back), not rely on AQE runtime
    # conversion: at 100 TB with misleading pre-filter stats, a
    # sort-merge shuffle of the log for a point get is the failure mode
    # (reference contract test/rebuild.js:38,48 — O(lookup), not
    # O(log-scan-shuffle)). r4 VERDICT #2.
    from flumedb_spark import Flume
    from flumedb_spark.plans import has_broadcast_join
    from flumedb_spark.views.level import Level

    db = Flume(str(tmp_path / "lvl"), spark=spark)
    db.use("by_tag", Level(1, key_fn=lambda v: v["tags"]))
    db.append([{"tags": [f"t{i % 5}"], "n": i} for i in range(20)])
    assert db.by_tag.get("t3")  # correctness: the lookup still works
    view = db._views["by_tag"]
    import pyspark.sql.functions as F

    idx = view.df().where(F.col("key") == F.lit("t3"))
    joined = view._join_back(idx)
    assert has_broadcast_join(joined), "Level join-back lost its explicit broadcast"
    db.close()


def test_view_folds_plan_no_range_partitioning(spark, tmp_path):
    # a Spark fold sorts its run with sortWithinPartitions: an orderBy
    # would plan a RangePartitioning exchange, whose sampling job every
    # large fold would then pay. The batch is above the engine's driver
    # fold bound, so the folds take their Spark plans.
    from flumedb_spark import Flume
    from flumedb_spark.engine import DRIVER_FOLD_ROWS
    from flumedb_spark.views.hashtable import Hashtable
    from flumedb_spark.views.level import Level

    db = Flume(str(tmp_path / "folds"), spark=spark)
    db.use("idx", Level(1, key_expr="array(get_json_object(value, '$.k'))", key_type="long"))
    db.use("ht", Hashtable(1, key_expr="get_json_object(value, '$.k')", key_type="long"))
    plans = {}
    for name in ("idx", "ht"):
        view = db._views[name]

        def spy(df, prefix, _write=view._write_run, _name=name):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            plans[_name] = buf.getvalue()
            return _write(df, prefix)

        view._write_run = spy
    db.append([{"k": i % 7} for i in range(DRIVER_FOLD_ROWS + 1)])
    assert db.idx.get(3) and db.ht.get(3) == {"k": 3}
    assert set(plans) == {"idx", "ht"}
    for name, plan in plans.items():
        assert "RangePartitioning" not in plan, name
    db.close()


def test_scoring_family_plan_shapes(plans):
    # late-r6 scoring family (SCALING posture):
    # - gopher_quality is a pure narrow projection: no join, no
    #   aggregate, no Python; the only exchange is the oracle's orderBy
    p = plans("ns_gopher_quality")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p
    assert "HashAggregate" not in p
    # formatted plans name each node twice (tree + details) — count
    # tree nodes only
    assert p.count("- Exchange") <= 1, "gopher gained a shuffle beyond the sort"
    # - the LM scorer's vocab-sized term table must broadcast back to
    #   the (doc, word) stream, never shuffle the token stream twice
    p = plans("ns_lm_perplexity")
    assert "BroadcastHashJoin" in p, "LM term-table join lost its broadcast"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # - source mixture: map-side partial aggregation before its single
    #   data-sized shuffle
    p = plans("ns_source_mixture")
    assert "partial_count" in p or "partial_sum" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_kmv_and_pq_stay_jvm_side(plans):
    for q in (
        "ns_kmv_set_ops",
        "ns_pq_ann_topk_seeded",
        "ns_pq_ann_recall10",
        "ns_lsh_ann_topk_md5",
        "ns_ivf_ann_topk_seeded",
        "ns_semantic_dedup",
    ):
        p = plans(q)
        assert "BatchEvalPython" not in p, f"{q} fell into a Python UDF"
        assert "ArrowEvalPython" not in p, f"{q} fell into a Pandas UDF"
    # the IVF probe and the PQ query table are bounded by construction
    # and broadcast by hint: a SortMergeJoin would shuffle the
    # data-sized assignment or code table
    for q in ("ns_ivf_ann_topk_seeded", "ns_pq_ann_topk_seeded"):
        assert "SortMergeJoin" not in plans(q), q


def test_library_ann_stays_jvm_side(spark, sf_dir, monkeypatch):
    """``lsh_ann_topk`` and ``ivf_ann_topk`` run on the same array-
    expression core as the catalog's ANN rows: neither the final plan
    nor the plan of any table they materialize on the way holds a
    Python stage."""
    from flumedb_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seen = []
    checkpoint = type(emb).localCheckpoint

    def spy(self, *args, **kwargs):
        seen.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(emb), "localCheckpoint", spy)
    for df in (
        similarity.lsh_ann_topk(emb, query_ids=[0, 1], k=5),
        similarity.ivf_ann_topk(emb, query_ids=[0, 1], k=5, n_centroids=4, n_probe=2),
    ):
        seen.append(df._jdf.queryExecution().executedPlan().toString())
    for p in seen:
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in p, node
    assert len(seen) >= 4  # the spy saw the materialized tables too


def _lsh_bucket_join(df):
    """The ``BroadcastHashJoin`` on ``(tbl, bucket)`` in ``df``'s physical
    plan (AQE's input plan, before any stage runs)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        if node.nodeName() == "BroadcastHashJoin" and "tbl" in node.leftKeys().toString():
            return node
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    raise AssertionError("no (tbl, bucket) broadcast join")


def test_lsh_broadcasts_the_bounded_query_side(spark, sf_dir):
    """A bounded LSH query side is broadcast by hint and the bucket table
    streams, whatever the size statistics say: the catalog row's
    ``vec_id < 5`` frame and ``lsh_ann_topk(query_ids=...)``'s."""
    from flumedb_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for df, query_filter in (
        (entry.queries()["ns_lsh_ann_topk_md5"](spark, sf_dir), "< 5)"),
        (similarity.lsh_ann_topk(emb, query_ids=[0, 1], k=5), "IN (0,1)"),
    ):
        join = _lsh_bucket_join(df)
        assert query_filter in join.buildPlan().toString()
        assert query_filter not in join.streamedPlan().toString()


def test_retrieval_selection_family_plan_shapes(plans):
    """Late-r6 family #2: BM25's top-k must be TakeOrderedAndProject
    (distributed partial top-k, never a single-partition global sort),
    and all three relational members must stay JVM-side with
    broadcast-only joins (the LM/bit/IDF tables are sketch-sized by
    construction — a SortMergeJoin would mean a data-sized shuffle of
    the corpus against them)."""
    for name in ("ns_bm25_topk", "ns_dsir_weights", "ns_bloom_cross_dedup"):
        p = plans(name)
        assert "Python" not in p, name
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
    # r7 (VERDICT r6 #2): DSIR's corpus-global quartile must never be a
    # single-partition ntile window — the fix replaces it with the
    # distributed rank path (range repartition + pid-partitioned
    # row_number + broadcast offsets), so `ntile` must be absent from
    # the plan and the remaining window must be pid-partitioned.
    p = plans("ns_dsir_weights")
    assert "ntile" not in p, "DSIR regressed to a global ntile window"
    assert "row_number" in p and "_pid" in p
    p = plans("ns_bm25_topk")
    assert "TakeOrderedAndProject" in p
    # zero data-sized shuffles: per-term tf is a JVM array expression,
    # the only joins are one-row broadcast stat rows
    assert "BroadcastHashJoin" not in p and "HashAggregate" in p
    # bloom: one broadcast probe per hash slice + the exact semi-join
    assert plans("ns_bloom_cross_dedup").count("BroadcastHashJoin") >= 4


def test_new_analytics_family_plans_are_keyed_joins(plans):
    """The late-r6 analytics family must plan as keyed equi-joins with
    partial aggregation — never a cartesian product, never Python in
    the path (all four are pure built-in expressions)."""
    for q in ("scd2_point_in_time", "ns_triangle_count", "ts_mad_outliers",
              "ns_quantile_clip"):
        p = plans(q)
        assert "CartesianProduct" not in p, f"{q} degenerated to cartesian"
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            f"{q} dropped into Python"
        )


def test_pagerank_iteration_has_partial_aggregation(spark, sf_dir):
    """The inflow sum inside a PageRank iteration must be map-side
    combinable (two HashAggregate levels around its shuffle) — the
    property that makes power-law in-degree hubs scale without salting."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from flumedb_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(i, (i * 3) % 40) for i in range(200)], "src long, dst long"
    )
    nd = spark.createDataFrame([(i,) for i in range(200)], "node_id long")
    out = pagerank(e, nd, iterations=1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    # partial + final aggregate pair for the inflow sum
    assert p.count("HashAggregate") >= 2, p


def test_r7_family_plan_shapes(plans):
    """r7 additions keep the scale posture: the curriculum's
    corpus-global decile must use the distributed rank path (no ntile
    anywhere in the plan — same gate as DSIR's quartile); personalized
    PageRank keeps the partial-agg + no-cartesian contract of the
    global operator; the HTML rows are single Arrow-kernel stages
    whose only Python is the kernel itself."""
    p = plans("ns_curriculum_deciles")
    assert "ntile" not in p, "curriculum regressed to a global ntile window"
    assert "row_number" in p and "_pid" in p
    p = plans("ns_ppr_topk")
    assert "CartesianProduct" not in p
    assert "Python" not in p  # exact-integer arithmetic stays JVM-side
    for q in ("ns_html_text", "ns_html_links"):
        p = plans(q)
        assert p.count("MapInPandas (") == 1, f"{q} gained a Python stage"
        assert "CartesianProduct" not in p


def test_r8_family_plan_shapes(plans):
    """r8 additions keep the scale posture: the quality-classifier rows
    (train + inference) must be pure JVM plans — no Python anywhere
    (the LR trainer's weight/bias tables are built JVM-side, not
    createDataFrame literals), no window of any kind, and the ONLY
    SortMergeJoin is the final corpus-vs-scores doc_id join (two
    data-sized sides — SMJ is the correct plan there); every weight/
    bias/label join broadcasts, and the weight merges are union+groupBy
    (full outer cannot broadcast). URL rows gated in tests/
    test_urls.py."""
    for q in ("ns_quality_classifier", "ns_quality_clf_lr"):
        p = plans(q)
        assert "Python" not in p, f"{q} dropped into Python"
        assert "Window" not in p, f"{q} gained a window"
        # formatted explain lists each operator twice (tree + detail);
        # count the detail line
        assert p.count(") SortMergeJoin") <= 1, (
            f"{q}: a weight/label join stopped broadcasting"
        )
        assert "BroadcastHashJoin" in p, q


def test_r8_extension_plan_shapes(plans):
    """The r8-extension rows keep the scale posture.

    - ns_line_dedup: pure JVM (one explode, one md5-keyed frequency
      aggregate, one per-doc sorted-collect) — no Python, no Window;
      the seg-hash join is two data-sized sides, so ONE SortMergeJoin
      is the correct plan and exactly one is allowed.
    - ns_blocklist_filter: a per-row expression — no Python, no
      Window, no join, no Exchange at all (scan-speed at 100 TB).
    - ns_mixture_capped: windows are allowed ONLY on the source-
      cardinality frame (metadata-sized, documented); no Python, and
      nothing data-sized joins.
    """
    p = plans("ns_line_dedup")
    assert "Python" not in p, "line_dedup dropped into Python"
    assert "Window" not in p, "line_dedup gained a window"
    assert p.count(") SortMergeJoin") <= 1, "line_dedup: extra join"
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p

    p = plans("ns_blocklist_filter")
    assert "Python" not in p, "blocklist dropped into Python"
    assert "Window" not in p
    assert "Join" not in p, "blocklist must not join (broadcast-literal list)"
    assert "hashpartitioning" not in p, (
        "blocklist must not shuffle (the orderBy's rangepartitioning "
        "exchange is the only one allowed)"
    )

    p = plans("ns_mixture_capped")
    assert "Python" not in p, "mixture planner dropped into Python"
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_r8_extension_graph_decon_plan_shapes(plans):
    """Late-r8 extension rows #2.

    - ns_label_prop: pure JVM; every window partitions by node or
      community (degree-/cluster-sized frames — assert no
      unpartitioned window spec); no cartesian. The per-round lineage
      is cut by localCheckpoint, so the plan shows the final round.
    - ns_minhash_decontamination: the eval side must BROADCAST into
      both the band probe and the verify join (>=2 BroadcastHashJoin);
      train-sized joins (candidates x train signatures, final left
      join onto the train corpus) may SMJ; no Python, no cartesian.
    """
    p = plans("ns_label_prop")
    assert "Python" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # windowspecdefinition renders PARTITION columns first (bare
    # attribute refs), then ORDER columns (each tagged ASC/DESC), then
    # specifiedwindowframe(...). The r8 guard only checked that the
    # first comma token was non-empty — vacuously true for an
    # unpartitioned-but-ordered window, whose first token is the order
    # expression (r8 ADVICE). Real check: the first argument must be a
    # bare partition column — not a sort-tagged expression and not the
    # frame itself.
    import re

    specs = re.findall(r"windowspecdefinition\(([^(]*)", p)
    assert specs, "ns_label_prop plan lost its Window nodes"
    for spec in specs:
        first = spec.split(",")[0].strip()
        assert first and first != "specifiedwindowframe", (
            "unpartitioned window in ns_label_prop"
        )
        assert " ASC" not in f" {first}" and " DESC" not in f" {first}", (
            f"window partitions by nothing (first spec arg is a sort "
            f"expression: {first!r})"
        )

    p = plans("ns_minhash_decontamination")
    assert "Python" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert p.count(") BroadcastHashJoin") >= 2, (
        "eval side stopped broadcasting"
    )
    assert p.count(") SortMergeJoin") <= 2, "extra data-sized join"


def test_anchor_index_plan_shape(plans):
    """ns_anchor_text_index chains the html.parser kernel, which runs
    exactly once at the link-table materialization (anchor_text_index
    localCheckpoints its canonicalized input — the minhash band-table
    lesson; an un-materialized input re-ran the kernel once per
    aggregation branch, 3 MapInPandas stages). The explained plan
    therefore shows ZERO Python (the three aggregates fan out from the
    checkpointed scan) and no cartesian."""
    p = plans("ns_anchor_text_index")
    assert "MapInPandas" not in p and "Python" not in p, (
        "anchor index re-runs the parser kernel per branch"
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_preference_family_plan_shape(plans):
    # r10 third batch: the preference/SFT rows must stay JVM-side and
    # never degrade to a cartesian — the pair mining is an equi-join
    # on the prompt key with the margin as a residual filter, and the
    # aggregation rows are plain map-side-combinable groupBys
    for q in (
        "ns_preference_pairs",
        "ns_winrate_matrix",
        "ns_bt_scores",
        "ns_fleiss_kappa",
        "ns_length_bias",
        "ns_best_of_n",
        "ns_group_advantage",
        "ns_sft_packing",
        "ns_token_fertility",
    ):
        p = plans(q)
        assert "BatchEvalPython" not in p, f"{q} fell into a Python UDF"
        assert "ArrowEvalPython" not in p, f"{q} fell into a Pandas UDF"
        assert "CartesianProduct" not in p, f"{q} degraded to a cartesian"
        if q != "ns_fleiss_kappa":
            # fleiss joins two ONE-ROW aggregate frames via the
            # broadcast scalar-cross idiom (the audited crossJoin
            # class) — a BroadcastNestedLoopJoin over 1x1 rows is the
            # right plan there, not a scale risk
            assert (
                "BroadcastNestedLoopJoin" not in p
            ), f"{q} lost its equi-join"


def test_best_of_n_window_is_prompt_partitioned(spark, sf_dir):
    # the BoN window must hash-partition by the prompt key — an
    # unpartitioned window would serialize the corpus through one task
    qs = entry.queries()
    df = qs["ns_best_of_n"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowExec" not in plan or "hashpartitioning(prompt_id" in plan
    assert "SinglePartition" not in plan, plan


def test_unordered_log_scan_has_no_sort(spark, tmp_path):
    # view folds and point gets take the range as a set: the unordered
    # scan must plan neither the global sort nor its range-partition
    # exchange; the default (public stream_df) keeps both
    from flumedb_spark import Flume
    from flumedb_spark.plans import formatted_plan

    db = Flume(str(tmp_path / "log"), spark=spark)
    for c in range(3):
        db.append([{"n": 10 * c + i} for i in range(10)])
    log = db.log
    p = formatted_plan(log.stream_df(spark, gt=4, lte=25, ordered=False))
    assert not re.search(r"\bSort\b", p), p
    assert "rangepartitioning" not in p, p
    assert "GreaterThan(seq,4)" in p and "LessThanOrEqual(seq,25)" in p
    p = formatted_plan(log.stream_df(spark, gt=4, lte=25))
    assert re.search(r"\bSort\b", p) and "rangepartitioning" in p, p
    with pytest.raises(ValueError):
        log.stream_df(spark, limit=3, ordered=False)
    db.close()


def test_range_scan_plans_only_the_overlapping_files(spark, tmp_path):
    # each commit records its file's seq range in the manifest: a range
    # scan hands Spark only the files overlapping (gt, lte], not every
    # committed file, and a scan without bounds still reads them all
    from flumedb_spark import Flume

    db = Flume(str(tmp_path / "log"), spark=spark)
    for c in range(5):
        db.append([{"n": 10 * c + i} for i in range(10)])
    files = db.log._load_meta()["files"]

    def planned(**bounds):
        df = db.log.stream_df(spark, ordered=False, **bounds)
        return sorted(os.path.basename(f) for f in df.inputFiles())

    assert planned(gt=14, lte=25) == sorted(files[1:3])
    assert planned(gt=19, lte=29) == [files[2]]
    assert planned(gte=20, lt=30) == [files[2]]
    assert planned(gt=9, lte=10) == [files[1]]
    assert planned(gt=49) == []  # nothing past the head
    assert planned() == sorted(files)
    assert db.log.stream_df(spark, gt=14, lte=25, ordered=False).count() == 11
    db.close()


def test_hashtable_fold_merges_in_one_exchange(spark, tmp_path):
    # the fold aggregates the keyed batch ONCE into its run: one hash
    # exchange on key, and the key sort adds no range exchange
    from flumedb_spark import Flume
    from flumedb_spark.plans import formatted_plan
    from flumedb_spark.views.hashtable import Hashtable

    db = Flume(str(tmp_path / "log"), spark=spark)
    db.use("latest", Hashtable(1, key_expr="get_json_object(value, '$.k')", key_type="long"))
    db.append([{"k": i % 4, "n": i} for i in range(12)])
    assert db.latest.get(3)["n"] == 11  # the first run exists now
    db.append([{"k": i % 4, "n": 12 + i} for i in range(6)])
    view = db._views["latest"]
    batch = db.log.stream_df(spark, gt=view.since, lte=db.since, ordered=False)
    merged = view._merge(view._batch_keys(batch)).sortWithinPartitions("key")
    # each Exchange node prints its partitioning as "Arguments: <kind>(..."
    exchanges = re.findall(r"Arguments: (\w+)\(", formatted_plan(merged))
    assert exchanges == ["hashpartitioning"], exchanges
    assert {r.key: r.seq for r in merged.collect()} == {0: 16, 1: 17, 2: 14, 3: 15}
    db.close()
