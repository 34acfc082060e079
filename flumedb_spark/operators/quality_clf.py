"""Supervised quality-classifier scoring (VERDICT-r7 #1) — the
"looks-like-target" document filter gate every production CC pipeline
runs next to the rule-based Gopher filters (``operators/text.py``) and
DSIR importance weights (``operators/selection.py``): train a LINEAR
classifier on labeled positive/negative document slices, then score the
whole corpus and keep docs the classifier calls target-like (GPT-3's
WebText classifier, LLaMA's Wikipedia-reference fastText gate).

Two deterministic trainers over the same hashed-bigram features
(``selection._bucket``: md5-uniform buckets, engine-portable):

- :func:`train_quality_classifier` — closed-form multinomial
  Naive-Bayes log-odds: w_b = ln p(b|pos) - ln p(b|neg) with add-one
  smoothing, plus the class-prior log-odds as bias. NB log-odds IS a
  linear classifier (the decision function is bias + sum_b c_b * w_b),
  and closed-form counting makes training a pair of aggregations — no
  iteration, bit-for-bit SQL-replayable.
- :func:`train_quality_classifier_lr` — fixed-iteration full-batch
  logistic regression (the fastText-supervised shape): ``n_iters``
  gradient steps from zero weights, every margin/probability/update
  quantized to integer micro-units at a fixed point, so the whole
  training trajectory is exact integer arithmetic both engines replay
  (the oracle unrolls the iterations as CTE layers — the
  ``ns_ppr_topk`` unrolled-fixpoint device).

Arithmetic discipline (the repo-wide oracle contract): one ln()/exp()
per BUCKET/DOC quantized to integer micro-units — cross-row
accumulation is always BIGINT, so no float-summation-order divergence
can occur; see ``operators/selection.py`` module docstring.

100 TB shape: training touches only the LABELED slices (two
broadcast-semi-joined aggregations over the one shared bigram explode;
labeled sets are corpus-tiny by construction), the model is
``N_BUCKETS`` rows — kilobytes — broadcast into the scoring join, and
inference is ONE explode + broadcast join + per-doc aggregate over the
corpus: no data-sized shuffle except the (doc, bucket) count, no
Python anywhere, no windows at all (plan-gated in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .selection import N_BUCKETS, _bigrams, _bucket

MICRO = 1_000_000


def per_bucket_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, b, c) hashed-bigram bucket counts — the ONE corpus
    explode shared by training and inference. localCheckpointed so the
    two trainer aggregations and the scoring pass reuse the
    materialization instead of re-exploding the corpus."""
    return (
        _bigrams(docs, text_col)
        .groupBy("doc_id", _bucket(F.col("gram")))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )


def train_quality_classifier(
    docs: DataFrame,
    pos_filter: str,
    neg_filter: str,
    text_col: str = "text",
    per_bucket: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Closed-form NB log-odds trainer. Returns ``(weights, bias)``:
    ``weights`` = (b, lp, lq) micro-nat log-probs per bucket under each
    class LM (absent buckets fall to the smoothed floor at scoring
    time), ``bias`` = 1 row (prior_micro, floor_p, floor_q) with the
    class-prior log-odds ln(n_pos_docs / n_neg_docs).

    Precondition: both labeled slices must be non-empty and contain at
    least one doc with >= 2 tokens (a class with no features has no
    distribution to score against)."""
    if per_bucket is None:
        per_bucket = per_bucket_counts(docs, text_col)
    # r10 OPTIMIZATION batch 2 (guide §2.3 "aggregate before you
    # shuffle" / §1.2): BOTH class LMs come from ONE conditional
    # aggregate over the bucket table — the class membership flags ride
    # in on a broadcast join — instead of two semi-join + groupBy
    # passes (and the bias totals re-aggregated the same table twice
    # more). Scans of the materialized bucket table: 4 -> 1; scans of
    # docs for the prior counts: 2 -> 1. Per-class sums, smoothing and
    # floors are arithmetically identical (docs are unique by doc_id,
    # so a conditional sum over the broadcast-joined flags equals the
    # semi-join sum; sum over an all-NULL class is NULL, reproducing
    # the absent-bucket rows of the per-class groupBy).
    flags = docs.select(
        "doc_id",
        F.expr(pos_filter).alias("_is_p"),
        F.expr(neg_filter).alias("_is_q"),
    )
    cls = (
        per_bucket.join(F.broadcast(flags), "doc_id")
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("_is_p"), F.col("c"))).cast("long").alias("cp"),
            F.sum(F.when(F.col("_is_q"), F.col("c"))).cast("long").alias("cq"),
        )
        .where(F.col("cp").isNotNull() | F.col("cq").isNotNull())
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    tots = cls.agg(
        F.sum("cp").cast("long").alias("tot_p"),
        F.sum("cq").cast("long").alias("tot_q"),
    )
    weights = cls.crossJoin(F.broadcast(tots)).select(
        "b",
        F.when(
            F.col("cp").isNotNull(),
            F.round(
                F.log(
                    (F.col("cp") + F.lit(1)).cast("double")
                    / (F.col("tot_p") + F.lit(N_BUCKETS)).cast("double")
                )
                * MICRO
            ).cast("long"),
        ).alias("lp"),
        F.when(
            F.col("cq").isNotNull(),
            F.round(
                F.log(
                    (F.col("cq") + F.lit(1)).cast("double")
                    / (F.col("tot_q") + F.lit(N_BUCKETS)).cast("double")
                )
                * MICRO
            ).cast("long"),
        ).alias("lq"),
    )
    ncounts = docs.agg(
        F.sum(F.when(F.expr(pos_filter), 1).otherwise(0)).cast("long").alias("np"),
        F.sum(F.when(F.expr(neg_filter), 1).otherwise(0)).cast("long").alias("nq"),
    )
    bias = (
        tots.crossJoin(F.broadcast(ncounts))
        .select(
            F.round(
                F.log(F.col("np").cast("double") / F.col("nq").cast("double"))
                * MICRO
            )
            .cast("long")
            .alias("prior_micro"),
            F.round(
                F.log(F.lit(1.0) / (F.col("tot_p") + F.lit(N_BUCKETS)).cast("double"))
                * MICRO
            )
            .cast("long")
            .alias("floor_p"),
            F.round(
                F.log(F.lit(1.0) / (F.col("tot_q") + F.lit(N_BUCKETS)).cast("double"))
                * MICRO
            )
            .cast("long")
            .alias("floor_q"),
        )
    )
    # r10 OPTIMIZATION (guide §2.4/§7.2): weights (<= 2*N_BUCKETS rows)
    # and bias (1 row) are referenced lazily by every scoring pass —
    # score_quality broadcasts weights once and bias twice — and Spark
    # re-executes the whole two-class training subtree per reference
    # (the ns_quality_classifier plan reached 104 Exchange nodes).
    # Materializing the kilobyte model once collapses scoring to the
    # one corpus aggregate + broadcast joins the docstring promises.
    return (
        weights.coalesce(1).localCheckpoint(eager=True),
        bias.coalesce(1).localCheckpoint(eager=True),
    )


def score_quality(
    docs: DataFrame,
    weights: DataFrame,
    bias: DataFrame,
    text_col: str = "text",
    per_bucket: DataFrame | None = None,
) -> DataFrame:
    """Broadcast-weights inference over EVERY document: (doc_id,
    n_grams, logit_micro, keep) where logit = prior + sum_b c_b *
    (lp_b - lq_b) in exact integer micro-nats and keep = logit > 0.
    Docs with < 2 tokens have no features and score the prior alone
    (n_grams = 0) — every input doc gets a verdict, the gate never
    silently drops rows."""
    if per_bucket is None:
        per_bucket = per_bucket_counts(docs, text_col)
    scored = (
        per_bucket.join(F.broadcast(weights), "b", "left")
        .crossJoin(F.broadcast(bias))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            (
                F.first("prior_micro")
                + F.sum(
                    F.col("c")
                    * (
                        F.coalesce(F.col("lp"), F.col("floor_p"))
                        - F.coalesce(F.col("lq"), F.col("floor_q"))
                    )
                )
            )
            .cast("long")
            .alias("logit_micro"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(bias.select("prior_micro")))
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("logit_micro"), F.col("prior_micro"))
            .cast("long")
            .alias("logit_micro"),
        )
        .withColumn("keep", F.col("logit_micro") > 0)
        .orderBy("doc_id")
    )


def quality_classifier_oracle_sql(
    pos_filter: str = "source = 'src0'", neg_filter: str = "source = 'src3'"
) -> str:
    """DuckDB twin of train(NB) + score: identical buckets, smoothing,
    quantization points, floors, and prior."""
    b = N_BUCKETS
    return f"""
    WITH grams AS (
      SELECT doc_id,
        CAST('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 15) AS BIGINT)
          % {b} AS b
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 2) base,
      LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) gs
    ),
    per_bucket AS (
      SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY doc_id, b
    ),
    cnt_p AS (
      SELECT pb.b, CAST(sum(pb.c) AS BIGINT) AS c FROM per_bucket pb
      JOIN documents d ON d.doc_id = pb.doc_id AND d.{pos_filter}
      GROUP BY pb.b
    ),
    cnt_q AS (
      SELECT pb.b, CAST(sum(pb.c) AS BIGINT) AS c FROM per_bucket pb
      JOIN documents d ON d.doc_id = pb.doc_id AND d.{neg_filter}
      GROUP BY pb.b
    ),
    tot_p AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM cnt_p),
    tot_q AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM cnt_q),
    lm_p AS (
      SELECT b, CAST(round(ln(CAST(c + 1 AS DOUBLE)
        / CAST(tot + {b} AS DOUBLE)) * 1000000) AS BIGINT) AS lp
      FROM cnt_p, tot_p
    ),
    lm_q AS (
      SELECT b, CAST(round(ln(CAST(c + 1 AS DOUBLE)
        / CAST(tot + {b} AS DOUBLE)) * 1000000) AS BIGINT) AS lq
      FROM cnt_q, tot_q
    ),
    consts AS (
      SELECT
        CAST(round(ln(
          CAST((SELECT count(*) FROM documents WHERE {pos_filter}) AS DOUBLE)
          / CAST((SELECT count(*) FROM documents WHERE {neg_filter}) AS DOUBLE)
        ) * 1000000) AS BIGINT) AS prior_micro,
        CAST(round(ln(1.0 / CAST(p.tot + {b} AS DOUBLE)) * 1000000) AS BIGINT)
          AS floor_p,
        CAST(round(ln(1.0 / CAST(q.tot + {b} AS DOUBLE)) * 1000000) AS BIGINT)
          AS floor_q
      FROM tot_p p, tot_q q
    ),
    scored AS (
      SELECT pb.doc_id, CAST(sum(pb.c) AS BIGINT) AS n_grams,
        CAST(k.prior_micro + sum(pb.c * (coalesce(p.lp, k.floor_p)
                         - coalesce(q.lq, k.floor_q))) AS BIGINT) AS logit_micro
      FROM per_bucket pb
      LEFT JOIN lm_p p ON p.b = pb.b
      LEFT JOIN lm_q q ON q.b = pb.b
      CROSS JOIN consts k
      GROUP BY pb.doc_id, k.prior_micro
    )
    SELECT d.doc_id,
      CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(coalesce(s.logit_micro, k.prior_micro) AS BIGINT) AS logit_micro,
      coalesce(s.logit_micro, k.prior_micro) > 0 AS keep
    FROM documents d
    LEFT JOIN scored s ON s.doc_id = d.doc_id
    CROSS JOIN consts k
    ORDER BY d.doc_id
    """


# ---------------------------------------------------------------------
# fixed-iteration logistic regression — the fastText-supervised trainer
# shape: full-batch gradient steps from zero weights, every margin /
# probability / update quantized to integer micro-units, so the whole
# trajectory is exact integer arithmetic both engines replay (the
# oracle unrolls iterations as CTE layers, the ns_ppr_topk device).
# ---------------------------------------------------------------------


def _p_micro(margin_micro):
    """sigmoid at DOC granularity quantized to micro-units: ONE exp()
    per (doc, iteration) on an integer-derived double — the module's
    ln()/exp() quantization contract."""
    return (
        F.round(F.lit(1_000_000.0) / (F.lit(1.0) + F.exp(-F.col(margin_micro) / MICRO)))
        .cast("long")
    )


def train_quality_classifier_lr(
    docs: DataFrame,
    pos_filter: str,
    neg_filter: str,
    text_col: str = "text",
    n_iters: int = 3,
    lr: float = 0.5,
    per_bucket: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Distributed full-batch logistic regression on the labeled
    slices: ``n_iters`` synchronous gradient steps from zero weights.

    Per iteration (all exact integers between the two quantization
    points): margin_d = bias + sum_b c_db * w_b; p_d = round(1e6 *
    sigmoid(margin_d/1e6)); err_d = y_d*1e6 - p_d; then
    w_b += round(lr * sum_d(c_db * err_d) / n_labeled / 1e6) and
    bias += round(lr * sum_d(err_d) / n_labeled / 1e6) — the /1e6
    de-scales err back to nats so ``lr`` has its textbook magnitude.

    Returns ``(weights, bias)``: weights = (b, w_micro) — only buckets
    seen in the labeled slices (unseen buckets keep weight 0: a
    zero-initialized trainer never moves a feature it never saw);
    bias = 1 row (w0_micro, n_lab).

    100 TB shape: each iteration is one broadcast join of the
    kilobyte-sized weight table onto the LABELED (doc, bucket) counts
    (corpus-tiny by construction), one per-doc aggregate, one
    bucket-keyed gradient aggregate — n_iters metadata-scale rounds,
    no Python, no windows."""
    if per_bucket is None:
        per_bucket = per_bucket_counts(docs, text_col)
    pos_ids = docs.where(F.expr(pos_filter)).select("doc_id")
    neg_ids = docs.where(F.expr(neg_filter)).select("doc_id")
    labels = pos_ids.select("doc_id", F.lit(1).alias("y")).unionByName(
        neg_ids.select("doc_id", F.lit(0).alias("y"))
    )
    lab = (
        per_bucket.join(F.broadcast(labels), "doc_id")
        .select("doc_id", "b", "c", "y")
        .localCheckpoint(eager=True)
    )
    n_lab = labels.count()
    spark = docs.sparkSession
    # r11 (VERDICT-r10 #4): the bias rides IN the weight frame as the
    # reserved bucket b = -1 (real buckets are md5-uniform in
    # [0, N_BUCKETS)), so each iteration is ONE blocking job (the state
    # checkpoint) and ZERO driver collects — the pagerank scalar-join
    # idiom applied to the last per-iteration driver sync. The b = -1
    # row never matches a labeled (doc, bucket) row in the margin join;
    # the returned weights/bias are slices of the checkpointed state.
    # Its gradient step is round(lr*g/n_lab) — the bias is ALREADY in
    # micro-units, where a weight step de-scales err (/MICRO) and then
    # re-scales the stored weight (*MICRO); the two float expressions
    # are kept verbatim (x/1e6*1e6 != x in IEEE — the oracle replays
    # each form exactly).
    # JVM-side init (a createDataFrame literal would put a Python RDD
    # scan into every downstream plan)
    state = spark.range(1).select(
        F.lit(-1).cast("long").alias("b"), F.lit(0).cast("long").alias("w_micro")
    )
    # the gradient's input carries one bias row per doc (b = -1, c = 1),
    # so one bucket-keyed aggregate yields the bias gradient sum(err) too;
    # the margin's input (lab) must not carry it
    grad_in = lab.select("doc_id", "b", "c").unionByName(
        lab.select("doc_id").distinct().select(
            "doc_id",
            F.lit(-1).cast("long").alias("b"),
            F.lit(1).cast("long").alias("c"),
        )
    )
    for _ in range(n_iters):
        per_doc = (
            lab.join(F.broadcast(state), "b", "left")
            .groupBy("doc_id", "y")
            .agg(
                F.sum(F.col("c") * F.coalesce(F.col("w_micro"), F.lit(0)))
                .alias("_dot")
            )
            .crossJoin(
                F.broadcast(
                    state.where(F.col("b") == -1).select(
                        F.col("w_micro").alias("_w0")
                    )
                )
            )
            .withColumn(
                "margin_micro", (F.col("_w0") + F.col("_dot")).cast("long")
            )
            .withColumn("p_micro", _p_micro("margin_micro"))
            .withColumn(
                "err", (F.col("y") * MICRO - F.col("p_micro")).cast("long")
            )
        )
        grad = (
            grad_in.join(per_doc.select("doc_id", "err"), "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("c") * F.col("err")).cast("long").alias("g"))
        )
        # union + groupBy instead of a FULL OUTER join (full outer
        # cannot broadcast — it would SortMergeJoin two kilobyte tables
        # every iteration)
        state = (
            grad.select("b", F.lit(0).cast("long").alias("w_micro"), "g")
            .unionByName(
                state.select("b", "w_micro", F.lit(0).cast("long").alias("g"))
            )
            .groupBy("b")
            .agg(
                (
                    F.sum("w_micro")
                    + F.when(
                        F.col("b") == -1,
                        # the bias step — round() is HALF-AWAY-FROM-ZERO
                        # in both engines' SQL (the old driver-side fold
                        # used floor(abs+0.5) to match it)
                        F.round(F.lit(lr) * F.sum("g") / F.lit(float(n_lab))),
                    )
                    .otherwise(
                        F.round(
                            F.lit(lr) * F.sum("g")
                            / F.lit(float(n_lab)) / MICRO * MICRO
                        )
                    )
                    .cast("long")
                )
                .cast("long")
                .alias("w_micro")
            )
            .localCheckpoint(eager=True)
        )
    weights = state.where(F.col("b") >= 0)
    bias = state.where(F.col("b") == -1).select(
        F.col("w_micro").alias("w0_micro"),
        F.lit(int(n_lab)).cast("long").alias("n_lab"),
    )
    return weights, bias


def score_quality_lr(
    docs: DataFrame,
    weights: DataFrame,
    bias: DataFrame,
    text_col: str = "text",
    per_bucket: DataFrame | None = None,
) -> DataFrame:
    """Broadcast-weights LR inference over every document: (doc_id,
    n_grams, margin_micro, p_micro, keep); featureless docs (< 2
    tokens) score the bias alone."""
    if per_bucket is None:
        per_bucket = per_bucket_counts(docs, text_col)
    scored = (
        per_bucket.join(F.broadcast(weights), "b", "left")
        .crossJoin(F.broadcast(bias))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            (
                F.first("w0_micro")
                + F.sum(F.col("c") * F.coalesce(F.col("w_micro"), F.lit(0)))
            )
            .cast("long")
            .alias("margin_micro"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(bias.select("w0_micro")))
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("margin_micro"), F.col("w0_micro"))
            .cast("long")
            .alias("margin_micro"),
        )
        .withColumn("p_micro", _p_micro("margin_micro"))
        .withColumn("keep", F.col("margin_micro") > 0)
        .orderBy("doc_id")
    )


def quality_classifier_lr_oracle_sql(
    pos_filter: str = "source = 'src0'",
    neg_filter: str = "source = 'src3'",
    n_iters: int = 3,
    lr: float = 0.5,
) -> str:
    """DuckDB twin of the LR trainer + scorer: the gradient iterations
    unrolled as CTE layers (w0 = zero weights is inlined, so layer k
    computes weights after k+1 steps)."""
    b = N_BUCKETS
    head = f"""
    WITH grams AS (
      SELECT doc_id,
        CAST('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 15) AS BIGINT)
          % {b} AS b
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 2) base,
      LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) gs
    ),
    per_bucket AS (
      SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY doc_id, b
    ),
    labels AS (
      SELECT doc_id, 1 AS y FROM documents WHERE {pos_filter}
      UNION ALL
      SELECT doc_id, 0 FROM documents WHERE {neg_filter}
    ),
    lab AS (
      SELECT pb.doc_id, pb.b, pb.c, l.y
      FROM per_bucket pb JOIN labels l ON l.doc_id = pb.doc_id
    ),
    nl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM labels)
    """
    layers = []
    prev_w, prev_b = None, "0"
    for k in range(n_iters):
        margin = (
            f"{prev_b} + sum(lab.c * coalesce(w.w_micro, 0))"
            if prev_w
            else f"{prev_b}"
        )
        join_w = f"LEFT JOIN {prev_w} w ON w.b = lab.b" if prev_w else ""
        layers.append(f"""
    pd{k} AS (
      SELECT lab.doc_id, lab.y,
        CAST(round(1000000.0 / (1.0 + exp(-CAST(({margin}) AS BIGINT)
          / 1000000.0))) AS BIGINT) AS p_micro
      FROM lab {join_w}
      GROUP BY lab.doc_id, lab.y
    ),
    err{k} AS (
      SELECT doc_id, CAST(y * 1000000 - p_micro AS BIGINT) AS err FROM pd{k}
    ),
    w{k} AS (
      SELECT g.b,
        CAST(coalesce(pw.w_micro, 0)
          + round({lr} * g.g / CAST(nl.n AS DOUBLE) / 1000000.0 * 1000000.0)
          AS BIGINT) AS w_micro
      FROM (
        SELECT lab.b, CAST(sum(lab.c * e.err) AS BIGINT) AS g
        FROM lab JOIN err{k} e ON e.doc_id = lab.doc_id GROUP BY lab.b
      ) g {"LEFT JOIN " + prev_w + " pw ON pw.b = g.b" if prev_w else "CROSS JOIN (SELECT CAST(NULL AS BIGINT) AS w_micro) pw"}, nl
    ),
    b{k} AS (
      SELECT CAST({prev_b}
        + round({lr} * (SELECT sum(err) FROM err{k}) / CAST(nl.n AS DOUBLE))
        AS BIGINT) AS w0 FROM nl
    )""")
        prev_w, prev_b = f"w{k}", f"(SELECT w0 FROM b{k})"
    tail = f"""
    , scored AS (
      SELECT pb.doc_id, CAST(sum(pb.c) AS BIGINT) AS n_grams,
        CAST({prev_b} + sum(pb.c * coalesce(w.w_micro, 0)) AS BIGINT)
          AS margin_micro
      FROM per_bucket pb LEFT JOIN {prev_w} w ON w.b = pb.b
      GROUP BY pb.doc_id
    )
    SELECT d.doc_id,
      CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(coalesce(s.margin_micro, {prev_b}) AS BIGINT) AS margin_micro,
      CAST(round(1000000.0 / (1.0 + exp(-coalesce(s.margin_micro, {prev_b})
        / 1000000.0))) AS BIGINT) AS p_micro,
      coalesce(s.margin_micro, {prev_b}) > 0 AS keep
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """
    return head + "," + ",".join(layers) + tail
