"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the baseline. All arithmetic
  is JVM higher-order functions (zip_with/aggregate); no UDF.
- ``lsh_ann_topk`` / ``ivf_ann_topk``: the scale paths. Candidates share
  a hyperplane hash bucket or a probed centroid list, so the join is
  equi on the bucket or list, not a cross product. Both are built on the
  ANN core below (exact-int vector table, literal-plane LSH buckets,
  struct-argmax centroid assignment, PQ codes), which the catalog's
  oracle-checked ANN rows call too. Hyperplanes come from a fixed-seed
  draw and centroids from RNG-free k-means, so results are reproducible
  without a stored model.

Exact cross-engine arithmetic: embeddings are float32; we scale each
component to an integer (round(x * 1e6)) so dot products and norms are
exact BIGINT sums in any engine; cosine is then one deterministic double
expression. This is the same exact-int strategy the relational catalog
uses for money columns.

At 100 TB: broadcast the (small) query set, keep the corpus partitioned;
for all-pairs near-dup use the LSH buckets and verify only candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._util import spread as _spread
from pyspark.sql.window import Window

SCALE = 1_000_000  # float32 has ~7 significant digits




def _iscale(x: Column) -> Column:
    return F.round(x.cast("double") * SCALE).cast("long")


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two float vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _iscale(x) * _iscale(y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def int_norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: _iscale(x) * _iscale(x)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_expr(dot_i: Column, n2a: Column, n2b: Column) -> Column:
    return dot_i.cast("double") / (
        F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double"))
    )


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Brute force: |Q| x |corpus| scored pairs, ranked per query. The
    query side is broadcast (it is small by construction).
    """
    embeddings = _spread(embeddings)
    norms = embeddings.select(
        F.col("vec_id"), F.col(vec_col).alias("vec"), int_norm2(F.col(vec_col)).alias("n2")
    )
    q = norms.select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), F.col("n2").alias("qn2")
    )
    if query_ids is not None:
        q = q.where(F.col("query_id").isin(query_ids))
    pairs = norms.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_expr(int_dot(F.col("qvec"), F.col("vec")), F.col("qn2"), F.col("n2")).alias(
            "cos_raw"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos_raw"), 6).alias("cosine"),
            F.col("rn").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.9, vec_col: str = "embedding"
) -> DataFrame:
    """All pairs with cosine >= threshold (exact, quadratic — verifier
    for LSH candidates; bench path uses lsh_ann buckets first)."""
    embeddings = _spread(embeddings)
    norms = embeddings.select(
        F.col("vec_id"), F.col(vec_col).alias("vec"), int_norm2(F.col(vec_col)).alias("n2")
    )
    a = norms.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), F.col("n2").alias("na")
    )
    b = norms.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), F.col("n2").alias("nb")
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = cosine_expr(int_dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    return (
        pairs.select("vec_a", "vec_b", cos.alias("cos_raw"))
        .where(F.col("cos_raw") >= threshold)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


# ---- ANN core ---------------------------------------------------------
#
# One exact-int vector table, and array expressions over it: a bucket
# sign, a centroid cosine, a PQ subdistance and a candidate dot are each
# a within-row zip_with/aggregate reduction, so no step explodes vectors
# into per-component rows. The catalog's oracle-checked ANN rows and the
# library functions below compose the same primitives; they differ only
# in the plane matrix and the centroid frame they pass in. Each
# primitive takes its query side as a frame, so a caller restricts the
# queries with any filter (``vec_id < 5``, ``isin(query_ids)``).

_QUANTIZE = "transform({}, x -> CAST(round(CAST(x AS DOUBLE) * " + str(SCALE) + ") AS BIGINT))"
_NORM2 = "aggregate({}, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"


def arr_dot_sql(a: str, b: str) -> str:
    """SQL text of the exact BIGINT dot product of two bigint arrays.

    An index present on only one side contributes nothing (zip_with pads
    with NULL, coalesced to 0), the same as summing ``a.e * b.e`` over a
    join of the exploded components on their index."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + coalesce(v, CAST(0 AS BIGINT)))"
    )


def embedding_dim(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """The largest vector length: one small aggregate."""
    return int(embeddings.select(F.max(F.size(vec_col))).head()[0])


def exact_int_vectors(
    embeddings: DataFrame, ops_per_element: int, vec_col: str = "embedding"
) -> DataFrame:
    """``(vec_id, earr, n2)``: one row per vector with its components
    scaled to exact integers (``round(x * 1e6)``) and its squared norm,
    materialized once with ``localCheckpoint``. Null and empty vectors
    are dropped.

    The width is size-adaptive: about 750k interpreted array ops per
    task, estimated from the input's optimizer statistics (metadata
    only, no job) and capped by the session's parallelism, the same
    derivation ``graph._edge_table`` uses. ``ops_per_element`` is the
    heaviest consumer's work per vector component: planes x tables for
    LSH buckets, centroids for the IVF and PQ quantizers."""
    spark = embeddings.sparkSession
    est_bytes = int(
        str(embeddings._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    # ~720 estimated bytes per row of a 64-component float vector
    elements_est = max(1, est_bytes // 720) * 64
    cap = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    width = min(cap, max(1, round(elements_est * ops_per_element / 750_000)))
    v = f"`{vec_col}`"
    return (
        spark.sql(
            f"SELECT vec_id, {_QUANTIZE.format(v)} AS earr FROM {{e}} "
            f"WHERE {v} IS NOT NULL AND size({v}) > 0",
            e=embeddings,
        )
        .selectExpr("vec_id", "earr", f"{_NORM2.format('earr')} AS n2")
        .repartition(width)
        .localCheckpoint(eager=True)
    )


def rank_candidates(cand: DataFrame, vecs: DataFrame) -> DataFrame:
    """Score ``(query_id, vec_id)`` candidate pairs and rank them per
    query: ``(query_id, neighbor_id, cos_raw, rn)``, ``rn`` by cosine
    descending, then neighbor id. Both vector sides are read from the
    exact-int table, so the cosine is the one :func:`cosine_topk`
    computes for the same pair, bit for bit."""
    return cand.sparkSession.sql(
        f"""
        SELECT query_id, neighbor_id, cos_raw,
          row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
        FROM (
          SELECT c.query_id, c.vec_id AS neighbor_id,
            CAST({arr_dot_sql('a.earr', 'b.earr')} AS DOUBLE)
              / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos_raw
          FROM {{cand}} c
          JOIN {{v}} a ON a.vec_id = c.query_id
          JOIN {{v}} b ON b.vec_id = c.vec_id
        ) scored
        """,
        cand=cand,
        v=vecs,
    )


def top_k(ranked: DataFrame, k: int) -> DataFrame:
    """The first ``k`` rows per query of :func:`rank_candidates`:
    ``(query_id, neighbor_id, cosine, rank)``, ordered."""
    return ranked.sparkSession.sql(
        "SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, "
        f"CAST(rn AS INT) AS rank FROM {{r}} WHERE rn <= {k} ORDER BY query_id, rank",
        r=ranked,
    )


def recall_hits(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """``(query_id, hits)``: per query, how many of its exact neighbours
    the approximate set also holds, as an exact integer. Joined from the
    exact side, so a query whose approximate set misses every exact
    neighbour reports ``hits = 0`` instead of vanishing."""
    return exact.sparkSession.sql(
        """
        SELECT e.query_id,
          CAST(sum(CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
            AS hits
        FROM {exact} e
        LEFT JOIN {approx} a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id ORDER BY e.query_id
        """,
        exact=exact,
        approx=approx,
    )


# ---- LSH ------------------------------------------------------------------


def lsh_buckets(vecs: DataFrame, planes) -> DataFrame:
    """``(vec_id, tbl, bucket)``: one row per vector and hash table.

    ``planes[t][p]`` is the ±1 sign vector of plane ``p`` in table
    ``t``. A vector's bucket in table ``t`` sets bit ``p`` when its
    exact-int dot with that plane is >= 0: AND over the planes of a
    table (precision), OR across tables through the candidate join
    (recall). The planes are constants, so they are folded into the
    expression as literal arrays, one zip_with dot per plane. The table
    is checkpointed before its self-join, because a lazy self-join runs
    the bucket pipeline once per side (docs/SCALING.md #4)."""
    structs = []
    for t, table in enumerate(planes):
        parts = []
        for p, signs in enumerate(table):
            lits = ",".join(str(int(x)) for x in signs)
            s = arr_dot_sql(f"array({lits})", "earr")
            parts.append(
                f"(CASE WHEN {s} >= 0 THEN CAST({1 << p} AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END)"
            )
        structs.append(f"named_struct('tbl', {t}, 'bucket', {' + '.join(parts)})")
    return vecs.sparkSession.sql(
        f"SELECT vec_id, eb.tbl, eb.bucket FROM {{v}} "
        f"LATERAL VIEW explode(array({','.join(structs)})) E AS eb",
        v=vecs,
    ).localCheckpoint(eager=True)


def lsh_candidates(buckets: DataFrame, queries: DataFrame) -> DataFrame:
    """``(query_id, vec_id)``: every other vector sharing a bucket with a
    query in any table, deduplicated across tables before any scoring.
    ``queries`` is a subset of the rows of ``buckets``; mark it with
    ``F.broadcast`` when it is bounded."""
    return buckets.sparkSession.sql(
        """
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id
        FROM {q} q
        JOIN {bk} c ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id != q.vec_id
        """,
        q=queries,
        bk=buckets,
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only pairs sharing a bucket in ANY of
    ``n_tables`` random-hyperplane hash tables (OR-amplification).

    Recall/cost knobs: more planes = smaller buckets = fewer candidates
    (precision); more tables = more chances to catch a true neighbor
    (recall). The plane matrix is a fixed-seed Mersenne Twister draw
    (``np.random.RandomState(0)``), so results are reproducible run to
    run and machine to machine. Candidate pairs are deduplicated before
    scoring, so at 100x corpus growth the cost is (candidates x d),
    never N^2."""
    import numpy as np

    vecs = exact_int_vectors(embeddings, n_planes * n_tables, vec_col)
    d = embedding_dim(embeddings, vec_col)
    signs = np.random.RandomState(0).randint(0, 2, size=(d, n_planes * n_tables)) * 2 - 1
    bk = lsh_buckets(vecs, signs.T.reshape(n_tables, n_planes, d))
    # a bounded query side is broadcast by hint, so the bucket table
    # streams at any corpus size; all-pairs is left to the planner
    q = bk if query_ids is None else F.broadcast(bk.where(F.col("vec_id").isin(query_ids)))
    return top_k(rank_candidates(lsh_candidates(bk, q), vecs), k)


# ---- IVF ------------------------------------------------------------------


def seed_centroids(vecs: DataFrame, n_centroids: int) -> DataFrame:
    """``(cent_id, carr, cn2)``: the ``n_centroids`` lowest-id rows of
    the exact-int table as centroids (Lloyd iteration 0), reproducible
    in any engine."""
    return vecs.sparkSession.sql(
        "SELECT vec_id AS cent_id, earr AS carr, n2 AS cn2 FROM {v} "
        f"ORDER BY vec_id LIMIT {n_centroids}",
        v=vecs,
    )


def _quantized(centroids: DataFrame) -> DataFrame:
    """``(cent_id, cvec)`` float centroids as an exact-int centroid frame."""
    return centroids.selectExpr(
        "cent_id", f"{_QUANTIZE.format('cvec')} AS carr"
    ).selectExpr("cent_id", "carr", f"{_NORM2.format('carr')} AS cn2")


def _centroid_cosines(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """``(vec_id, cent_id, cos_c)`` for every vector and centroid, lazy.
    The centroid side is ``n_centroids`` rows and is broadcast."""
    return vecs.sparkSession.sql(
        f"""
        SELECT v.vec_id, c.cent_id,
          CAST({arr_dot_sql('v.earr', 'c.carr')} AS DOUBLE)
            / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) AS cos_c
        FROM {{v}} v CROSS JOIN {{c}} c
        """,
        v=vecs,
        c=cents,
    )


def nearest_centroid(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """``(vec_id, cent_id)``: each vector's nearest centroid by cosine,
    ties to the lowest ``cent_id``, materialized once.

    The argmax is a struct max, which combines map-side and folds into
    the checkpoint job: the materialized frame is one row per vector,
    not the vectors x centroids cosine table."""
    return vecs.sparkSession.sql(
        """
        SELECT vec_id, CAST(-m.g AS BIGINT) AS cent_id FROM (
          SELECT vec_id, max(named_struct('c', cos_c, 'g', -cent_id)) AS m
          FROM {vcs} GROUP BY vec_id
        ) ar
        """,
        vcs=_centroid_cosines(vecs, cents),
    ).localCheckpoint(eager=True)


def ivf_candidates(
    queries: DataFrame, cents: DataFrame, assign: DataFrame, n_probe: int
) -> DataFrame:
    """``(query_id, vec_id)``: the members of each query's ``n_probe``
    nearest centroid lists (ties to the lowest ``cent_id``). The query
    cosines are recomputed from ``queries``, a subset of the exact-int
    table.

    The probe side is broadcast by hint: it is n_queries x n_probe rows
    by construction, but it hangs off a window over a checkpointed RDD,
    so the planner has no statistics for it and otherwise picks a
    SortMergeJoin that shuffles the data-sized assignment table."""
    return queries.sparkSession.sql(
        f"""
        WITH probe AS (
          SELECT vec_id AS query_id, cent_id FROM (
            SELECT vec_id, cent_id,
              row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
            FROM {{vcs_q}}
          ) pr WHERE rn <= {n_probe}
        )
        SELECT /*+ BROADCAST(p) */ DISTINCT p.query_id, a.vec_id
        FROM probe p JOIN {{a}} a ON a.cent_id = p.cent_id AND a.vec_id != p.query_id
        """,
        vcs_q=_centroid_cosines(queries, cents),
        a=assign,
    )


def _lloyd(
    embeddings: DataFrame, vecs: DataFrame, n_centroids: int, n_iters: int, vec_col: str
) -> DataFrame:
    spark = embeddings.sparkSession
    raw = embeddings.select("vec_id", F.col(vec_col).alias("vec"))
    cents = [
        [float(x) for x in r.vec]
        for r in raw.where(F.size("vec") > 0).orderBy("vec_id").limit(n_centroids).collect()
    ]
    for _ in range(n_iters):
        cdf = spark.createDataFrame(list(enumerate(cents)), "cent_id int, cvec array<double>")
        means = (
            nearest_centroid(vecs, _quantized(cdf))
            .join(raw, "vec_id")
            .select("cent_id", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cent: dict[int, dict[int, float]] = {}
        for r in means:
            by_cent.setdefault(r.cent_id, {})[r.pos] = r.m
        for cid, dims in by_cent.items():
            cents[cid] = [dims[p] for p in sorted(dims)]
    return spark.createDataFrame(list(enumerate(cents)), "cent_id int, cvec array<double>")


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd) with deterministic seeding.

    Init = the ``n_centroids`` lowest-vec_id vectors; each iteration
    assigns every vector to its max-cosine centroid JVM-side
    (:func:`nearest_centroid` against the exact-int centroids) and
    recomputes each centroid as the element-wise mean of its members
    (one groupBy over exploded positions). Only the k x d centroid
    matrix visits the driver per iteration — the classic distributed
    k-means shape; at 100 TB each iteration is one broadcast + one
    shuffle of k*d partial sums per partition (map-side combined), never
    a vector collect. No RNG anywhere, so the trained model is
    reproducible run-to-run.

    Returns (cent_id int, cvec array<double>) — empty clusters keep
    their previous centroid.
    """
    vecs = exact_int_vectors(embeddings, n_centroids, vec_col)
    return _lloyd(embeddings, vecs, n_centroids, n_iters, vec_col)


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat assignment ``(vec_id, cent_id)`` against trained (or
    supplied) centroids: the posting lists (centroid -> members) are
    the inverted file.

    Centroids come from :func:`ivf_train` (deterministic k-means) unless
    a ``(cent_id, cvec)`` DataFrame is passed in."""
    vecs = exact_int_vectors(embeddings, n_centroids, vec_col)
    if centroids is None:
        centroids = _lloyd(embeddings, vecs, n_centroids, 3, vec_col)
    return nearest_centroid(vecs, _quantized(centroids))


def ivf_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via inverted-file probing: each query scores
    only the members of its ``n_probe`` closest centroid lists —
    |Q| x (n_probe/n_centroids) x |corpus| work instead of the full
    cross product. Recall rises with n_probe (== exact when
    n_probe == n_centroids). Centroids are k-means-trained
    (deterministically) so posting lists reflect the data's actual
    cluster structure, not an arbitrary seed sample."""
    vecs = exact_int_vectors(embeddings, n_centroids, vec_col)
    cents = _quantized(_lloyd(embeddings, vecs, n_centroids, 3, vec_col))
    assign = nearest_centroid(vecs, cents)
    q = vecs if query_ids is None else vecs.where(F.col("vec_id").isin(query_ids))
    return top_k(rank_candidates(ivf_candidates(q, cents, assign, n_probe), vecs), k)


# ---- PQ -------------------------------------------------------------------


def _pq_subdistances(vecs: DataFrame, cents: DataFrame, d: int, m: int) -> DataFrame:
    """``(vec_id, s, cent_id, d2)``: squared L2 distance per subspace
    between each vector and each sub-centroid, lazy. The subspace of
    1-based index ``i`` is ``((i-1)*m) div d``, so subspace ``s`` covers
    the contiguous index range [ceil(s*d/m)+1, ceil((s+1)*d/m)]. The
    squared differences are one ``zip_with`` over the full arrays,
    shared by all subspaces, then one slice-fold per subspace (an index
    absent on either side is NULL and counts 0)."""
    structs = []
    for s in range(m):
        lo = -((-s * d) // m) + 1
        hi = -((-(s + 1) * d) // m)
        n = hi - lo + 1
        d2 = (
            f"aggregate(slice(dsq, {lo}, {n}), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + coalesce(v, CAST(0 AS BIGINT)))"
        )
        structs.append(f"named_struct('s', CAST({s} AS BIGINT), 'd2', {d2})")
    return vecs.sparkSession.sql(
        f"""
        SELECT p.vec_id, sd.s, p.cent_id, sd.d2
        FROM (
          SELECT v.vec_id, c.cent_id,
            zip_with(earr, carr, (x, y) -> (x - y) * (x - y)) AS dsq
          FROM {{v}} v CROSS JOIN {{c}} c
        ) p
        LATERAL VIEW explode(array({','.join(structs)})) E AS sd
        """,
        v=vecs,
        c=cents,
    )


def pq_codes(vecs: DataFrame, cents: DataFrame, d: int, m: int) -> DataFrame:
    """``(vec_id, s, code)``: the nearest sub-centroid per vector and
    subspace (squared L2, ties to the lowest ``cent_id``), materialized
    once. The argmin is a struct min folded into the checkpoint job, so
    the materialized frame is n_vecs x m code rows, not the full
    subdistance table."""
    return vecs.sparkSession.sql(
        """
        SELECT vec_id, s, m.cent_id AS code FROM (
          SELECT vec_id, s, min(named_struct('d2', d2, 'cent_id', cent_id)) AS m
          FROM {dtab} GROUP BY vec_id, s
        ) cr
        """,
        dtab=_pq_subdistances(vecs, cents, d, m),
    ).localCheckpoint(eager=True)


def pq_ranked(
    queries: DataFrame, cents: DataFrame, codes: DataFrame, d: int, m: int
) -> DataFrame:
    """Asymmetric-distance (ADC) ranking ``(query_id, neighbor_id,
    adc_d2, rn)`` over the code table, ``rn`` by the exact BIGINT
    distance, then neighbor id. The query distance table is recomputed
    from ``queries``, a subset of the exact-int table.

    That table is broadcast by hint: it is n_queries x n_codes x m rows
    by construction, but the checkpoints carry no statistics, and the
    planner otherwise picks a SortMergeJoin that shuffles the data-sized
    code table on (s, code)."""
    return queries.sparkSession.sql(
        """
        WITH adc AS (
          SELECT /*+ BROADCAST(qt) */ qt.query_id, v.vec_id AS neighbor_id,
            CAST(sum(qt.d2) AS BIGINT) AS adc_d2
          FROM {codes} v JOIN (
            SELECT vec_id AS query_id, s, cent_id, d2 FROM {qt}
          ) qt ON qt.s = v.s AND qt.cent_id = v.code
          WHERE v.vec_id != qt.query_id
          GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, adc_d2,
          row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rn
        FROM adc
        """,
        codes=codes,
        qt=_pq_subdistances(queries, cents, d, m),
    )


# ---- vectorized Pandas-UDF path -------------------------------------


def cosine_topk_np(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
    vec_col: str = "embedding",
    exact_int: bool = False,
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Exact top-k via numpy matmul inside mapInPandas — the vectorized
    Python alternative to the JVM zip_with/aggregate path.

    The (small) query matrix ships inside the closure; each Arrow batch
    of corpus vectors scores against all queries with one BLAS matmul.
    ~10-100x fewer interpreter ops than per-element lambdas.

    ``exact_int=True`` quantizes components with the SAME round(x*1e6)
    rule as the JVM ``int_dot`` path before the matmul; integer-valued
    float64 products are exact while ``d * (SCALE*max|x|)^2 < 2^53``
    (d=64 unit-ish vectors: ~2e13, comfortably inside), so scores equal
    ``cosine_topk`` / the DuckDB oracle bit-for-bit. The default float
    path is for serving: summation order differs from the sequential
    JVM fold by ulps (~1e-12; rank ties broken identically).

    Scale guard: the query matrix is built with a driver ``collect``.
    With ``query_ids=None`` that would collect the WHOLE table — a
    driver OOM at 100 TB — so unbounded calls are rejected above
    ``max_query_rows`` rows; route big all-pairs jobs to ``cosine_topk``
    (JVM broadcast) or ``lsh_ann_topk`` / ``near_dup_pairs`` instead.
    """
    import numpy as np
    import pandas as pd

    q_df = (
        embeddings.where(F.col("vec_id").isin(query_ids))
        if query_ids is not None
        else embeddings
    ).select("vec_id", vec_col)
    if query_ids is None:
        n = q_df.limit(max_query_rows + 1).count()
        if n > max_query_rows:
            raise ValueError(
                f"cosine_topk_np with query_ids=None would collect the full "
                f"embeddings table (> {max_query_rows} rows) to the driver; "
                "pass query_ids, raise max_query_rows explicitly, or use the "
                "distributed cosine_topk / lsh_ann_topk paths"
            )
    q_rows = q_df.collect()

    def quant(m: "np.ndarray") -> "np.ndarray":
        # Spark F.round / DuckDB round: half AWAY from zero. Neither
        # np.round (half-to-even) nor floor(v+0.5) is equivalent — the
        # latter fails at v = 0.49999999999999994 (largest double < .5),
        # where v+0.5 rounds UP to exactly 1.0 and floor gives 1 while
        # HALF_UP gives 0. Compare the fractional part in exact binary
        # instead: frac = v - floor(v) is exact for |v| < 2^52, and the
        # >= 0.5 test matches both engines' decision on the true double.
        v = m * float(SCALE)
        f = np.floor(v)
        up = np.where(v - f >= 0.5, f + 1.0, f)  # half-up for v >= 0
        c = np.ceil(v)
        dn = np.where(c - v >= 0.5, c - 1.0, c)  # half-down->away for v < 0
        return np.where(v >= 0, up, dn)

    q_ids = np.array([r.vec_id for r in q_rows])
    q_mat = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    if exact_int:
        q_mat = quant(q_mat)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def run(batches):
        for pdf in batches:
            mat = np.array([list(v) for v in pdf["emb"]], dtype=np.float64)
            if exact_int:
                mat = quant(mat)
            norms = np.linalg.norm(mat, axis=1)
            sims = (mat @ q_mat.T) / np.outer(norms, q_norm)  # (batch, nq)
            n_rows, n_q = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n_rows),
                    "neighbor_id": np.tile(pdf["vec_id"].values, n_q),
                    "cos_raw": sims.T.reshape(-1),
                }
            )

    spread = _spread(embeddings)
    scored = (
        spread.select("vec_id", F.col(vec_col).alias("emb"))
        .mapInPandas(run, "query_id long, neighbor_id long, cos_raw double")
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos_raw"), 6).alias("cosine"),
            F.col("rn").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )
