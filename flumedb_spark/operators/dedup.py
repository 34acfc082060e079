"""Deduplication operators for training-data pipelines:

- exact dedup (hash groupBy)
- n-gram Jaccard pairwise similarity (exact, for verification / small
  candidate sets)
- MinHash + LSH banding (the scale path: candidate pairs without the
  quadratic join)
- SimHash 64-bit near-dup signatures

Design notes for 100 TB:
- All hashing uses md5 over content — deterministic across engines and
  runs (no seed/partitioning dependence), so results are reproducible
  and oracle-checkable. MinHash minima are taken over md5 *hex strings*
  (lexicographic order on lowercase hex == order on the 128-bit value),
  which sidesteps any cross-engine int-conversion divergence.
- The LSH join shuffles on (band, signature) — uniform md5 buckets, no
  skew. Candidate verification (exact Jaccard) touches only candidate
  pairs, never the full cross product.
- Everything is JVM column expressions: explode/transform/slice for
  shingling, min() aggregates for signatures, an equi-join for bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._util import spread as _spread




# ---- shingling ------------------------------------------------------


def word_shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle).

    JVM-side: split -> transform(sequence) -> slice -> explode. Short
    docs (< n words) contribute their full text as one shingle.
    ``distinct=False`` skips the dedup shuffle for consumers that are
    duplicate-insensitive (min-aggregates like MinHash).
    """
    # shingle explode + hashing downstream is CPU-bound: spread the cheap
    # pre-explode rows across cores if the SOURCE layout is under-split
    # (file-list check is plan metadata only — no .rdd materialization;
    # cached/in-memory inputs keep their partitioning)
    docs = _spread(docs)
    words = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))
    shingles = F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))
    out = docs.select("doc_id", F.explode(shingles).alias("shingle"))
    return out.distinct() if distinct else out


# ---- exact dedup ----------------------------------------------------


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    kept (min) doc_id and the copy count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_doc_id")
    )


# ---- exact n-gram Jaccard ------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.2, text_col: str = "text"
) -> DataFrame:
    """All-pairs word-n-gram Jaccard >= threshold.

    Quadratic in matching shingles — use on small/filtered inputs or LSH
    candidates; `minhash_lsh_candidates` is the scale path.
    """
    # materialize the shingle table once: it feeds BOTH sides of the
    # self-join plus the size aggregate, and a lazy plan recomputes the
    # split/explode/distinct pipeline three times per action (the same
    # self-join recompute trap measured and fixed in
    # minhash_lsh_candidates — docs/SCALING.md #4)
    sh = word_shingles(docs, n, text_col).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= threshold)
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---- MinHash + LSH --------------------------------------------------

# Oracle/test defaults: 8 permutations in 4 bands of 2 keeps the DuckDB
# oracle cheap and the banding math visible. PRODUCTION SCALE uses
# n_perm=128, n_bands=16 (8 rows/band): at a 0.8-Jaccard threshold that
# gives ~0.998 recall with far fewer false-positive candidates; the plan
# shape (explode -> min-agg -> band equi-join) is identical, only the
# signature width changes.
N_PERM = 8  # minhash permutations
N_BANDS = 4  # bands of 2 rows each


def _minhash_col(perm: int, hash: str = "md5"):
    """Permutation `perm`'s hash of a shingle.

    ``md5``: md5('{perm}|' + shingle) — min() over the hex string ==
    min over the 128-bit value; byte-identical in any engine (the
    ORACLE form). ``xxhash64``: JVM-native 64-bit hash — ~6x cheaper
    at production signature widths (no string materialization), Spark-
    specific (the PRODUCTION form; rows-only checkable)."""
    if hash == "xxhash64":
        return F.xxhash64(F.lit(perm), F.col("shingle"))
    return F.md5(F.concat(F.lit(f"{perm}|"), F.col("shingle")))


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    n_perm: int = N_PERM,
    hash: str = "md5",
) -> DataFrame:
    """(doc_id, h0..h{n_perm-1}) minhash signature table.

    min() is duplicate-insensitive, so shingles skip the distinct
    shuffle; the only shuffle left is the partial-min merge (map-side
    combine reduces it to one row per doc per partition).
    """
    sh = word_shingles(docs, n, text_col, distinct=False)
    aggs = [F.min(_minhash_col(p, hash)).alias(f"h{p}") for p in range(n_perm)]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_bands(
    sig: DataFrame,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    hash: str = "md5",
) -> DataFrame:
    """Band signatures: one hash of each band's minhashes."""
    if n_perm % n_bands:
        raise ValueError(f"n_perm={n_perm} not divisible by n_bands={n_bands}")
    rows_per_band = n_perm // n_bands

    def bsig(b: int):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash == "xxhash64":
            return F.xxhash64(*cols)
        return F.md5(F.concat(*cols))

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), bsig(b).alias("bsig"))
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bsig").alias("bsig")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    hash: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    The join is on (band, bsig) — md5 buckets are uniform, so the
    shuffle is skew-free; no quadratic comparison ever happens.

    The band table is MATERIALIZED once before the self-join: a
    self-join on a lazy plan computes the whole shingle->minhash
    pipeline twice (once per side) — measured 2.7-5.5s vs 0.85s at
    sf0.1 (round-2 join-hint A/B, docs/SCALING.md #4; `tools/probe.py
    ab` times the current row; the r2 `shuffle_hash` pin on the
    unmaterialized plan was a 2.66x regression). At cluster scale this
    is the standard LSH shape anyway: persist the signature/band table
    (it is ~n_bands rows per doc — tiny next to the corpus), then
    equi-join it with itself; AQE picks the join strategy and splits
    any residual skew.
    """
    bands = lsh_bands(
        minhash_signatures(docs, n, text_col, n_perm, hash), n_perm, n_bands, hash
    ).localCheckpoint(eager=True)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def neardup_clusters(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    iters: int = 4,
) -> DataFrame:
    """Near-dup CLUSTERS from the LSH candidate graph — the step that
    turns candidate pairs into dedup decisions: K fixed iterations of
    min-label propagation give every doc the smallest doc_id reachable
    within K hops; K >= cluster diameter ⇒ true connected components.
    K is FIXED (not run-to-fixpoint) so the result is deterministic and
    engine-portable — the DuckDB oracle unrolls the identical K
    iterations, so even a K < diameter corpus hash-matches.

    Returns (doc_id, cluster_id, is_keeper): keeper = the cluster's min
    doc_id — the row a dedup pipeline keeps; everything else drops.

    Scale shape: per iteration, one equi-join of the label table
    (|docs| rows, partitioned by doc_id) with the candidate edge list
    plus a min-aggregate — never N^2. r10 OPTIMIZATION (guide §2.4):
    the edge table carries a SELF-EDGE per doc, so the per-neighbor min
    already includes the doc's own label — ``min(lbl over nbrs+self) ==
    least(lbl, min over nbrs)`` — and the aggregate IS the new label
    frame: no join-back onto the previous labels, each iteration
    references the rolling frame exactly once, and the whole K-step
    trajectory runs as one lazy plan with no per-iteration
    localCheckpoint barrier.
    """
    edges = minhash_lsh_candidates(docs, n, text_col, n_perm, n_bands)
    # hash-partition AND sort the edge table by the per-iteration join
    # key ONCE before the checkpoint — localCheckpoint preserves the
    # physical layout, so each of the K label joins reuses it exchange-
    # and sort-free on the edge side (the big side); only the
    # node-sized label frame moves per iteration. Same device as
    # graph._edge_table.
    nbr = (
        edges.select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("nbr"))
        .union(edges.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("nbr")))
        .union(docs.select(F.col("doc_id"), F.col("doc_id").alias("nbr")))
        .repartition(
            int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions")),
            "nbr",
        )
        .sortWithinPartitions("nbr")
        .localCheckpoint(eager=True)
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("lbl"))
    for _ in range(iters):
        labels = (
            nbr.join(
                labels.select(F.col("doc_id").alias("nbr"), F.col("lbl").alias("nlbl")),
                "nbr",
            )
            .groupBy("doc_id")
            .agg(F.min("nlbl").alias("lbl"))
        )
    return labels.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        (F.col("doc_id") == F.col("lbl")).alias("is_keeper"),
    ).orderBy("doc_id")


# ---- SimHash --------------------------------------------------------


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word tokens.

    Each token hashes to 64 bits via xxhash64; per bit position the
    +1/-1 votes are summed and the sign forms the signature bit. Pure
    JVM: explode tokens -> explode bit positions (64x fanout) -> sum.
    Deterministic given Spark's fixed xxhash64 seed; NOT declared as a
    DuckDB oracle query (different hash) — tested by property instead.
    """
    docs = _spread(docs)
    tokens = F.array_distinct(F.split(F.col(text_col), " "))
    tok = docs.select("doc_id", F.explode(tokens).alias("token")).where(
        F.col("token") != ""
    )
    h = tok.select("doc_id", F.xxhash64("token").alias("h64"))
    bits = h.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
        F.col("h64"),
    ).select(
        "doc_id",
        "bit",
        # shiftright with a column bit count needs the SQL form
        F.when(F.expr("(h64 >> bit) & 1") == 1, 1).otherwise(-1).alias("vote"),
    )
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


# ---- exact-substring dedup -----------------------------------------


def substring_dup_spans(
    docs: DataFrame, window: int = 8, text_col: str = "text"
) -> DataFrame:
    """Exact-substring duplication spans: token regions of ``window`` or
    more consecutive tokens that also appear in an earlier document
    (min doc_id keeps its copy) — the long-shared-span dedup family
    used on large web corpora (suffix-array dedup's semantics, bucketed
    for Spark).

    Shape: every length-``window`` token window is hashed (md5 over the
    space-joined tokens — 128 bits, cross-engine deterministic);
    windows sharing a hash are grouped by ONE shuffle on the hash
    (uniform md5 keys — no skew, no self-join, never all-pairs); an
    occurrence in a doc newer than the group's min doc_id is
    duplicated. Per doc, overlapping/adjacent duplicated windows merge
    into maximal spans (gaps-and-islands over a window function).
    Returns (doc_id, span_start, span_end, n_tokens), 1-based inclusive
    token positions, for drop/trim decisions downstream.

    At 100 TB: the window table is ~one row per corpus token — big but
    embarrassingly shuffle-friendly (two hash exchanges: by window
    hash, then by doc_id; both uniform). Raising ``window`` or striding
    the candidate side trades recall for volume; stride 1 is exact.
    Same-doc internal repetition is NOT flagged (both occurrences carry
    one doc_id) — that is ns_repetition_ratio's job.
    """
    docs = _spread(docs)
    w = window
    words = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.size(words) - (w - 1))
    # (r10 optimization note: hashing all windows as one per-doc array
    # — transform over the position sequence, then posexplode — was
    # A/B'd and REJECTED on measurement: 0.93x at sf0.1. The md5 inside
    # a HOF lambda evaluates interpreted; this explode+project shape
    # keeps the md5 in codegen, and the generator's carried token array
    # is consumed within the same codegen stage.)
    wins = (
        docs.where(F.size(words) >= w)
        .select(
            "doc_id",
            F.explode(idx).alias("i"),
            words.alias("_w"),
        )
        .select(
            "doc_id",
            "i",
            # r10: the hash is shuffle-key-only (dropped after the
            # min-filter), so exchange the 16-byte binary digest, not
            # the 32-char hex string — same grouping (hex<->bytes is a
            # bijection), half the key bytes in the largest exchange
            F.unhex(F.md5(F.array_join(F.slice(F.col("_w"), F.col("i"), w), " "))).alias(
                "h"
            ),
        )
    )
    from pyspark.sql import Window

    keep = Window.partitionBy("h")
    # no .distinct() here: wins has exactly one row per (doc_id, i) by
    # construction (one hash per window position), and the min-filter
    # only drops rows — a distinct would re-shuffle the largest
    # intermediate for nothing (plan audit: it cost a full extra
    # exchange between the h-window and the per-doc window)
    dup = (
        wins.withColumn("keep_doc", F.min("doc_id").over(keep))
        .where(F.col("doc_id") > F.col("keep_doc"))
        .select("doc_id", "i")
    )
    by_pos = Window.partitionBy("doc_id").orderBy("i")
    prev_cover = (
        F.max(F.col("i") + (w - 1))
        .over(by_pos.rowsBetween(Window.unboundedPreceding, -1))
    )
    islands = (
        dup.withColumn(
            "new_island",
            F.when(
                prev_cover.isNull() | (F.col("i") > prev_cover + 1), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(by_pos))
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("i").alias("span_start"),
            F.max(F.col("i") + (w - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
        )
        .orderBy("doc_id", "span_start")
    )


# ---- exact set-similarity join (prefix filtering) --------------------


def setsim_join_prefix(
    docs: DataFrame,
    n: int = 3,
    t_num: int = 1,
    t_den: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """ALL pairs with shingle-Jaccard >= t (t = t_num/t_den, an exact
    rational) via prefix filtering (Chaudhuri et al. 2006; Xiao et al.
    2008, PPJoin) — the EXACT, complete counterpart to MinHash-LSH:
    no probabilistic recall, no quadratic self-join.

    The theorem: order each doc's shingle set by one global total
    order and keep only its first |x| - ceil(t*|x|) + 1 shingles (the
    prefix); any pair with J >= t MUST share a prefix shingle, so the
    candidate join runs over prefix postings only. Ordering rare-first
    (global document frequency ascending, shingle lexicographic
    tiebreak) makes prefixes prefer RARE shingles — candidate groups
    stay small precisely because frequent shingles are pushed out of
    prefixes; this is also what kills join skew. ceil is exact integer
    arithmetic: (size * t_num + t_den - 1) div t_den.

    Verification joins candidates back to the full shingle sets and
    filters on exact Jaccard (integer cross-multiplied: t_den *
    n_common >= t_num * (na + nb - n_common) — no float threshold).
    Output: (doc_a, doc_b, n_common, jaccard), identical semantics to
    :func:`ngram_jaccard_pairs` but over the whole corpus.

    100 TB shape: one distinct-shingle table feeds the df counts, the
    per-doc prefix window (partitioned BY DOC — parallel bounded
    sorts), and the verify join; the candidate equi-join shuffles
    prefix postings (a fraction ~(1-t) of the shingle table) on
    rare-skewed keys. Exactness is the point — run it where LSH recall
    is not acceptable (legal/dedup-audit pipelines), LSH where it is.
    """
    from pyspark.sql.window import Window

    sh = word_shingles(docs, n, text_col).localCheckpoint(eager=True)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = sh.join(dfreq, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "shingle"))
        .alias("pos"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("sz"),
    )
    prefix = ranked.where(
        F.col("pos")
        <= F.col("sz")
        - F.expr(f"CAST((sz * {t_num} + {t_den} - 1) div {t_den} AS BIGINT)")
        + 1
    ).select("doc_id", "shingle")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # verify: expand each candidate pair by doc_a's shingles, then
    # equi-join the b side on (doc_b, shingle) — only COMMON shingles
    # survive; never a per-pair shingle cartesian
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(
            F.lit(t_den) * F.col("n_common")
            >= F.lit(t_num) * (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common"))
        )
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---- cross-corpus Bloom dedup / decontamination ---------------------


def bloom_cross_dedup(
    ref_docs: DataFrame,
    cand_docs: DataFrame,
    window: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Flag candidate documents sharing any ``window``-token shingle
    with a REFERENCE corpus (eval benchmarks, an already-kept corpus)
    via a Bloom filter — the cross-DATASET twin of `exact_dup_groups`
    and the scale path for decontamination: the reference corpus is
    reduced to a bit-set sketch once, and probing never joins the two
    corpora.

    Bloom construction is engine-portable: each reference shingle sets
    K=3 positions given by three disjoint 16-bit slices of its md5 hex
    (m = 2^16 bits) — no seeds, no library hash. A candidate shingle
    "hits" iff all three of its positions are set. Returns per
    candidate doc: (doc_id, n_shingles, n_bloom_hits, n_exact_hits,
    contaminated) where contaminated = any exact hit; n_bloom_hits >=
    n_exact_hits ALWAYS (no false negatives — the Bloom guarantee,
    property-pinned in tests), the gap being the measured FP count.

    100 TB shape: the bit table is at most m rows (here 65,536) no
    matter how large the reference corpus is — build is one map-side-
    combinable distinct over reference shingles, probe is a broadcast
    semi-join per slice against the candidate shingle stream. The
    n_exact_hits column (a real semi-join on the 128-bit hash) is the
    verification stage a production pipeline runs ONLY on the
    bloom-positive survivors; here it runs on everything so the FP gap
    is itself attested. For reference sets past ~10^9 shingles, raise m
    and pack the bit-set into per-range binary bitmaps (groupBy(range)
    + bit_or) before broadcast — the probe side is unchanged.
    """
    w = window

    def shingle_hashes(docs: DataFrame) -> DataFrame:
        words = F.split(F.col(text_col), " ")
        idx = F.sequence(F.lit(1), F.size(words) - (w - 1))
        return (
            docs.where(F.size(words) >= w)
            .select(
                "doc_id",
                F.explode(idx).alias("i"),
                words.alias("_w"),
            )
            .select(
                "doc_id",
                F.md5(F.array_join(F.slice(F.col("_w"), F.col("i"), w), " ")).alias("h"),
            )
        )

    def pos(col, k: int):
        # 16-bit slice k of the md5 hex: chars [1+4k, 4+4k]
        return F.conv(F.substring(col, 1 + 4 * k, 4), 16, 10).cast("long")

    ref = shingle_hashes(ref_docs).select("h").distinct()
    bits = (
        ref.select(F.explode(F.array(*[pos(F.col("h"), k) for k in range(3)])).alias("bit"))
        .distinct()
    )
    cand = shingle_hashes(cand_docs)
    probe = cand
    for k in range(3):
        hit = bits.select(F.col("bit").alias(f"_p{k}")).withColumn(f"_hit{k}", F.lit(1))
        probe = probe.withColumn(f"_p{k}", pos(F.col("h"), k)).join(
            F.broadcast(hit), f"_p{k}", "left"
        )
    bloom_hit = (
        F.coalesce(F.col("_hit0"), F.lit(0))
        * F.coalesce(F.col("_hit1"), F.lit(0))
        * F.coalesce(F.col("_hit2"), F.lit(0))
    )
    exact = ref.select(F.col("h").alias("_eh")).withColumn("_ex", F.lit(1))
    probed = probe.withColumn("bloom_hit", bloom_hit).join(
        F.broadcast(exact), F.col("h") == F.col("_eh"), "left"
    )
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum("bloom_hit").cast("long").alias("n_bloom_hits"),
            F.sum(F.coalesce(F.col("_ex"), F.lit(0))).cast("long").alias("n_exact_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_exact_hits") > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---- connected components at scale (alternating star) ----------------


def connected_components_star(
    edges: DataFrame, nodes: DataFrame, max_rounds: int = 24
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contractions (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond", SoCC) — the O(log n)-round scale path next
    to `neardup_clusters`' fixed-K label propagation (which needs K >=
    cluster DIAMETER: a 10^6-doc near-dup chain at 100 TB would need
    10^6 joins; star contraction needs ~log2 of that).

    ``edges``: (doc_a, doc_b) undirected; ``nodes``: (doc_id) — every
    node, including isolated ones. Runs to an EXACT fixpoint (the
    per-round convergence probe is one count aggregate — a scalar per
    round, the standard iterative-algorithm driver loop), so the result
    is execution-independent: (doc_id, cluster_id) with cluster_id =
    the component's min doc_id, engine-portable and oracle-checkable
    against a recursive-CTE ground truth.

    Scale shape per round: two groupBy-min + equi-join passes over the
    current edge set (which only SHRINKS toward one edge per non-root
    node); lineage cut per round via localCheckpoint. Raises after
    ``max_rounds`` (paper bound: O(log^2 n) worst case, ~log n
    observed) rather than returning a silently unconverged labeling.
    """
    e = (
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(cur: DataFrame) -> DataFrame:
        und = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            und.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
        )
        return (
            und.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        # orient so u >= v, group by the larger endpoint
        d = cur.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = d.groupBy("u").agg(F.min("v").alias("m"))
        linked = (
            d.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_edge = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            linked.union(self_edge)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_sig = None
    for _ in range(max_rounds):
        e = small_star(large_star(e)).localCheckpoint(eager=True)
        sig = e.agg(
            F.count("*").alias("n"),
            # bit_xor is commutative/associative and cannot overflow —
            # a set signature that is safe at any row count (ANSI sum
            # of 64-bit hashes would overflow long)
            F.expr("bit_xor(xxhash64(u, v))").alias("s"),
        ).first()
        cur_sig = (sig["n"], sig["s"])
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint in {max_rounds} rounds"
        )
    # at the fixpoint every edge is (node, component_min)
    labels = e.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return (
        nodes.select("doc_id")
        .join(labels.select(F.col("u").alias("doc_id"), "cluster_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.least(
                F.coalesce(F.col("cluster_id"), F.col("doc_id")), F.col("doc_id")
            ).alias("cluster_id"),
        )
    )


def neardup_components(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """TRUE connected components of the LSH candidate graph via
    :func:`connected_components_star` — same decision surface as
    `neardup_clusters` but exact for ANY cluster diameter at O(log n)
    rounds. Returns (doc_id, cluster_id, is_keeper)."""
    edges = minhash_lsh_candidates(docs, n, text_col, n_perm, n_bands)
    cc = connected_components_star(edges, docs.select("doc_id"))
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    ).orderBy("doc_id")


def neardup_canonical(
    docs: DataFrame,
    quality: DataFrame,
    n: int = 3,
    text_col: str = "text",
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    iters: int = 4,
) -> DataFrame:
    """The production keeper rule on top of :func:`neardup_clusters`:
    within each near-dup cluster keep the HIGHEST-quality document
    (tiebreak min doc_id), not the smallest id — dropping a cluster's
    best-written copy because a worse one has a lower id is exactly the
    mistake a real pipeline avoids (FineWeb-style quality-aware dedup).

    ``quality`` is any (doc_id, quality) table with deterministic
    scores (text.quality_score, text.gopher_quality-derived, an LM
    tercile — anything reproducible). Returns (doc_id, cluster_id,
    quality, is_canonical).

    Scale shape: inherits neardup_clusters' per-iteration equi-join
    bound; the keeper choice adds one window partitioned BY CLUSTER —
    distributed across clusters, each partition the size of one
    cluster (LSH-bounded), never a global sort. r11 (VERDICT-r10 #6,
    the struct-argmax device): the keeper is ``max(struct(quality,
    -doc_id))`` over the UNORDERED cluster window — identical to the
    old ``row_number() = 1`` under (quality DESC, doc_id) because
    (quality, -doc_id) is unique per row — the exchange survives but
    the partition sort narrows from three keys to cluster_id alone and
    the running row_number becomes one unbounded max.
    """
    from pyspark.sql.window import Window

    clusters = neardup_clusters(
        docs, n, text_col, n_perm, n_bands, iters
    ).select("doc_id", "cluster_id")
    j = clusters.join(quality.select("doc_id", "quality"), "doc_id")
    w = Window.partitionBy("cluster_id")
    return (
        j.withColumn(
            "_best",
            F.max(
                F.struct(
                    F.col("quality").alias("q"), (-F.col("doc_id")).alias("nd")
                )
            ).over(w),
        )
        .select(
            "doc_id",
            "cluster_id",
            "quality",
            (
                (F.col("quality") == F.col("_best.q"))
                & (F.col("doc_id") == -F.col("_best.nd"))
            ).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


def minhash_cross_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    threshold_milli: int = 500,
) -> DataFrame:
    """NEAR-duplicate cross-corpus decontamination: flag every TRAIN
    document whose MinHash signature collides with an EVAL document in
    any LSH band and whose signature-agreement fraction (the unbiased
    Jaccard estimate) reaches ``threshold_milli``/1000.

    The near-dup counterpart to :func:`bloom_cross_dedup` (exact
    hashes) and :func:`ngram_decontamination`-style n-gram overlap in
    ``operators/text.py`` — this is the GPT-3-style fuzzy
    decontamination stage (arXiv:2005.14165 Appendix C flags 13-gram
    collisions; MinHash banding is the scalable generalization).

    Scale shape: the eval benchmark is always tiny next to the train
    corpus (1e4-1e6 vs 1e9+ docs), so BOTH eval-side tables — band
    buckets and signatures — are broadcast; the train corpus is
    touched by exactly one shingle->signature pass (map-side min
    combine), one broadcast band probe, and one broadcast verify. No
    shuffle is eval x train sized, no pair list is materialized beyond
    the band collisions. Verification compares the 8 stored minhashes
    (a pure column expression) — the shingle sets are never re-joined.

    The decision is a COLUMN over every train doc (the robots.py
    rule): output (doc_id, contaminated, n_eval_candidates, best_eval_id,
    best_agree_milli), with -1 sentinels for match-free docs so the
    frame stays exact-integer and hashable. ``n_eval_candidates``
    counts PRE-verification band collisions (every eval doc sharing an
    LSH bucket, including pairs whose agreement falls below
    ``threshold_milli``) — the candidate funnel width, NOT a verified
    match count; ``contaminated``/``best_agree_milli`` carry the
    verified decision.
    """
    tsig = minhash_signatures(
        train, n, text_col, n_perm
    ).localCheckpoint(eager=True)
    esig = minhash_signatures(
        eval_docs, n, text_col, n_perm
    ).localCheckpoint(eager=True)
    tb = lsh_bands(tsig, n_perm, n_bands).select(
        F.col("doc_id").alias("train_id"), "band", "bsig"
    )
    eb = lsh_bands(esig, n_perm, n_bands).select(
        F.col("doc_id").alias("eval_id"), "band", "bsig"
    )
    cand = (
        tb.join(F.broadcast(eb), ["band", "bsig"])
        .select("train_id", "eval_id")
        .distinct()
    )
    ts = tsig.select(
        F.col("doc_id").alias("train_id"),
        *[F.col(f"h{p}").alias(f"t_h{p}") for p in range(n_perm)],
    )
    es = esig.select(
        F.col("doc_id").alias("eval_id"),
        *[F.col(f"h{p}").alias(f"e_h{p}") for p in range(n_perm)],
    )
    agree = sum(
        (F.col(f"t_h{p}") == F.col(f"e_h{p}")).cast("int")
        for p in range(n_perm)
    )
    scored = (
        cand.join(ts, "train_id")
        .join(F.broadcast(es), "eval_id")
        .select(
            "train_id",
            "eval_id",
            F.floor(agree * 1000 / F.lit(n_perm)).cast("long").alias(
                "agree_milli"
            ),
        )
    )
    # best match + candidate count as ONE map-side-combinable aggregate
    # (r10 wave 2, guide §2.4): max(struct(agree, -eval_id)) picks the
    # highest agreement with the smallest-eval-id tie-break — identical
    # to the old row_number window without its partition-wide sort.
    best = (
        scored.groupBy("train_id")
        .agg(
            F.max(
                F.struct(
                    F.col("agree_milli").alias("a"),
                    (-F.col("eval_id")).alias("g"),
                )
            ).alias("b"),
            F.count(F.lit(1)).cast("long").alias("n_eval_candidates"),
        )
        .select(
            "train_id",
            (-F.col("b.g")).alias("eval_id"),
            F.col("b.a").alias("agree_milli"),
            "n_eval_candidates",
        )
    )
    return (
        train.select(F.col("doc_id"))
        .join(best, train["doc_id"] == best["train_id"], "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("agree_milli") >= F.lit(int(threshold_milli)),
                F.lit(False),
            ).alias("contaminated"),
            F.coalesce(F.col("n_eval_candidates"), F.lit(0))
            .cast("long")
            .alias("n_eval_candidates"),
            F.coalesce(F.col("eval_id"), F.lit(-1))
            .cast("long")
            .alias("best_eval_id"),
            F.coalesce(F.col("agree_milli"), F.lit(-1))
            .cast("long")
            .alias("best_agree_milli"),
        )
    )
