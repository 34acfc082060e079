"""North-star query catalog: dedup, similarity search, text analysis,
multimodal — the training-data-pipeline operators (BASELINE.json
`north_star`), bound to DuckDB oracles wherever SQL-expressible.

Spark implementations live in ``flumedb_spark.operators``; this module
binds them to the driver contract. Oracles mirror the operators'
deterministic hashing (md5) and exact-integer arithmetic, so value
hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query, shared_sql
from .operators import bpe as bpe_mod
from .operators import html as _html_mod
from .operators import (
    audiodedup,
    conversations,
    dedup,
    docx,
    eml,
    epub,
    imagededup,
    markup,
    multimodal,
    odt,
    pdf,
    pptx,
    preference,
    rtf,
    similarity,
    text,
    tiffcodec,
    videodedup,
    xlsx,
)

# ---------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------


@query(
    "ns_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY keep_doc_id
    """,
)
def ns_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(spark.table("documents"))


_SHINGLES_DUCK = """
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(words[gs.i:gs.i+2], ' ') AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents {where}) w,
      LATERAL (SELECT unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i) gs
    )
"""


@query(
    "ns_ngram_jaccard_pairs",
    oracle=(
        "WITH "
        + _SHINGLES_DUCK.format(where="WHERE doc_id < 120")
        + """,
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
      round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    ORDER BY doc_a, doc_b
    """
    ),
)
def ns_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = spark.table("documents").where(F.col("doc_id") < 120)
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2)


_MINHASH_CTES = (
    "WITH "
    + _SHINGLES_DUCK.format(where="")
    + """,
    sig AS (
      SELECT doc_id,
        min(md5(concat('0|', shingle))) AS h0,
        min(md5(concat('1|', shingle))) AS h1,
        min(md5(concat('2|', shingle))) AS h2,
        min(md5(concat('3|', shingle))) AS h3,
        min(md5(concat('4|', shingle))) AS h4,
        min(md5(concat('5|', shingle))) AS h5,
        min(md5(concat('6|', shingle))) AS h6,
        min(md5(concat('7|', shingle))) AS h7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, u.band, u.bsig FROM sig, LATERAL (
        SELECT unnest([0, 1, 2, 3]) AS band,
               unnest([md5(concat(h0, h1)), md5(concat(h2, h3)),
                       md5(concat(h4, h5)), md5(concat(h6, h7))]) AS bsig
      ) u
    )"""
)

_MINHASH_CAND_SELECT = """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
"""


@query(
    "ns_minhash_lsh_candidates",
    oracle=_MINHASH_CTES + _MINHASH_CAND_SELECT + " ORDER BY doc_a, doc_b",
)
def ns_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(spark.table("documents"))


def _cluster_oracle(iters: int = 4, tail: str | None = None) -> str:
    """K unrolled min-label-propagation iterations over the LSH
    candidate graph — the identical fixed-K computation the Spark
    operator (operators/dedup.py neardup_clusters) performs, so labels
    hash-match even if K < some cluster's diameter. ``tail`` overrides
    the final SELECT ({last} = the last label CTE's name)."""
    sql = (
        _MINHASH_CTES
        + ", edges AS ("
        + _MINHASH_CAND_SELECT
        + """),
    nbr AS (
      SELECT doc_a AS doc_id, doc_b AS nbr FROM edges
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS nbr FROM edges
    ),
    l0 AS (SELECT doc_id, doc_id AS lbl FROM documents)"""
    )
    for i in range(1, iters + 1):
        sql += f""",
    l{i} AS (
      SELECT p.doc_id, least(p.lbl, coalesce(min(q.lbl), p.lbl)) AS lbl
      FROM l{i-1} p
      LEFT JOIN nbr ON nbr.doc_id = p.doc_id
      LEFT JOIN l{i-1} q ON q.doc_id = nbr.nbr
      GROUP BY p.doc_id, p.lbl
    )"""
    sql += (
        tail.format(last=f"l{iters}")
        if tail is not None
        else f"""
    SELECT doc_id, lbl AS cluster_id, doc_id = lbl AS is_keeper
    FROM l{iters} ORDER BY doc_id
    """
    )
    return sql


@query("ns_neardup_clusters", oracle=_cluster_oracle(4))
def ns_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs -> dedup DECISIONS: connected components of the
    LSH candidate graph via 4 fixed min-label iterations; keeper = the
    cluster's min doc_id."""
    return dedup.neardup_clusters(spark.table("documents"), iters=4)


# (The rows-only ns_simhash64 catalog entry was retired in r9: the
# xxhash64 fast path stays a library function — dedup.simhash64,
# pytest-covered in tests/test_operators.py — and the oracle-checked
# ns_simhash_md5 twin below pins the same bit-vote machinery, so the
# catalog carries no unverifiable rows. VERDICT-r8 #3.)


@query("ns_image_dhash", oracle=imagededup.dhash_bands_oracle_sql())
def ns_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual hash stage (NEW r9, VERDICT-r8 #2): per-doc REAL BMP
    synthesis (md5-derived pixels, operators/imagededup.py) -> real
    decode -> integer luma -> floor-NN 9x8 downsample -> 64 dHash
    difference bits as four 16-bit row-pair bands. The oracle replays
    pixel -> bit -> band arithmetically, so a resample or bit-order
    bug breaks the hash match."""
    payloads = imagededup.with_synthetic_neardup_payload(
        spark.table("documents")
    )
    return imagededup.image_dhash_bands(payloads).orderBy("doc_id")


@query("ns_image_neardup", oracle=imagededup.neardup_oracle_sql())
def ns_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate pipeline (NEW r9, VERDICT-r8 #2): dHash
    signatures -> Hamming-band LSH candidate join (equi-join on 16-bit
    bands, never all-pairs) -> exact bit_count(xor) verify at Hamming
    <= 8. Groups of 4 synthetic variants (one perturbed sampled cell
    each) must surface as pairs at Hamming <= 4; unrelated md5-random
    groups sit ~32 bits apart. The DuckDB oracle replays the full
    chain including the band join and the verify filter."""
    payloads = imagededup.with_synthetic_neardup_payload(
        spark.table("documents")
    )
    return imagededup.image_neardup_candidates(payloads)


@query(
    "ns_image_neardup_recall",
    oracle=f"""
    WITH {imagededup._bands_cte("documents")},
    exact AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      FROM sig sa JOIN sig sb ON sa.doc_id < sb.doc_id
      WHERE bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
          + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
          <= 8
    ),
    lsh AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT
      (SELECT count(*) FROM exact) AS n_exact_pairs,
      (SELECT count(*) FROM exact e JOIN lsh l
         ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b) AS n_found_pairs,
      (SELECT count(*) FROM exact e LEFT JOIN lsh l
         ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
       WHERE l.doc_a IS NULL) AS n_missed_pairs,
      CAST((SELECT count(*) FROM exact e JOIN lsh l
         ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b) * 1000000
        // greatest((SELECT count(*) FROM exact), 1) AS BIGINT)
        AS recall_ppm
    """,
)
def ns_image_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the Hamming-band LSH (NEW r10, VERDICT-r9 #7):
    exact ground truth = ALL signature pairs at Hamming <= 8 (a
    deliberate brute-force twin over the kilobyte signature table —
    the ns_similarity_topk_np device, bounded and never the scale
    path), compared against the band-join candidate set. One row of
    exact integers: a band-count or threshold change that loses a
    planted pair shows up as n_missed_pairs > 0 / recall_ppm <
    1000000 and breaks the hash match."""
    from pyspark.sql import functions as F

    payloads = imagededup.with_synthetic_neardup_payload(
        spark.table("documents")
    )
    sig = imagededup.image_dhash_bands(payloads).localCheckpoint(eager=True)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{k}").alias(f"a{k}") for k in range(imagededup.N_BANDS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{k}").alias(f"b_{k}") for k in range(imagededup.N_BANDS)],
    )
    ham = F.expr(
        " + ".join(
            f"bit_count(a{k} ^ b_{k})" for k in range(imagededup.N_BANDS)
        )
    )
    exact = (
        sa.join(sb, F.col("doc_a") < F.col("doc_b"))
        .where(ham <= 8)
        .select("doc_a", "doc_b")
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("band"), F.col(f"b{k}").alias("bval")
                )
                for k in range(imagededup.N_BANDS)
            ])
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bval")
    lsh = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    found = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    missed = exact.join(lsh, ["doc_a", "doc_b"], "left_anti")
    n_exact = exact.count()
    n_found = found.count()
    n_missed = missed.count()
    return spark.createDataFrame(
        [(n_exact, n_found, n_missed,
          n_found * 1000000 // max(n_exact, 1))],
        "n_exact_pairs long, n_found_pairs long, n_missed_pairs long, "
        "recall_ppm long",
    )


@query("ns_video_keyframe_sig", oracle=videodedup.video_signatures_oracle_sql())
def ns_video_keyframe_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-keyframe perceptual hash stage (NEW r10, VERDICT-r9 #2):
    per-doc REAL 3-frame MJPEG-AVI synthesis (block-constant md5
    frames whose lossy JPEG round-trip is exactly the identity,
    operators/videodedup.py) -> real RIFF+T.81 decode -> per-frame
    dHash bands. The oracle replays block value -> bit -> band
    arithmetically, so a demux, decode, resample, or bit-order bug
    breaks the hash match."""
    payloads = videodedup.with_synthetic_neardup_video_payload(
        spark.table("documents")
    )
    return videodedup.video_keyframe_signatures(payloads).orderBy(
        "doc_id", "frame_idx"
    )


@query("ns_video_neardup", oracle=videodedup.video_neardup_oracle_sql())
def ns_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-duplicate pipeline (NEW r10, VERDICT-r9 #2): keyframe
    dHash signatures -> Hamming-band LSH candidate FRAME pairs (equi-
    join, never all-pairs) -> exact bit_count(xor) verify -> temporal-
    offset histogram: the best (frame_b - frame_a) offset must align
    >= 2 keyframes. Groups of 4 synthetic clips: variants 1-2 perturb
    one block of one frame (align 3 frames at offset 0), variant 3 is
    the clip shifted one frame (aligns 2 at offset -1). The DuckDB
    oracle replays the full chain including the offset histogram."""
    payloads = videodedup.with_synthetic_neardup_video_payload(
        spark.table("documents")
    )
    return videodedup.video_neardup_candidates(payloads)


@query("ns_audio_fingerprint", oracle=audiodedup.audio_fingerprint_oracle_sql())
def ns_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint stage (NEW r10, VERDICT-r9 #3): per-doc REAL
    RIFF/WAVE PCM synthesis (md5-derived samples,
    operators/audiodedup.py) -> real WAV decode -> integer sub-block
    energies -> Haitsma-Kalker-style energy-delta bits as four 16-bit
    bands. The oracle replays sample -> energy -> bit -> band
    arithmetically."""
    payloads = audiodedup.with_synthetic_neardup_audio_payload(
        spark.table("documents")
    )
    return audiodedup.audio_fingerprint_bands(payloads).orderBy("doc_id")


@query("ns_audio_neardup", oracle=audiodedup.audio_neardup_oracle_sql())
def ns_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-duplicate pipeline (NEW r10, VERDICT-r9 #3 — closes
    the last multimodal dedup gap): energy-delta fingerprints ->
    Hamming-band LSH candidates -> exact bit_count(xor) verify at
    Hamming <= 8. Groups of 4 synthetic clips (one 8-sample sub-block
    replaced each) surface as pairs at Hamming <= 4; unrelated
    md5-random groups sit ~32 bits apart. The DuckDB oracle replays
    the full chain."""
    payloads = audiodedup.with_synthetic_neardup_audio_payload(
        spark.table("documents")
    )
    return audiodedup.audio_neardup_candidates(payloads)


@query(
    "ns_video_image_match",
    oracle=videodedup.video_image_matches_oracle_sql(),
)
def ns_video_image_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL containment search (NEW r10): which videos contain
    which known still images. A registry of real BMP stills (the
    unperturbed content frames) probes the video keyframe signature
    table via a band equi-join — both modalities hash through the same
    dHash kernel, so the probe is signature-table-to-signature-table,
    never a re-decode of either corpus. Exact bit_count(xor) verify at
    Hamming <= 8. Image d%4=3 stills must match ONLY the shifted
    variant-3 clips at their final keyframe — the oracle replays both
    modalities' chains closed-form."""
    videos = videodedup.with_synthetic_neardup_video_payload(
        spark.table("documents")
    )
    images = videodedup.with_synthetic_frame_image_payload(
        spark.table("documents")
    )
    return videodedup.video_image_matches(videos, images)


@query("ns_pptx_text", oracle=pptx.pptx_text_oracle_sql())
def ns_pptx_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPTX text extraction (NEW r10 — completes the office quartet
    beside PDF, DOCX, and XLSX): worker-side synthesis of REAL minimal
    .pptx decks (OPC zip + PresentationML slides with DrawingML runs,
    operators/pptx.py; slide parts deliberately zip-stored in REVERSE
    so deck order must come from sldIdLst), then the real parse back
    out — presentation.xml slide list -> rels -> per-slide shape walk
    concatenating a:t runs. Slide s of doc d carries chars [50s,
    50s+25) as its title shape and [50s+25, 50s+50) as its body, so
    the oracle replays extraction as substr arithmetic."""
    payloads = pptx.with_synthetic_pptx_payload(spark.table("documents"))
    return pptx.pptx_slide_texts(payloads).orderBy(
        "doc_id", "slide_idx", "shape_idx"
    )


@query("ns_odt_text", oracle=odt.odt_text_oracle_sql())
def ns_odt_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODT text extraction (NEW r10 — the OpenDocument/ISO 26300 leg
    beside the ECMA-376 quartet): worker-side synthesis of REAL
    minimal .odt packages (spec-mandated stored-first mimetype member,
    manifest, namespaced content.xml; operators/odt.py), then the real
    parse back out — office:text paragraph walk flattening nested
    spans and applying the ODF whitespace model (text:tab/line-break/
    text:s). Paragraph p of doc d carries chars [45p, 45p+45), so the
    oracle replays extraction as substr arithmetic."""
    payloads = odt.with_synthetic_odt_payload(spark.table("documents"))
    return odt.odt_text_paragraphs(payloads).orderBy("doc_id", "para_idx")


@query("ns_epub_text", oracle=epub.epub_text_oracle_sql())
def ns_epub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB text extraction (NEW r10 — the e-book/OCF leg of the
    ingest stack): worker-side synthesis of REAL minimal .epub books
    (stored-first mimetype, container.xml, OPF manifest + spine, XHTML
    chapters zip-stored in REVERSE so reading order must come from the
    spine; operators/epub.py), then the real parse back out —
    container -> rootfile -> manifest resolution -> spine-ordered
    chapter body texts with script/style dropped and the
    entity-subset DTD vector rejected. Chapter c of doc d carries
    chars [55c, 55c+55), so the oracle replays extraction as substr
    arithmetic."""
    payloads = epub.with_synthetic_epub_payload(spark.table("documents"))
    return epub.epub_chapter_texts(payloads).orderBy("doc_id", "chapter_idx")


@query("ns_audio_clip_search", oracle=audiodedup.clip_search_oracle_sql())
def ns_audio_clip_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-in-track audio search (NEW r10 — the Shazam-style lookup):
    long tracks are indexed ONCE as hop-aligned windowed fingerprints
    (per-frame energies computed once, windows pack transition-bit
    slices); query clips probe the index via the band equi-join and
    exact-Hamming verify. Synthetic clips excerpt their track at
    offsets {0, 8, 4}: the hop-aligned offsets must surface at the
    right window_start (re-encode noise tolerated at Hamming <= 2),
    the off-grid offset 4 must surface NOWHERE — the oracle replays
    the full chain including the window packing, so hop or offset
    arithmetic bugs break the hash."""
    tracks = audiodedup.with_synthetic_track_payload(spark.table("documents"))
    clips = audiodedup.with_synthetic_clip_payload(spark.table("documents"))
    return audiodedup.audio_clip_search(tracks, clips)


@query("ns_xlsx_cells", oracle=xlsx.xlsx_cells_oracle_sql())
def ns_xlsx_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX cell extraction (NEW r10, VERDICT-r9 #4 — completes the
    office-document ingest family beside PDF and DOCX): worker-side
    synthesis of REAL minimal .xlsx workbooks (OPC zip + SpreadsheetML
    with sharedStrings, operators/xlsx.py), then the real parse back
    out — workbook sheet list -> rels -> sheetData cell walk resolving
    shared strings, booleans, and cached formula values, decoding A1
    references to (row, col). String cell r of doc d carries chars
    [30r, 30r+30) of the document text, so the oracle replays
    extraction as substr + doc_id arithmetic."""
    payloads = xlsx.with_synthetic_xlsx_payload(spark.table("documents"))
    return xlsx.xlsx_cells(payloads).orderBy("doc_id", "row_num", "col_num")


# ---------------------------------------------------------------------
# text analysis family
# ---------------------------------------------------------------------


@query(
    "ns_text_stats",
    oracle="""
    SELECT doc_id,
      length(text) AS n_chars_measured,
      CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
      CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
      round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / (length(text) - length(replace(text, ' ', '')) + 1), 6) AS avg_token_len
    FROM documents ORDER BY doc_id
    """,
)
def ns_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(spark.table("documents")).orderBy("doc_id")


@query(
    "ns_text_quality",
    oracle="""
    SELECT doc_id,
      round(
        least(1.0, CAST(n_tok AS DOUBLE) / 60.0) * 0.4
        + least(1.0, CAST(n_chr AS DOUBLE) / 400.0) * 0.4
        + CASE WHEN CAST(n_alpha AS DOUBLE) / n_tok >= 3.0
                AND CAST(n_alpha AS DOUBLE) / n_tok <= 8.0
               THEN 0.2 ELSE 0.0 END,
        6) AS quality
    FROM (
      SELECT doc_id, length(text) AS n_chr,
        length(text) - length(replace(text, ' ', '')) + 1 AS n_tok,
        length(replace(text, ' ', '')) AS n_alpha
      FROM documents
    ) ORDER BY doc_id
    """,
)
def ns_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(spark.table("documents")).orderBy("doc_id")


def _lang_id_oracle() -> str:
    langs = sorted(text.LANG_MARKERS)
    score_exprs = []
    for lang in langs:
        parts = []
        for w in text.LANG_MARKERS[lang]:
            pat = f" {w} "
            parts.append(
                f"(length(pt) - length(replace(pt, '{pat}', ''))) / {len(pat)}"
            )
        score_exprs.append(f"({' + '.join(parts)}) AS s_{lang}")
    cases = []
    for lang in langs:
        conds = []
        for other in langs:
            if other == lang:
                continue
            op = ">" if other < lang else ">="
            conds.append(f"s_{lang} {op} s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    score_cols = ", ".join(f"round(s_{lang}, 6) AS score_{lang}" for lang in langs)
    return f"""
    SELECT doc_id, {score_cols},
      CASE {' '.join(cases)} END AS pred_lang
    FROM (
      SELECT doc_id, {', '.join(score_exprs)}
      FROM (
        -- pad, then DOUBLE every space: adjacent marker words must not
        -- share a delimiter (mirrors operators/text.occurrences)
        SELECT doc_id, replace(concat(' ', text, ' '), ' ', '  ') AS pt
        FROM documents
      )
    ) ORDER BY doc_id
    """


@query("ns_lang_id", oracle=_lang_id_oracle())
def ns_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(spark.table("documents")).orderBy("doc_id")


@query(
    "ns_fingerprint",
    oracle="""
    SELECT doc_id, md5(trim(lower(text))) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def ns_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(spark.table("documents")).orderBy("doc_id")


# ---------------------------------------------------------------------
# similarity search family
# ---------------------------------------------------------------------

_FLAT_DUCK = """
    flat AS (
      SELECT vec_id,
        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS e,
        unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
    ),
    norms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS n2 FROM flat GROUP BY vec_id)
"""


@query(
    "ns_similarity_topk",
    oracle=(
        "WITH "
        + _FLAT_DUCK
        + """,
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        CAST(sum(a.e * b.e) AS BIGINT) AS dot_i
      FROM flat a JOIN flat b ON a.i = b.i AND b.vec_id != a.vec_id
      WHERE a.vec_id < 5
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST(dot_i AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_raw
      FROM dots
      JOIN norms na ON na.vec_id = query_id
      JOIN norms nb ON nb.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 10
    ORDER BY query_id, rank
    """
    ),
)
def ns_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(
        spark.table("embeddings"), query_ids=[0, 1, 2, 3, 4], k=10
    )


@query(
    "ns_similarity_topk_np",
    oracle=(
        "WITH "
        + _FLAT_DUCK
        + """,
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        CAST(sum(a.e * b.e) AS BIGINT) AS dot_i
      FROM flat a JOIN flat b ON a.i = b.i AND b.vec_id != a.vec_id
      WHERE a.vec_id < 5
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST(dot_i AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_raw
      FROM dots
      JOIN norms na ON na.vec_id = query_id
      JOIN norms nb ON nb.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 10
    ORDER BY query_id, rank
    """
    ),
)
def ns_similarity_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAS-path variant of ns_similarity_topk: one numpy matmul per
    Arrow batch (mapInPandas) instead of per-element JVM lambdas.
    ``exact_int=True`` applies the same round(x*1e6) quantization as the
    JVM int_dot path — integer-valued float64 matmuls are exact at d=64,
    so this entry hashes against the SAME DuckDB oracle as the JVM form
    (the float serving mode stays available via exact_int=False)."""
    return similarity.cosine_topk_np(
        spark.table("embeddings"), query_ids=[0, 1, 2, 3, 4], k=10, exact_int=True
    )


@query(
    "ns_embedding_neardup",
    oracle=(
        "WITH "
        + _FLAT_DUCK
        + """,
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, CAST(sum(a.e * b.e) AS BIGINT) AS dot_i
      FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT vec_a, vec_b, round(cos_raw, 6) AS cosine FROM (
      SELECT vec_a, vec_b,
        CAST(dot_i AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_raw
      FROM dots
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b
    ) WHERE cos_raw >= 0.9
    ORDER BY vec_a, vec_b
    """
    ),
)
def ns_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.near_dup_pairs(spark.table("embeddings"), threshold=0.9)


# (The rows-only ns_lsh_ann_topk catalog entry was retired in r9: the
# random-plane path stays a library function — similarity.lsh_ann_topk,
# pytest-covered — and the oracle-checked ns_lsh_ann_topk_md5 row runs
# the same similarity.lsh_buckets core with md5-parity planes.)


# ---------------------------------------------------------------------
# multimodal family
# ---------------------------------------------------------------------


@query(
    "ns_multimodal_meta",
    oracle="""
    SELECT doc_id,
      CAST(strlen(text) AS BIGINT) AS n_bytes,
      'fake/raw' AS format,
      CAST(strlen(text) % 640 AS INT) AS width,
      CAST((strlen(text) * 7) % 480 AS INT) AS height,
      true AS ok
    FROM documents ORDER BY doc_id
    """,
)
def ns_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> mapInPandas metadata extraction (decode stubbed
    deterministically; the Spark plumbing — BinaryType column, Arrow
    batches, typed output schema — is the real path)."""
    payloads = multimodal.with_binary_payload(spark.table("documents"))
    return multimodal.extract_metadata(payloads, use_fake=True).orderBy("doc_id")


# -- real decode: payloads are REAL format bytes (BMP / RIFF WAV) built
# worker-side from a deterministic doc_id formula (mmcodec.synth_*);
# Spark decodes them with the REAL pure-stdlib codecs and emits exact
# integers the oracle recomputes arithmetically — the hash match checks
# the decoder, not a fake (mmcodec.py; reference scope: multimodal
# north-star columns per BASELINE.json).


@query(
    "ns_image_decode_meta",
    oracle="""
    SELECT doc_id, 'bmp' AS format,
      CAST(16 + doc_id % 13 AS INT) AS width,
      CAST(8 + doc_id % 7 AS INT) AS height,
      CAST((SELECT sum((doc_id + 3*x.i + 5*y.j + 7*c.k) % 256)
         FROM generate_series(0, 27) x(i), generate_series(0, 13) y(j),
              generate_series(0, 2) c(k)
         WHERE x.i < 16 + doc_id % 13 AND y.j < 8 + doc_id % 7) AS BIGINT)
        AS pixel_sum
    FROM documents ORDER BY doc_id
    """,
)
def ns_image_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode via the pure-stdlib codec: worker-side encode of
    pixel(y,x,c) = (doc_id + 3x + 5y + 7c) % 256 into true 24-bit BMP
    bytes, then a real header+pixel parse back out of them."""
    payloads = multimodal.with_synthetic_image_payload(spark.table("documents"))
    return multimodal.image_decode_stats(payloads).orderBy("doc_id")


@query(
    "ns_image_resize_meta",
    oracle="""
    SELECT doc_id, 'bmp' AS format,
      8 AS width, 6 AS height,
      CAST((SELECT sum((doc_id + 3*((x.i*(16 + doc_id % 13))//8)
                               + 5*((y.j*(8 + doc_id % 7))//6)
                               + 7*c.k) % 256)
         FROM generate_series(0, 7) x(i), generate_series(0, 5) y(j),
              generate_series(0, 2) c(k)) AS BIGINT) AS pixel_sum
    FROM documents ORDER BY doc_id
    """,
)
def ns_image_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode + nearest-neighbor resize to 8x6: the oracle replays
    the identical floor source mapping src = (dst * src_dim) // dst_dim,
    so a resampling-arithmetic bug breaks the hash match."""
    payloads = multimodal.with_synthetic_image_payload(spark.table("documents"))
    return multimodal.image_resize_stats(payloads, width=8, height=6).orderBy("doc_id")


@query(
    "ns_audio_decode_meta",
    oracle="""
    SELECT doc_id,
      CAST(8000 + 100*(doc_id % 5) AS INT) AS sample_rate,
      CAST(200 + doc_id % 31 AS BIGINT) AS n_samples,
      CAST((SELECT sum((doc_id*31 + s.i*7) % 65536 - 32768)
            FROM generate_series(0, 230) s(i)
            WHERE s.i < 200 + doc_id % 31) AS BIGINT) AS sum_samples,
      true AS ok
    FROM documents ORDER BY doc_id
    """,
)
def ns_audio_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE PCM decode via the stdlib wave module: worker-side
    encode of sample(i) = ((doc_id*31 + 7i) % 65536) - 32768 at a
    doc-dependent rate, then a real parse back out of the bytes."""
    payloads = multimodal.with_synthetic_audio_payload(spark.table("documents"))
    return multimodal.extract_audio_meta(payloads).orderBy("doc_id")


@query(
    "ns_video_meta",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 1 THEN 'mp42' ELSE 'isom' END AS brand,
      CAST(1000 + (doc_id*37) % 240000 AS BIGINT) AS duration_ms,
      CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END AS INT) AS n_tracks,
      CAST(160 + 16*(doc_id % 60) AS INT) AS width,
      CAST(90 + 9*(doc_id % 60) AS INT) AS height,
      CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
           ELSE 'vp09' END AS video_codec,
      CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 'mp4a' END AS audio_codec,
      true AS ok
    FROM documents ORDER BY doc_id
    """,
)
def ns_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO BMFF container parse, no system library: worker-side
    synthesis of a structurally-valid ftyp+moov skeleton per doc
    (mmcodec.synth_video, every field a real box field), then a real
    box-walk parse back out (mmcodec.decode_mp4_meta — ISO/IEC 14496-12
    layout). The oracle replays the synth formulas arithmetically, so a
    box-offset bug (mvhd v0/v1, tkhd 16.16 dims, stsd fourcc) breaks
    the hash. Frame decode remains behind the explicit ffmpeg boundary
    (multimodal.ffmpeg_sample_frames)."""
    payloads = multimodal.with_synthetic_video_payload(spark.table("documents"))
    return multimodal.extract_video_meta(payloads).orderBy("doc_id")


@query("ns_pdf_text", oracle=pdf.pdf_text_oracle_sql())
def ns_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text extraction (NEW r9, VERDICT-r8 #4): worker-side
    synthesis of structurally valid multi-page PDF 1.4 files (objects,
    FlateDecode content streams, xref table — operators/pdf.py), then
    the full real parse back out: startxref -> xref walk -> catalog ->
    page tree -> zlib-inflated content streams -> Tj/TJ text operators
    with string-escape handling. Page p of doc d shows chars
    [60p, 60p+60) of the document text, so the oracle replays
    extraction as substr arithmetic — an offset, filter, or
    unescaping bug breaks the hash match. No third-party PDF library
    anywhere (ISO 32000-1 as the public spec)."""
    payloads = pdf.with_synthetic_pdf_payload(spark.table("documents"))
    return pdf.pdf_text_pages(payloads).orderBy("doc_id", "page_idx")


@query("ns_docx_text", oracle=docx.docx_text_oracle_sql())
def ns_docx_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX text extraction (NEW r9, office-document ingest leg):
    worker-side synthesis of REAL minimal .docx packages (OPC zip +
    namespaced WordprocessingML, operators/docx.py), then the real
    parse back out — zip -> size-capped document.xml -> ElementTree
    walk concatenating each paragraph's runs (formatting nodes
    skipped). Paragraph p of doc d carries chars [40p, 40p+40) of the
    document text, so the oracle replays extraction as substr
    arithmetic."""
    payloads = docx.with_synthetic_docx_payload(spark.table("documents"))
    return docx.docx_text_paragraphs(payloads).orderBy("doc_id", "para_idx")


@query(
    "ns_jpeg_decode",
    oracle="""
    SELECT doc_id, 'jpeg' AS format,
      CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
      CAST(16*24*3 * (2*(doc_id % 100)) AS BIGINT) AS pixel_sum
    FROM documents ORDER BY doc_id
    """,
)
def ns_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode via the pure-Python T.81 codec
    (operators/jpegcodec.py): worker-side encode of a constant-color
    image whose parameters make the lossy round-trip exactly the
    identity (see with_synthetic_jpeg_payload), then the full real
    decode — Huffman entropy decoding, DC prediction, byte unstuffing,
    dequantize+IDCT, BT.601 — with the pixel sum hash-checked against
    pure doc_id arithmetic. The gradient/noise cases are covered by
    quantization-bounded round-trips and the hand-assembled
    spec-arithmetic goldens in tests/test_mmcodec.py."""
    payloads = multimodal.with_synthetic_jpeg_payload(spark.table("documents"))
    return multimodal.image_decode_stats(payloads).orderBy("doc_id")


@query(
    "ns_avi_frames",
    oracle="""
    SELECT d.doc_id, CAST(s.i AS INT) AS frame_idx,
      CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
      CAST(16*24*3 * (2*((d.doc_id + s.i) % 100)) AS BIGINT) AS pixel_sum,
      true AS ok
    FROM documents d, generate_series(0, 2) s(i)
    WHERE s.i <= d.doc_id % 3
    ORDER BY d.doc_id, frame_idx
    """,
)
def ns_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO FRAME decode WITHOUT ffmpeg (narrows the r5 boundary):
    per-doc REAL playable MJPEG AVIs (RIFF avih/strh/strf headers, one
    00dc JPEG chunk per frame; odd doc_ids ship the table-less frames
    real MJPG muxers emit), decoded fully in-process — RIFF movi walk,
    Annex-K Huffman injection, the pure T.81 entropy decode — with
    per-frame exact pixel sums replayed arithmetically by the oracle.
    Inter-frame codecs (H.264/VP9) remain behind the explicit ffmpeg
    NotImplementedError boundary."""
    payloads = multimodal.with_synthetic_avi_payload(spark.table("documents"))
    return multimodal.avi_frame_stats(payloads).orderBy("doc_id", "frame_idx")


@query(
    "ns_media_meta",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 7 IN (0,1,2) THEN 'video'
           WHEN doc_id % 7 = 5 THEN 'image' ELSE 'audio' END AS kind,
      CASE CAST(doc_id % 7 AS INT) WHEN 0 THEN 'mp4' WHEN 1 THEN 'webm'
           WHEN 2 THEN 'avi' WHEN 3 THEN 'flac' WHEN 4 THEN 'mp3'
           WHEN 5 THEN 'webp' ELSE 'ogg' END AS format,
      CAST(CASE CAST(doc_id % 7 AS INT)
        WHEN 0 THEN 1000 + (doc_id*37) % 240000
        WHEN 1 THEN 500 + (doc_id*13) % 10000
        WHEN 2 THEN (33333 * (24 + doc_id % 1000)) // 1000
        WHEN 3 THEN ((8000 + doc_id % 5000) * 1000) // (32000 + 1000*(doc_id % 17))
        WHEN 4 THEN ((204 + doc_id % 800) * 8) // 128
        ELSE 0 END AS BIGINT) AS duration_ms,
      CAST(CASE CAST(doc_id % 7 AS INT) WHEN 0 THEN 160 + 16*(doc_id % 60)
        WHEN 1 THEN 320 + 8*(doc_id % 40) WHEN 2 THEN 640
        WHEN 5 THEN 64 + 4*(doc_id % 500) ELSE 0 END AS INT) AS width,
      CAST(CASE CAST(doc_id % 7 AS INT) WHEN 0 THEN 90 + 9*(doc_id % 60)
        WHEN 1 THEN 240 + 6*(doc_id % 40) WHEN 2 THEN 480
        WHEN 5 THEN 48 + 3*(doc_id % 500) ELSE 0 END AS INT) AS height,
      CAST(CASE CAST(doc_id % 7 AS INT) WHEN 3 THEN 32000 + 1000*(doc_id % 17)
        WHEN 4 THEN 44100 WHEN 6 THEN 48000 ELSE 0 END AS INT) AS sample_rate,
      CAST(CASE CAST(doc_id % 7 AS INT)
        WHEN 0 THEN CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END
        WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 1 END AS INT) AS n_tracks,
      true AS ok
    FROM documents ORDER BY doc_id
    """,
)
def ns_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified mixed-format media triage: per-doc REAL container bytes
    (format cycling mp4/webm/avi/flac/mp3/webp/ogg, every field a real
    box/element/header field — multimodal._media_synth_bytes),
    magic-sniffed and parsed by the matching real parser (ISO BMFF /
    EBML / RIFF-AVI / FLAC STREAMINFO / MPEG audio frame header / WebP
    VP8-VP8L-VP8X / Ogg OpusHead+Vorbis-id), normalized to one schema.
    The oracle replays the synth formulas arithmetically, so an offset
    bug in ANY of the seven parsers breaks the hash."""
    payloads = multimodal.with_synthetic_media_payload(spark.table("documents"))
    return multimodal.extract_media_meta(payloads).orderBy("doc_id")


@query(
    "ns_archive_listing",
    oracle="""
    SELECT d.doc_id,
      'f' || CAST(s.i AS VARCHAR) || '.txt' AS member,
      CAST(10 + (d.doc_id*7 + s.i*13) % 90 AS BIGINT) AS size_u,
      'stored' AS method,
      true AS ok
    FROM documents d, generate_series(0, 4) s(i)
    WHERE s.i <= d.doc_id % 5
    ORDER BY d.doc_id, member
    """,
)
def ns_archive_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive triage without extraction: per-doc REAL zip bytes
    (operators/archives.synth_zip — stdlib zipfile, deterministic
    members) enumerated via the central-directory walk and EXPLODED one
    row per member. The oracle replays the member-name/size formulas
    arithmetically, so a listing bug (member order, size field, method
    mapping) breaks the hash. The compressed-size column is dropped
    here: stored members make it equal to size_u, so it attests nothing
    extra."""
    from .operators import archives

    payloads = archives.with_synthetic_zip_payload(spark.table("documents"))
    return (
        archives.archive_listing(payloads)
        .select("doc_id", "member", "size_u", "method", "ok")
        .orderBy("doc_id", "member")
    )


@query(
    "ns_warc_listing",
    oracle="""
    SELECT doc_id, record_type, target_uri, record_id, content_length, ok
    FROM (
      SELECT d.doc_id, 'warcinfo' AS record_type,
        CAST(NULL AS VARCHAR) AS target_uri,
        '<urn:test:' || CAST(d.doc_id AS VARCHAR) || ':info>' AS record_id,
        CAST(17 AS BIGINT) AS content_length, true AS ok
      FROM documents d
      UNION ALL
      SELECT d.doc_id, 'response',
        'http://ex.test/' || CAST(d.doc_id AS VARCHAR) || '/' || CAST(s.i AS VARCHAR),
        '<urn:test:' || CAST(d.doc_id AS VARCHAR) || ':' || CAST(s.i AS VARCHAR) || '>',
        CAST(20 + (d.doc_id*11 + s.i*17) % 180 AS BIGINT), true
      FROM documents d, generate_series(0, 3) s(i)
      WHERE s.i <= d.doc_id % 4
    ) ORDER BY doc_id, record_id
    """,
)
def ns_warc_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (ISO 28500) record enumeration — the Common Crawl container
    an LLM text pipeline ingests: per-doc REAL gzipped WARC bytes
    (archives.synth_warc: warcinfo + deterministic response records),
    decompressed and walked record-by-record (version line, header
    block, Content-Length-delimited bodies), exploded one row per
    record. The oracle replays the record formulas, so a header-parse or
    body-offset bug breaks the hash."""
    from .operators import archives

    payloads = archives.with_synthetic_warc_payload(spark.table("documents"))
    return archives.warc_listing(payloads).orderBy("doc_id", "record_id")


@query(
    "ns_warc_bodies",
    oracle="""
    SELECT d.doc_id,
      '<urn:test:' || CAST(d.doc_id AS VARCHAR) || ':' || CAST(s.i AS VARCHAR) || '>' AS record_id,
      'http://ex.test/' || CAST(d.doc_id AS VARCHAR) || '/' || CAST(s.i AS VARCHAR) AS target_uri,
      md5(repeat('y', CAST(20 + (d.doc_id*11 + s.i*17) % 180 AS INT))) AS body_md5,
      CAST(20 + (d.doc_id*11 + s.i*17) % 180 AS BIGINT) AS content_length,
      true AS ok
    FROM documents d, generate_series(0, 3) s(i)
    WHERE s.i <= d.doc_id % 4
    ORDER BY d.doc_id, record_id
    """,
)
def ns_warc_bodies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC response-body EXTRACTION — the Common Crawl ingest stage
    proper (bodies, not listings): per-doc REAL gzipped WARC bytes
    walked record-by-record, response blocks emitted as body rows
    (warcinfo filtered kernel-side, HTTP headers stripped when present,
    64 MiB per-body cap). The oracle replays the synth body formula
    through md5, so a body-offset or length bug breaks the hash."""
    from pyspark.sql import functions as F

    from .operators import archives

    payloads = archives.with_synthetic_warc_payload(spark.table("documents"))
    return (
        archives.warc_bodies(payloads)
        .select(
            "doc_id",
            "record_id",
            "target_uri",
            F.md5(F.col("body")).alias("body_md5"),
            "content_length",
            "ok",
        )
        .orderBy("doc_id", "record_id")
    )


def _html_oracle() -> str:
    from .operators.html import synthetic_html_oracle_sql

    return synthetic_html_oracle_sql()


@query("ns_html_text", oracle=_html_oracle())
def ns_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> clean-text extraction (VERDICT-r6 #3) — the missing
    stage between warc_bodies and the text-quality filters: per-doc
    REAL pages (operators/html.with_synthetic_html_payload — head
    noise, script/style blocks with <, >, && inside, comments, named +
    numeric entities, inline tags wrapping corpus words, a link) run
    through the stdlib-HTMLParser Arrow kernel
    (operators/html.html_text). The oracle replays the expected
    title/text/links arithmetically from the synthesis formula, so a
    script leak, entity mishandling, or whitespace-gluing bug breaks
    the value hash."""
    from .operators import html as _html

    pages = _html.with_synthetic_html_payload(spark.table("documents"))
    return _html.html_text(pages).orderBy("doc_id")


def _links_oracle() -> str:
    from .operators.html import synthetic_links_oracle_sql

    return synthetic_links_oracle_sql()


@query("ns_html_links", oracle=_links_oracle())
def ns_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML link extraction — the crawl-GRAPH stage (pages -> edges):
    per-doc REAL pages whose link structure is a deterministic formula
    digraph (operators/html.with_synthetic_linked_html: page d carries
    1 + d%3 links to (d*7 + i*13 + 1) % 97, anchors with entities +
    inline tags), parsed by the stdlib-HTMLParser Arrow kernel
    (operators/html.html_links) into (doc_id, href, anchor) edge rows
    — the input shape graph.pagerank / connected_components_star rank
    and cluster. The oracle replays the link formula arithmetically,
    so an attribute-parse, anchor-text, or ordering bug breaks the
    hash."""
    from .operators import html as _html

    pages = _html.with_synthetic_linked_html(spark.table("documents"))
    return _html.html_links(pages).orderBy("doc_id", "href", "anchor")


@query(
    "ns_archive_extract",
    oracle="""
    SELECT d.doc_id,
      'f' || CAST(s.i AS VARCHAR) || '.txt' AS member,
      md5(repeat('x', CAST(10 + (d.doc_id*7 + s.i*13) % 90 AS INT))) AS content_md5,
      CAST(10 + (d.doc_id*7 + s.i*13) % 90 AS BIGINT) AS size,
      false AS truncated,
      true AS ok
    FROM documents d, generate_series(0, 4) s(i)
    WHERE s.i <= d.doc_id % 5
    ORDER BY d.doc_id, member
    """,
)
def ns_archive_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive member EXTRACTION (stage two of the listing->extract
    pipeline): per-doc REAL zip bytes, every member's content
    decompressed inside the Arrow-batched kernel with the 64 MiB
    per-member cap. The oracle replays the member content formula
    through md5 — a decompression, ordering, or cap bug breaks the
    hash."""
    from pyspark.sql import functions as F

    from .operators import archives

    payloads = archives.with_synthetic_zip_payload(spark.table("documents"))
    return (
        archives.archive_extract(payloads)
        .select(
            "doc_id",
            "member",
            F.md5(F.col("content")).alias("content_md5"),
            "size",
            "truncated",
            "ok",
        )
        .orderBy("doc_id", "member")
    )


@query(
    "ns_datafile_meta",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'parquet' ELSE 'avro' END AS format,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 10
           ELSE 2 + doc_id % 5 + doc_id % 3 END AS BIGINT) AS n_rows,
      CAST(CASE WHEN doc_id % 2 = 0 THEN (4 + doc_id % 10) // 4
           ELSE 2 END AS BIGINT) AS n_row_groups,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3
           ELSE 1 + doc_id % 4 END AS BIGINT) AS n_columns,
      CASE WHEN doc_id % 2 = 0 THEN
        CASE WHEN doc_id % 4 = 0 THEN 'uncompressed' ELSE 'snappy' END
      ELSE
        CASE WHEN doc_id % 3 = 0 THEN 'deflate' ELSE 'null' END
      END AS codec,
      true AS ok
    FROM documents ORDER BY doc_id
    """,
)
def ns_datafile_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-file registry triage (lakehouse drop-directory pass): REAL
    per-doc payloads — pyarrow-written parquet on even doc_ids, Avro
    OCF (public spec, stdlib walk) on odd — dispatched by magic bytes
    to the footer/header parsers. The oracle replays the synthesizer
    formulas (row counts, ceil-divided row groups, column counts, codec
    cycling), so a footer-walk bug in either format breaks the hash.
    created_by is excluded: the parquet value is a pyarrow version
    string, not formula-replayable."""
    from .operators import archives

    payloads = archives.with_synthetic_datafile_payload(spark.table("documents"))
    return (
        archives.datafile_meta_df(payloads)
        .select("doc_id", "format", "n_rows", "n_row_groups", "n_columns", "codec", "ok")
        .orderBy("doc_id")
    )


@query(
    "ns_avro_records",
    oracle="""
    SELECT d.doc_id, CAST(s.i AS BIGINT) AS rec_idx,
      CAST(d.doc_id * 100 + s.i AS BIGINT) AS c0,
      repeat('a', CAST(1 + (d.doc_id + s.i) % 7 AS INT)) AS c1,
      CAST(d.doc_id * 3 + s.i AS DOUBLE) / 4.0 AS c2,
      true AS ok
    FROM documents d, generate_series(0, 5) s(i)
    WHERE s.i <= d.doc_id % 6
    ORDER BY d.doc_id, rec_idx
    """,
)
def ns_avro_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro OCF record DECODING — the load stage after the
    ns_datafile_meta triage pass: per-doc REAL record-bearing OCF bytes
    (archives.encode_avro_records: spec binary encoding, deflate blocks
    on doc_id%3==0) decoded block-by-block per the Avro 1.11 spec and
    exploded one row per record with typed columns. The oracle replays
    the synthesizer's field formulas (long/string/exact-dyadic double),
    so a varint, block-boundary, codec, or field-order bug breaks the
    hash."""
    from .operators import archives

    payloads = archives.with_synthetic_avro_payload(spark.table("documents"))
    return (
        archives.avro_records_df(payloads, "c0 long, c1 string, c2 double")
        .orderBy("doc_id", "rec_idx")
    )


@query(
    "ns_parquet_records",
    oracle="""
    SELECT d.doc_id, CAST(s.i AS BIGINT) AS rec_idx,
      CAST(d.doc_id * 1000 + 2 * s.i AS BIGINT) AS c0,
      repeat('b', CAST(1 + (d.doc_id + s.i) % 5 AS INT)) AS c1,
      true AS ok
    FROM documents d, generate_series(0, 6) s(i)
    WHERE s.i <= d.doc_id % 7
    ORDER BY d.doc_id, rec_idx
    """,
)
def ns_parquet_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet PAYLOAD record decoding — for parquet bytes that arrive
    as values (archive members, WARC attachments, log blobs) rather
    than scannable files: per-doc REAL pyarrow-written parquet bytes
    (snappy on odd doc_ids) decoded in the Arrow-batched kernel and
    exploded one typed row per record. The oracle replays the
    synthesizer's field formulas; a footer, page-decode, or
    column-projection bug breaks the hash. Use spark.read.parquet for
    parquet that lives as files — this is the embedded-bytes path."""
    from .operators import archives

    payloads = archives.with_synthetic_parquet_payload(spark.table("documents"))
    return (
        archives.parquet_records_df(payloads, "c0 long, c1 string")
        .orderBy("doc_id", "rec_idx")
    )


@query(
    "ns_substring_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE len(string_split(text, ' ')) >= 8),
    win AS (
      SELECT doc_id, gs.i AS i, md5(array_to_string(w[gs.i:gs.i+7], ' ')) AS h
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) gs
    ),
    dup AS (
      SELECT DISTINCT doc_id, i FROM (
        SELECT doc_id, i, min(doc_id) OVER (PARTITION BY h) AS keep_doc FROM win
      ) WHERE doc_id > keep_doc
    ),
    ord AS (
      SELECT doc_id, i,
        max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_cover
      FROM dup
    ),
    isl AS (
      SELECT doc_id, i,
        sum(CASE WHEN prev_cover IS NULL OR i > prev_cover + 1 THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM ord
    )
    SELECT doc_id, min(i) AS span_start, max(i + 7) AS span_end,
      max(i + 7) - min(i) + 1 AS n_tokens
    FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start
    """,
)
def ns_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (the long-shared-span family used on web
    corpora — suffix-array semantics, bucketed): maximal token spans of
    >= 8 consecutive tokens that also appear in an earlier document.
    One shuffle on the md5 window hash (uniform keys, no self-join,
    never all-pairs), then per-doc gaps-and-islands span merge. The
    oracle replays the identical shingle/min-doc/island arithmetic.
    100 TB note in docs/SCALING.md."""
    from pyspark.sql import functions as F

    spans = dedup.substring_dup_spans(spark.table("documents"), window=8)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def _simhash_md5_sql(int_div: str, lateral: str, shiftleft: str) -> str:
    """Portable md5-based 64-bit SimHash: per-token md5, hex digits
    decoded via position(c IN '0123456789abcdef') (both dialects), bit
    votes summed, sign bit special-cased (DuckDB's << is
    overflow-checked). Identical arithmetic in both engines — verified
    bit-for-bit."""
    return f"""
    h AS (
      SELECT doc_id, md5(token) AS hh FROM tok WHERE token != ''
    ), bits AS (
      SELECT doc_id, b.bit,
        CASE WHEN (
          (position(substr(hh, CAST(b.bit {int_div} 4 AS INT) + 1, 1) IN '0123456789abcdef') - 1)
          {int_div} CAST(pow(2, 3 - (b.bit % 4)) AS INT)) % 2 = 1 THEN 1 ELSE -1 END AS vote
      FROM h {lateral}
    ), votes AS (
      SELECT doc_id, bit, sum(vote) AS v FROM bits GROUP BY doc_id, bit
    )
    SELECT doc_id,
      CAST(sum(CASE WHEN v <= 0 THEN CAST(0 AS BIGINT)
                    WHEN bit = 63 THEN -9223372036854775807 - 1
                    ELSE {shiftleft} END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id ORDER BY doc_id"""


_SIMHASH_SPARK = (
    "WITH tok AS (SELECT doc_id, explode(array_distinct(split(text, ' '))) AS token FROM documents), "
    + _simhash_md5_sql(
        "div",
        "LATERAL VIEW explode(sequence(0, 63)) b AS bit",
        "shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))",
    )
)
_SIMHASH_DUCK = (
    "WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), "
    + _simhash_md5_sql(
        "//",
        ", LATERAL (SELECT unnest(generate_series(0, 63)) AS bit) b",
        "(CAST(1 AS BIGINT) << CAST(bit AS INT))",
    )
)


@query("ns_simhash_md5", oracle=_SIMHASH_DUCK)
def ns_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable SimHash variant (md5 bit derivation). The
    engine's fast path (operators/dedup.simhash64) uses xxhash64 and is
    covered by property tests (tests/test_operators.py); this twin is
    the catalog's verified row for the bit-vote machinery (r9: the
    rows-only ns_simhash64 entry was retired — VERDICT-r8 #3)."""
    return spark.sql(_SIMHASH_SPARK)


@query(
    "ns_pipeline_filter_dedup_join",
    oracle="""
    WITH kept AS (
      SELECT doc_id, md5(text) AS h,
        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
        length(text) - length(replace(text, ' ', '')) + 1 AS n_tok
      FROM documents
    )
    SELECT k.doc_id, e.label,
      CAST(round(CAST(e.embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS e0_scaled
    FROM kept k JOIN embeddings e ON e.vec_id = k.doc_id
    WHERE k.rn = 1 AND k.n_tok >= 40
    ORDER BY k.doc_id
    """,
)
def ns_pipeline_filter_dedup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data-pipeline shape: quality gate (token
    floor) -> exact dedup (keep first per content hash) -> join document
    survivors to their embeddings. One declarative plan: Catalyst fuses
    the filter into the scan, dedups via window, broadcasts the
    survivor set into the embedding join."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .operators.text import n_tokens

    docs = spark.table("documents")
    kept = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        n_tokens(F.col("text")).cast("long").alias("n_tok"),
    ).withColumn("rn", F.row_number().over(Window.partitionBy("h").orderBy("doc_id")))
    survivors = kept.where((F.col("rn") == 1) & (F.col("n_tok") >= 40))
    emb = spark.table("embeddings")
    return (
        survivors.join(emb, survivors.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "label",
            (F.round(F.element_at("embedding", 1).cast("double") * 1000000))
            .cast("long")
            .alias("e0_scaled"),
        )
        .orderBy("doc_id")
    )


# (The rows-only ns_ivf_ann_topk catalog entry was retired in r9: the
# trained-k-means path stays a library function — similarity.ivf_ann_topk,
# pytest-covered — and the oracle-checked ns_ivf_ann_topk_seeded row runs
# the same nearest_centroid/ivf_candidates core with seed centroids.)


# ---------------------------------------------------------------------
# ANN parity twins — fully cross-engine-checkable approximate search.
# The library paths (similarity.lsh_ann_topk / ivf_ann_topk) stay
# rows-only because their plane draw / trained model is engine-specific;
# these rows run the SAME similarity.py primitives with engine-portable
# ingredients:
#   - LSH: hyperplane signs derived from md5 parity (the minhash md5
#     pattern) instead of numpy RNG,
#   - IVF: seed centroids (the n_centroids lowest-id vectors, i.e.
#     Lloyd iteration 0) instead of a trained model,
# so DuckDB reproduces the approx result bit-for-bit — including the
# recall@10-vs-exact join, which is therefore oracle-checkable at ANY
# recall value, replacing the r2 rows-only attestation.
# ---------------------------------------------------------------------

_ANN_SPARK = {
    "flat": """
    flat AS (
      SELECT vec_id, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS e,
             i0 + 1 AS i
      FROM embeddings LATERAL VIEW posexplode(embedding) pe AS i0, x
    )""",
    "series": "SELECT explode(sequence({a}, {b})) AS {alias}",
    "str": "STRING",
}
_ANN_DUCK = {
    "flat": """
    flat AS (
      SELECT vec_id,
        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS e,
        unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
    )""",
    "series": "SELECT unnest(generate_series({a}, {b})) AS {alias}",
    "str": "VARCHAR",
}

_ANN_SCORE_TAIL = """
    dots AS (
      SELECT cand.query_id, cand.vec_id AS neighbor_id,
        CAST(sum(a.e * b.e) AS BIGINT) AS dot_i
      FROM cand
      JOIN flat a ON a.vec_id = cand.query_id
      JOIN flat b ON b.vec_id = cand.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST(dot_i AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_raw
      FROM dots
      JOIN norms na ON na.vec_id = query_id
      JOIN norms nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
        row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
      FROM scored
    )
"""


def _lsh_md5_sql(d: dict, n_planes: int = 6, n_tables: int = 8, k: int = 10) -> str:
    """Hyperplane-LSH top-k with md5-parity plane signs — identical
    arithmetic in Spark SQL and DuckDB (the semantics of
    operators/similarity.py lsh_buckets with a portable sign source)."""
    tbl_series = d["series"].format(a=0, b=n_tables - 1, alias="tbl")
    plane_series = d["series"].format(a=0, b=n_planes - 1, alias="plane")
    return f"""
    WITH {d['flat']},
    norms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS n2 FROM flat GROUP BY vec_id),
    grid AS (SELECT t.tbl, p.plane FROM ({tbl_series}) t CROSS JOIN ({plane_series}) p),
    sums AS (
      SELECT f.vec_id, g.tbl, g.plane,
        sum(CASE WHEN (position(substr(md5(concat(
              CAST(g.tbl AS {d['str']}), '|', CAST(g.plane AS {d['str']}), '|', CAST(f.i AS {d['str']})
            )), 1, 1) IN '0123456789abcdef') - 1) % 2 = 1
          THEN f.e ELSE -f.e END) AS s
      FROM flat f CROSS JOIN grid g
      GROUP BY 1, 2, 3
    ),
    buckets AS (
      SELECT vec_id, tbl,
        CAST(sum((CASE WHEN s >= 0 THEN 1 ELSE 0 END) * CAST(pow(2, plane) AS BIGINT)) AS BIGINT) AS bucket
      FROM sums GROUP BY vec_id, tbl
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id
      FROM buckets q
      JOIN buckets c ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id != q.vec_id
      WHERE q.vec_id < 5
    ),
    {_ANN_SCORE_TAIL.lstrip()}
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= {k} ORDER BY query_id, rank
    """


def _ivf_assign_ctes(d: dict, n_centroids: int) -> str:
    """Shared CTE block: flatten embeddings to exact ints, take the
    n_centroids lowest-id vectors as seed centroids (== Lloyd iteration
    0 of operators/similarity.py ivf_train), and Voronoi-assign
    every vector to its nearest centroid. Used by the seeded-IVF ANN
    entries and the SemDeDup entry — both engines generate from this
    one text, so the assignment arithmetic is identical."""
    return f"""
    WITH {d['flat']},
    norms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS n2 FROM flat GROUP BY vec_id),
    cents AS (SELECT vec_id AS cent_id FROM embeddings ORDER BY vec_id LIMIT {n_centroids}),
    cflat AS (SELECT c.cent_id, f.i, f.e FROM cents c JOIN flat f ON f.vec_id = c.cent_id),
    cnorm AS (SELECT cent_id, CAST(sum(e * e) AS BIGINT) AS n2 FROM cflat GROUP BY cent_id),
    vc AS (
      SELECT f.vec_id, c.cent_id, CAST(sum(f.e * c.e) AS BIGINT) AS dot_i
      FROM flat f JOIN cflat c ON c.i = f.i
      GROUP BY 1, 2
    ),
    vcs AS (
      SELECT vc.vec_id, vc.cent_id,
        CAST(dot_i AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cos_c
      FROM vc
      JOIN norms n ON n.vec_id = vc.vec_id
      JOIN cnorm cn ON cn.cent_id = vc.cent_id
    ),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
          row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
        FROM vcs
      ) ar WHERE rn = 1
    )"""


def _ivf_seeded_sql(d: dict, n_centroids: int = 16, n_probe: int = 4, k: int = 10) -> str:
    """IVF top-k over SEED centroids (the n_centroids lowest-id vectors
    == Lloyd iteration 0 of operators/similarity.py ivf_train): the
    Voronoi assignment, multi-probe, and candidate scoring machinery,
    engine-portable. Production uses the trained model; the probing
    math is identical."""
    return f"""{_ivf_assign_ctes(d, n_centroids)},
    probe AS (
      SELECT vec_id AS query_id, cent_id FROM (
        SELECT vec_id, cent_id,
          row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
        FROM vcs WHERE vec_id < 5
      ) pr WHERE rn <= {n_probe}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id
      FROM probe p JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id != p.query_id
    ),
    {_ANN_SCORE_TAIL.lstrip()}
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= {k} ORDER BY query_id, rank
    """


_EXACT_TOPK_CORE = """
    dots_x AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        CAST(sum(a.e * b.e) AS BIGINT) AS dot_i
      FROM flat a JOIN flat b ON a.i = b.i AND b.vec_id != a.vec_id
      WHERE a.vec_id < 5
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id ORDER BY
            CAST(dot_i AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) DESC,
            neighbor_id) AS rn
        FROM dots_x
        JOIN norms na ON na.vec_id = query_id
        JOIN norms nb ON nb.vec_id = neighbor_id
      ) ex WHERE rn <= 10
    )
"""


def _recall_sql(approx_sql: str) -> str:
    """recall@10: per-query |approx top-10 ∩ exact top-10| as an exact
    integer — both engines compute BOTH sides, so any recall value
    hash-matches (the gate fails iff the engines' approx or exact sets
    diverge).

    LEFT join from the exact side: a query whose approx set shares
    nothing with its exact top-10 must emit ``hits = 0``, not vanish
    (an inner join dropped zero-hit queries identically in both
    engines — the 'any recall value' claim excluded exactly the value
    0, and averages over returned rows overstated recall)."""
    # splice the approx query's CTEs: strip its WITH and final SELECT
    body = approx_sql.strip()
    assert body.upper().startswith("WITH")
    ctes, final = body[4:].rsplit("SELECT query_id, neighbor_id, round", 1)
    return f"""
    WITH {ctes.rstrip().rstrip(',')},
    approx AS (
      SELECT query_id, neighbor_id FROM ranked WHERE rn <= 10
    ),
    {_EXACT_TOPK_CORE.lstrip()}
    SELECT e.query_id,
      CAST(sum(CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        AS hits
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """


# The Spark side of the ANN rows below composes operators/similarity.py's
# ANN core: one exact-int array row per vector, array-expression
# signatures, assignments and dots, and the same integer arithmetic as
# the exploded-`flat` oracle text above (which stays as the reference
# statement). Equivalence is hash-gated by tools/check_correctness.py
# at sf0.01 + sf0.1. The query side is `vec_id < 5`, the oracles' filter;
# LSH broadcasts it by hint, so the bucket table streams at any size.


def _md5_plane_signs(d: int, n_planes: int = 6, n_tables: int = 8) -> list:
    """The md5-parity plane signs of _lsh_md5_sql as a [table][plane][i]
    matrix. They depend only on (tbl, plane, i), so hashlib.md5 computes
    them at construction time, equal to the md5 both engines' SQL runs."""
    import hashlib

    def sgn(t: int, p: int, i: int) -> int:
        h = hashlib.md5(f"{t}|{p}|{i}".encode()).hexdigest()
        return 1 if int(h[0], 16) % 2 == 1 else -1

    return [
        [[sgn(t, p, i) for i in range(1, d + 1)] for p in range(n_planes)]
        for t in range(n_tables)
    ]


@query("ns_lsh_ann_topk_md5", oracle=_lsh_md5_sql(_ANN_DUCK))
def ns_lsh_ann_topk_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings")
    vecs = similarity.exact_int_vectors(emb, 6 * 8)
    bk = similarity.lsh_buckets(vecs, _md5_plane_signs(similarity.embedding_dim(emb)))
    cand = similarity.lsh_candidates(bk, F.broadcast(bk.where("vec_id < 5")))
    return similarity.top_k(similarity.rank_candidates(cand, vecs), 10)


@query("ns_lsh_ann_recall10", oracle=_recall_sql(_lsh_md5_sql(_ANN_DUCK)))
def ns_lsh_ann_recall10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings")
    vecs = similarity.exact_int_vectors(emb, 6 * 8)
    bk = similarity.lsh_buckets(vecs, _md5_plane_signs(similarity.embedding_dim(emb)))
    cand = similarity.lsh_candidates(bk, F.broadcast(bk.where("vec_id < 5")))
    approx = similarity.rank_candidates(cand, vecs).where("rn <= 10")
    exact = similarity.cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10)
    return similarity.recall_hits(exact, approx)


@query("ns_ivf_ann_topk_seeded", oracle=_ivf_seeded_sql(_ANN_DUCK))
def ns_ivf_ann_topk_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = similarity.exact_int_vectors(spark.table("embeddings"), 16)
    cents = similarity.seed_centroids(vecs, 16)
    assign = similarity.nearest_centroid(vecs, cents)
    cand = similarity.ivf_candidates(vecs.where("vec_id < 5"), cents, assign, 4)
    return similarity.top_k(similarity.rank_candidates(cand, vecs), 10)


@query("ns_ivf_ann_recall10", oracle=_recall_sql(_ivf_seeded_sql(_ANN_DUCK)))
def ns_ivf_ann_recall10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings")
    vecs = similarity.exact_int_vectors(emb, 16)
    cents = similarity.seed_centroids(vecs, 16)
    assign = similarity.nearest_centroid(vecs, cents)
    cand = similarity.ivf_candidates(vecs.where("vec_id < 5"), cents, assign, 4)
    approx = similarity.rank_candidates(cand, vecs).where("rn <= 10")
    exact = similarity.cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10)
    return similarity.recall_hits(exact, approx)


from .operators.sampling import _bucket_expr as _sampling_bucket_expr  # noqa: E402

# single source of truth: the oracle uses the SAME generated bucket
# expression the Spark operators run (operators/sampling.py) — a
# hand-maintained copy here drifted-by-construction the moment the
# sampling idiom changed
_BUCKET_DOC = _sampling_bucket_expr("doc_id")


@query(
    "ns_deterministic_sample",
    oracle=f"""
    SELECT doc_id FROM documents
    WHERE {_BUCKET_DOC} < 13107
    ORDER BY doc_id
    """,
)
def ns_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~20% hash-sample of documents: reproducible across runs/engines
    (rand() sampling breaks under retries; key-hash sampling doesn't)."""
    from .operators.sampling import sample_fraction

    return sample_fraction(spark.table("documents"), "doc_id", 0.2).select(
        "doc_id"
    ).orderBy("doc_id")


@query(
    "ns_dataset_split_counts",
    oracle=f"""
    SELECT CASE WHEN {_BUCKET_DOC} < 52428 THEN 'train'
                WHEN {_BUCKET_DOC} < 58982 THEN 'val'
                WHEN {_BUCKET_DOC} < 65536 THEN 'test'
                ELSE '_rest' END AS split,
      count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM documents GROUP BY 1 ORDER BY split
    """,
)
def ns_dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 leakage-safe train/val/test assignment by content-key
    hash; the same doc never migrates between splits."""
    from pyspark.sql import functions as F

    from .operators.sampling import dataset_split

    return (
        dataset_split(spark.table("documents"), "doc_id")
        .groupBy("split")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_id"), F.max("doc_id").alias("max_id"))
        .orderBy("split")
    )


@query(
    "ns_stratified_sample",
    oracle="""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
        row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5 ORDER BY lang, doc_id
    """,
)
def ns_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 docs per language, chosen by deterministic hash order."""
    from .operators.sampling import stratified_sample

    return stratified_sample(
        spark.table("documents"), "lang", "doc_id", 5
    ).select("lang", "doc_id").orderBy("lang", "doc_id")


# ---------------------------------------------------------------------
# trained BPE tokenization (operators/bpe.py — roadmap #5 landed)
# ---------------------------------------------------------------------

from .operators.bpe import PINNED_MERGES, bpe_oracle_sql, bpe_tokens  # noqa: E402


@query("ns_bpe_tokens", oracle=bpe_oracle_sql(PINNED_MERGES))
def ns_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real (trained-vocabulary) BPE tokenization — pure JVM chained
    replaces applying PINNED_MERGES in rank order; the DuckDB oracle
    replays the identical replaces, so counts and token streams match
    bit-for-bit. The trainer that learned the pins is exercised and
    determinism-checked in tests/test_bpe.py."""
    return bpe_tokens(spark.table("documents"), PINNED_MERGES).orderBy("doc_id")


# ---------------------------------------------------------------------
# deterministic mergeable sketches (cross-engine-checkable HLL)
# ---------------------------------------------------------------------

# HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007) with md5-derived
# 60-bit hashes and EXACT-INTEGER register sums (p=8 -> 256 registers; term 2^(53-rho) is a BIGINT, so the sum
# has no float-order divergence; the raw estimate is one deterministic
# double expression both engines evaluate identically). The paper's
# SMALL-RANGE correction is applied: when E_raw <= 5m/2 and some
# registers are empty, the estimate switches to linear counting
# m*ln(m/V) over the zero-register count V — without it the raw
# estimator overestimates badly exactly in the regime the sf0.01 gate
# exercises (150 true distinct -> 267 raw vs ~150 corrected). The
# branch condition compares s53 against a PRECOMPUTED double literal
# (alpha*m^2*2^53 / (5m/2)) so it is bit-identical cross-engine, and
# every possible ln(256/V) output sits >=1.8e-4 away from a 4dp
# rounding boundary (verified over all 256 V values), so engine libm
# ulp differences cannot flip the rounded result. This is the
# parity twin of `approx_count_distinct` (whose HLL++ registers are
# engine-internal): it proves the sketch MERGEABILITY story — at 100 TB
# the per-partition register maxima combine associatively (max per
# bucket), which is exactly what the groupBy computes map-side.
_HLL_SPARK = """
    WITH h AS (
      SELECT CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)
                  AS BIGINT) AS hv
      FROM events
    ),
    regs AS (
      SELECT hv % 256 AS bucket,
        max(CASE WHEN hv DIV 256 = 0 THEN 53
                 ELSE 53 - length(bin(hv DIV 256)) END) AS rho
      FROM h GROUP BY hv % 256
    ),
    allb AS (SELECT explode(sequence(0, 255)) AS bucket),
    s AS (
      SELECT CAST(sum(shiftleft(CAST(1 AS BIGINT), 53 - coalesce(rho, 0)))
                  AS BIGINT) AS s53
      FROM allb LEFT JOIN regs ON allb.bucket = regs.bucket
    ),
    v AS (
      SELECT CAST(count(*) AS BIGINT) AS v_zero
      FROM allb LEFT JOIN regs ON allb.bucket = regs.bucket
      WHERE regs.rho IS NULL
    )
    SELECT
      (SELECT count(DISTINCT user_id) FROM events) AS n_exact,
      s53,
      v_zero,
      round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
            / CAST(s53 AS DOUBLE), 4) AS hll_raw_estimate,
      CASE WHEN CAST(s53 AS DOUBLE) >= 6.624895351417025e+17 AND v_zero > 0
           THEN round(256.0 * ln(256.0 / v_zero), 4)
           ELSE round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                      * 9007199254740992.0 / CAST(s53 AS DOUBLE), 4)
      END AS hll_estimate
    FROM s CROSS JOIN v
"""

_HLL_DUCK = r"""
    WITH h AS (
      SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM events
    ),
    regs AS (
      SELECT hv % 256 AS bucket,
        max(CASE WHEN hv // 256 = 0 THEN 53
                 ELSE 53 - length(bin(hv // 256)) END) AS rho
      FROM h GROUP BY hv % 256
    ),
    allb AS (SELECT range AS bucket FROM range(256)),
    s AS (
      SELECT CAST(sum((1::BIGINT << (53 - coalesce(rho, 0)))) AS BIGINT) AS s53
      FROM allb LEFT JOIN regs ON allb.bucket = regs.bucket
    ),
    v AS (
      SELECT CAST(count(*) AS BIGINT) AS v_zero
      FROM allb LEFT JOIN regs ON allb.bucket = regs.bucket
      WHERE regs.rho IS NULL
    )
    SELECT
      (SELECT count(DISTINCT user_id) FROM events) AS n_exact,
      s53,
      v_zero,
      round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
            / CAST(s53 AS DOUBLE), 4) AS hll_raw_estimate,
      CASE WHEN CAST(s53 AS DOUBLE) >= 6.624895351417025e+17 AND v_zero > 0
           THEN round(256.0 * ln(256.0 / v_zero), 4)
           ELSE round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                      * 9007199254740992.0 / CAST(s53 AS DOUBLE), 4)
      END AS hll_estimate
    FROM s CROSS JOIN v
"""


@query("ns_hll_user_estimate", oracle=_HLL_DUCK)
def ns_hll_user_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL distinct-user estimate with the paper's
    small-range linear-counting correction (see _HLL_SPARK notes)."""
    return spark.sql(_HLL_SPARK)


# Count-min sketch (Cormode & Muthukrishnan 2005) over event_type
# frequencies — d=3 md5-derived hash rows x w=64 buckets, ALL exact-integer (counts are BIGINTs, the
# estimate is a min over three exact counters: no float anywhere).
# Companion to the HLL entry: together they cover the two mergeable
# sketch families (cardinality + frequency) a 100 TB pipeline runs
# map-side — CMS counters merge by elementwise ADD, which is exactly
# the groupBy(i, bucket) sum shape below.
_CMS_SPARK = """
    WITH cnt AS (
      SELECT i, hash_bucket, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT i,
          CAST(conv(substring(md5(concat(CAST(i AS STRING), '|', event_type)),
                    1, 15), 16, 10) AS BIGINT) % 64 AS hash_bucket
        FROM events CROSS JOIN (SELECT explode(sequence(1, 3)) AS i)
      ) GROUP BY i, hash_bucket
    ),
    keys AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
      FROM events GROUP BY event_type
    ),
    kb AS (
      SELECT event_type, true_n, i,
        CAST(conv(substring(md5(concat(CAST(i AS STRING), '|', event_type)),
                  1, 15), 16, 10) AS BIGINT) % 64 AS hash_bucket
      FROM keys CROSS JOIN (SELECT explode(sequence(1, 3)) AS i)
    )
    SELECT event_type, true_n, CAST(min(c) AS BIGINT) AS cms_estimate
    FROM kb JOIN cnt USING (i, hash_bucket)
    GROUP BY event_type, true_n
    ORDER BY event_type
"""

_CMS_DUCK = """
    WITH cnt AS (
      SELECT i, hash_bucket, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT i,
          CAST('0x' || substr(md5(concat(CAST(i AS VARCHAR), '|', event_type)),
               1, 15) AS BIGINT) % 64 AS hash_bucket
        FROM events CROSS JOIN (SELECT range AS i FROM range(1, 4))
      ) GROUP BY i, hash_bucket
    ),
    keys AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
      FROM events GROUP BY event_type
    ),
    kb AS (
      SELECT event_type, true_n, i,
        CAST('0x' || substr(md5(concat(CAST(i AS VARCHAR), '|', event_type)),
             1, 15) AS BIGINT) % 64 AS hash_bucket
      FROM keys CROSS JOIN (SELECT range AS i FROM range(1, 4))
    )
    SELECT event_type, true_n, CAST(min(c) AS BIGINT) AS cms_estimate
    FROM kb JOIN cnt USING (i, hash_bucket)
    GROUP BY event_type, true_n
    ORDER BY event_type
"""


@query("ns_countmin_event_counts", oracle=_CMS_DUCK)
def ns_countmin_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic count-min frequency estimates (see _CMS_SPARK)."""
    return spark.sql(_CMS_SPARK)


@query(
    "ns_histogram_quantiles",
    # the identical fixed-grid histogram sketch + ceil-rank queries,
    # replayed in DuckDB: 64 integer bins over [0, 51200) cents (800 c
    # per bin), cumulative counts, first bin reaching rank
    # ceil(q*n/10000). `//` is DuckDB's integer division (Spark: div).
    oracle="""
    WITH s AS (
      SELECT least(63, greatest(0,
               CAST((CAST(round(value * 100) AS BIGINT) * 64) // 51200 AS BIGINT)))
             AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT bin, n,
        sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
        sum(n) OVER () AS total
      FROM s
    ),
    q AS (SELECT CAST(unnest([5000, 9000, 9900]) AS BIGINT) AS q10k)
    SELECT q10k,
      CAST(min(bin) AS BIGINT) AS bin,
      CAST(max(total) AS BIGINT) AS n_rows,
      CAST(0 + (min(bin) + 1) * 800 AS BIGINT) AS est_hi_edge_c
    FROM q JOIN c ON c.cum >= (q.q10k * c.total + 9999) // 10000
    GROUP BY q10k ORDER BY q10k
    """,
)
def ns_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile sketch (operators/sketches.py) —
    the third sketch-family member beside HLL (cardinality) and
    count-min (frequency): 64 exact-BIGINT bin counters, merge ==
    elementwise add == Spark's map-side combine; p50/p90/p99 rank
    queries answered from the 64-row cumulative histogram."""
    from .operators import sketches

    sk = sketches.histogram_sketch(spark.table("events"))
    return sketches.histogram_quantiles(sk)


# Quality-weighted deterministic sampling: include each doc with
# probability proportional to its quality score — the upsampling
# primitive of a training-data mix. Exact-int Bernoulli: the md5-derived
# draw (hash % 10000) and the threshold (round(score*10000)) are both
# BIGINTs, so inclusion is retry-safe, leakage-safe (pure function of
# doc_id), and bit-identical across engines — no RNG anywhere, same
# design rationale as sampling.py's hash-based sample_fraction.
_WSAMPLE_QUALITY = """
      round(
        least(1.0, CAST(n_tok AS DOUBLE) / 60.0) * 0.4
        + least(1.0, CAST(n_chr AS DOUBLE) / 400.0) * 0.4
        + CASE WHEN CAST(n_alpha AS DOUBLE) / n_tok >= 3.0
                AND CAST(n_alpha AS DOUBLE) / n_tok <= 8.0
               THEN 0.2 ELSE 0.0 END,
        6)
"""

_WSAMPLE_BODY = """
    WITH q AS (
      SELECT doc_id,
        CAST(round({quality} * 10000) AS BIGINT) AS p10k
      FROM (
        SELECT doc_id, length(text) AS n_chr,
          length(text) - length(replace(text, ' ', '')) + 1 AS n_tok,
          length(replace(text, ' ', '')) AS n_alpha
        FROM documents
      )
    )
    SELECT doc_id, p10k, draw FROM (
      SELECT doc_id, p10k, {hash60} % 10000 AS draw FROM q
    ) WHERE draw < p10k ORDER BY doc_id
"""

_WSAMPLE_SPARK = _WSAMPLE_BODY.format(
    quality=_WSAMPLE_QUALITY,
    hash60="CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)",
)
_WSAMPLE_DUCK = _WSAMPLE_BODY.format(
    quality=_WSAMPLE_QUALITY,
    hash60="CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)",
)


@query("ns_weighted_sample", oracle=_WSAMPLE_DUCK)
def ns_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted Bernoulli sample (see notes)."""
    return spark.sql(_WSAMPLE_SPARK)


# Document chunking — fixed-size token windows with overlap (chunk=32,
# stride=24), the context-window prep step of a training pipeline.
# Spark side: per-row `sequence` over the chunk count, exploded, then
# JVM `slice` — no cap, no Python, linear in token count. DuckDB
# replays it with a per-row `range` list + unnest and 1-based list
# slicing. Chunk text re-joins with spaces, so chunks are exact
# substrings of the (single-spaced) source.
_CHUNK_SPARK = """
    WITH t AS (
      SELECT doc_id, split(text, ' ') AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, toks,
        explode(sequence(0,
          CAST(ceil(size(toks) / 24.0) AS INT) - 1)) AS chunk_id
      FROM t
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      concat_ws(' ', slice(toks, chunk_id * 24 + 1, 32)) AS chunk_text,
      CAST(size(slice(toks, chunk_id * 24 + 1, 32)) AS BIGINT) AS n_chunk_tokens
    FROM e WHERE chunk_id * 24 < size(toks)
    ORDER BY doc_id, chunk_id
"""

_CHUNK_DUCK = """
    WITH t AS (
      SELECT doc_id, str_split(text, ' ') AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, toks,
        unnest(range(0, CAST(ceil(len(toks) / 24.0) AS BIGINT))) AS chunk_id
      FROM t
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      array_to_string(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)], ' ')
        AS chunk_text,
      CAST(len(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)]) AS BIGINT)
        AS n_chunk_tokens
    FROM e WHERE chunk_id * 24 < len(toks)
    ORDER BY doc_id, chunk_id
"""


@query("ns_doc_chunks", oracle=_CHUNK_DUCK)
def ns_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (see _CHUNK_SPARK notes)."""
    return spark.sql(_CHUNK_SPARK)


# Sequence packing — CONCAT-AND-CHUNK discipline (the common
# pretraining batch assembly: conceptually concatenate every doc's
# tokens in doc_id order and cut the stream every 2048 tokens;
# pack_id = floor(prefix_sum / 2048) assigns each doc to the pack
# where its FIRST token lands). Note what this is NOT: first-fit
# whole-doc packing — a doc straddling a 2048 boundary belongs to the
# pack it starts in, so per-pack WHOLE-doc token sums can exceed 2048
# by up to one doc's tail (consumers split straddlers at the
# boundary, which is exactly how concat-and-chunk training data is
# assembled). One window cumsum, exact integers, one deterministic
# floor division; identical text both engines. At 100 TB the ORDER BY
# doc_id cumsum is the one global-ordering shuffle — run per shard
# (partition by a shard key) in production, same expression.
shared_sql(
    "ns_sequence_packing",
    """
    WITH d AS (
      SELECT doc_id,
        CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
          AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
        CAST(coalesce(sum(n_tok) OVER (
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS BIGINT) AS tok_before
      FROM d
    ),
    packed AS (
      SELECT doc_id, n_tok,
        CAST(floor(tok_before / 2048.0) AS BIGINT) AS pack_id
      FROM c
    )
    SELECT pack_id, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
      CAST(min(doc_id) AS BIGINT) AS first_doc,
      CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM packed GROUP BY pack_id ORDER BY pack_id
    """,
)


# Benchmark decontamination — flag documents sharing any n-gram with a
# holdout/benchmark set (the n-gram-overlap decontamination step every
# serious training pipeline runs before the data ships; production uses
# n=8-13 — this entry uses n=3 because the synthetic corpus's random
# word sequences produce no organic 8-gram collisions to check). Both
# sides explode word n-grams and equi-join; the "benchmark" is the
# corpus's three highest doc_ids, derived DYNAMICALLY (max(doc_id)-2)
# so the holdout stays three docs at every SF — a hardcoded cut made
# the "benchmark" 90% of the corpus at sf0.1, inverting the join shape
# the comment describes. At 100 TB the
# benchmark side is tiny and broadcasts; the corpus side is one
# linear explode, shuffle only on the (rare) matching grams.
_DECON_SPARK = """
    WITH corpus AS (
      SELECT doc_id, split(text, ' ') AS toks FROM documents WHERE doc_id < (SELECT max(doc_id) - 2 FROM documents)
    ),
    bench AS (
      SELECT doc_id AS bench_id, split(text, ' ') AS toks
      FROM documents WHERE doc_id >= (SELECT max(doc_id) - 2 FROM documents)
    ),
    corpus_grams AS (
      SELECT doc_id, concat_ws(' ', slice(toks, i, 3)) AS gram
      FROM corpus
      LATERAL VIEW explode(sequence(1, greatest(size(toks) - 2, 1))) t AS i
    ),
    bench_grams AS (
      SELECT DISTINCT concat_ws(' ', slice(toks, i, 3)) AS gram
      FROM bench
      LATERAL VIEW explode(sequence(1, greatest(size(toks) - 2, 1))) t AS i
    )
    SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_contaminated_grams
    FROM corpus_grams JOIN bench_grams USING (gram)
    GROUP BY doc_id ORDER BY doc_id
"""

_DECON_DUCK = """
    WITH corpus AS (
      SELECT doc_id, str_split(text, ' ') AS toks FROM documents WHERE doc_id < (SELECT max(doc_id) - 2 FROM documents)
    ),
    bench AS (
      SELECT doc_id AS bench_id, str_split(text, ' ') AS toks
      FROM documents WHERE doc_id >= (SELECT max(doc_id) - 2 FROM documents)
    ),
    corpus_grams AS (
      SELECT doc_id, array_to_string(toks[i:(i + 2)], ' ') AS gram
      FROM (
        SELECT doc_id, toks,
          unnest(range(1, CAST(greatest(len(toks) - 2, 1) AS BIGINT) + 1)) AS i
        FROM corpus
      )
    ),
    bench_grams AS (
      SELECT DISTINCT array_to_string(toks[i:(i + 2)], ' ') AS gram
      FROM (
        SELECT toks,
          unnest(range(1, CAST(greatest(len(toks) - 2, 1) AS BIGINT) + 1)) AS i
        FROM bench
      )
    )
    SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_contaminated_grams
    FROM corpus_grams JOIN bench_grams USING (gram)
    GROUP BY doc_id ORDER BY doc_id
"""


@query("ns_decontamination", oracle=_DECON_DUCK)
def ns_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap decontamination at n=3 (production n=8-13 —
    see the block comment: the synthetic corpus has no organic 8-gram
    collisions to make an 8-gram entry checkable)."""
    return spark.sql(_DECON_SPARK)


# Repetition detection — the most-repeated word 5-gram per document and
# its share of the doc's 5-grams (FineWeb/Gopher-style repetition
# quality signal). Exact integers + one deterministic division.
_REP_SPARK = """
    WITH grams AS (
      SELECT doc_id, concat_ws(' ', slice(toks, i, 5)) AS gram
      FROM (SELECT doc_id, split(text, ' ') AS toks FROM documents)
      LATERAL VIEW explode(sequence(1, greatest(size(toks) - 4, 1))) t AS i
    ),
    counts AS (
      SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS n
      FROM grams GROUP BY doc_id, gram
    )
    SELECT doc_id,
      CAST(max(n) AS BIGINT) AS top_gram_count,
      CAST(sum(n) AS BIGINT) AS n_grams,
      round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS rep_ratio
    FROM counts GROUP BY doc_id ORDER BY doc_id
"""

_REP_DUCK = """
    WITH grams AS (
      SELECT doc_id, array_to_string(toks[i:(i + 4)], ' ') AS gram
      FROM (
        SELECT doc_id, toks,
          unnest(range(1, CAST(greatest(len(toks) - 4, 1) AS BIGINT) + 1)) AS i
        FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
      )
    ),
    counts AS (
      SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS n
      FROM grams GROUP BY doc_id, gram
    )
    SELECT doc_id,
      CAST(max(n) AS BIGINT) AS top_gram_count,
      CAST(sum(n) AS BIGINT) AS n_grams,
      round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS rep_ratio
    FROM counts GROUP BY doc_id ORDER BY doc_id
"""


@query("ns_repetition_ratio", oracle=_REP_DUCK)
def ns_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max 5-gram repetition share per document (see _REP_SPARK)."""
    return spark.sql(_REP_SPARK)


# ---------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space, then drop any item whose cosine to a
# LOWER-ID item in the SAME cluster exceeds tau. The cluster step is
# what makes it a 100 TB operator: the quadratic pair scan is bounded to
# within-cluster pairs (cluster count scales with N, so cluster size —
# and the per-cluster work — stays constant). Reuses the seeded-IVF
# Voronoi assignment so both engines reproduce the clustering
# bit-for-bit; production swaps in the trained centroids
# (similarity.ivf_train) without touching the pair/decision machinery.
# ---------------------------------------------------------------------


def _semdedup_sql(d: dict, n_centroids: int = 16, tau: float = 0.35) -> str:
    return f"""{_ivf_assign_ctes(d, n_centroids)},
    pairs AS (
      SELECT aa.vec_id AS va, ab.vec_id AS vb
      FROM assign aa JOIN assign ab
        ON ab.cent_id = aa.cent_id AND ab.vec_id < aa.vec_id
    ),
    pdots AS (
      SELECT p.va, p.vb, CAST(sum(fa.e * fb.e) AS BIGINT) AS dot_i
      FROM pairs p
      JOIN flat fa ON fa.vec_id = p.va
      JOIN flat fb ON fb.vec_id = p.vb AND fb.i = fa.i
      GROUP BY 1, 2
    ),
    pcos AS (
      SELECT va, vb,
        CAST(dot_i AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS c
      FROM pdots
      JOIN norms na ON na.vec_id = va
      JOIN norms nb ON nb.vec_id = vb
    ),
    mx AS (
      SELECT va AS vec_id, max(c) AS max_sim,
        CAST(max(CASE WHEN c >= {tau} THEN 1 ELSE 0 END) AS INT) AS has_dup
      FROM pcos GROUP BY va
    )
    SELECT a.vec_id, a.cent_id,
      round(coalesce(m.max_sim, CAST(-1.0 AS DOUBLE)), 6) AS max_sim_lower,
      CAST(CASE WHEN coalesce(m.has_dup, 0) = 1 THEN 0 ELSE 1 END AS INT) AS keep
    FROM assign a LEFT JOIN mx m ON m.vec_id = a.vec_id
    ORDER BY a.vec_id
    """


@query("ns_semantic_dedup", oracle=_semdedup_sql(_ANN_DUCK))
def ns_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decisions over seeded clusters (see
    _semdedup_sql): the seeded-IVF assignment of operators/similarity.py,
    then intra-cluster pair cosines as per-row zip_with dots."""
    vecs = similarity.exact_int_vectors(spark.table("embeddings"), 16)
    assign = similarity.nearest_centroid(vecs, similarity.seed_centroids(vecs, 16))
    return spark.sql(
        f"""
        WITH pairs AS (
          SELECT aa.vec_id AS va, ab.vec_id AS vb
          FROM {{a}} aa JOIN {{a}} ab
            ON ab.cent_id = aa.cent_id AND ab.vec_id < aa.vec_id
        ),
        pcos AS (
          SELECT p.va, p.vb,
            CAST({similarity.arr_dot_sql('fa.earr', 'fb.earr')} AS DOUBLE)
              / (sqrt(CAST(fa.n2 AS DOUBLE)) * sqrt(CAST(fb.n2 AS DOUBLE))) AS c
          FROM pairs p
          JOIN {{flat}} fa ON fa.vec_id = p.va
          JOIN {{flat}} fb ON fb.vec_id = p.vb
        ),
        mx AS (
          SELECT va AS vec_id, max(c) AS max_sim,
            CAST(max(CASE WHEN c >= 0.35 THEN 1 ELSE 0 END) AS INT) AS has_dup
          FROM pcos GROUP BY va
        )
        SELECT a.vec_id, a.cent_id,
          round(coalesce(m.max_sim, CAST(-1.0 AS DOUBLE)), 6) AS max_sim_lower,
          CAST(CASE WHEN coalesce(m.has_dup, 0) = 1 THEN 0 ELSE 1 END AS INT) AS keep
        FROM {{a}} a LEFT JOIN mx m ON m.vec_id = a.vec_id
        ORDER BY a.vec_id
        """,
        a=assign,
        flat=vecs,
    )


# ---------------------------------------------------------------------
# PII redaction — the pre-training scrubbing pass. The synthetic corpus
# carries no organic PII, so the entry plants deterministic synthetic
# PII (doc_id-derived email/phone + modular SSN/IP) IN THE QUERY on
# both engines, then runs operators/text.redact_pii: per-category match
# counts + typed-token redaction. Patterns are written without
# backslash escapes so one literal is a valid, identically-matching
# regex in Java (Spark) and RE2 (DuckDB).
# ---------------------------------------------------------------------


def _pii_augmented_text(cast_str: str) -> str:
    """doc_id-derived synthetic PII appended to each document — same
    expression text in Spark SQL ({cast_str}='STRING') and DuckDB
    ('VARCHAR')."""
    return f"""concat(text,
      ' contact user', CAST(doc_id AS {cast_str}), '@example.com',
      ' tel 555-867-', lpad(CAST(doc_id % 10000 AS {cast_str}), 4, '0'),
      CASE WHEN doc_id % 3 = 0
        THEN concat(' ssn 123-45-', lpad(CAST(doc_id % 10000 AS {cast_str}), 4, '0'))
        ELSE '' END,
      CASE WHEN doc_id % 5 = 0
        THEN concat(' ip 10.0.', CAST(doc_id % 256 AS {cast_str}), '.7')
        ELSE '' END)"""


def _pii_duck_sql() -> str:
    reps = "text"
    for name, pat in text.PII_PATTERNS:
        reps = f"regexp_replace({reps}, '{pat}', '<{name.upper()}>', 'g')"
    counts = ",\n      ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in text.PII_PATTERNS
    )
    return f"""
    WITH aug AS (SELECT doc_id, {_pii_augmented_text('VARCHAR')} AS text FROM documents)
    SELECT doc_id,
      {counts},
      {reps} AS text_redacted
    FROM aug ORDER BY doc_id
    """


@query("ns_pii_redaction", oracle=_pii_duck_sql())
def ns_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counts + redaction over synthetically-planted PII (see
    operators/text.redact_pii)."""
    docs = spark.table("documents").selectExpr(
        "doc_id", _pii_augmented_text("STRING") + " AS text"
    )
    return text.redact_pii(docs).orderBy("doc_id")


# ---------------------------------------------------------------------
# Chunk-level exact dedup — duplicated-paragraph removal (the FineWeb
# line-dedup shape at chunk granularity): split every document into
# NON-overlapping 24-token chunks, hash each, and group across the
# whole corpus. Linear explode + one groupBy on the hash — the same
# skew-free shuffle shape as document-level exact dedup, so it holds at
# 100 TB (chunk hashes are uniform; no key carries more than the
# corpus-wide copy count of one paragraph).
# ---------------------------------------------------------------------

_CHUNKDEDUP_SPARK = """
    WITH t AS (
      SELECT doc_id, split(text, ' ') AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, toks,
        explode(sequence(0,
          CAST(ceil(size(toks) / 24.0) AS INT) - 1)) AS chunk_id
      FROM t
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
        md5(concat_ws(' ', slice(toks, chunk_id * 24 + 1, 24))) AS chunk_hash
      FROM e WHERE chunk_id * 24 < size(toks)
    )
    SELECT chunk_hash,
      CAST(count(*) AS BIGINT) AS n_copies,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      min(doc_id) AS first_doc_id
    FROM chunks GROUP BY chunk_hash HAVING count(*) > 1
    ORDER BY chunk_hash
"""

_CHUNKDEDUP_DUCK = """
    WITH t AS (
      SELECT doc_id, str_split(text, ' ') AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, toks,
        unnest(range(0, CAST(ceil(len(toks) / 24.0) AS BIGINT))) AS chunk_id
      FROM t
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
        md5(array_to_string(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 24)], ' '))
          AS chunk_hash
      FROM e WHERE chunk_id * 24 < len(toks)
    )
    SELECT chunk_hash,
      CAST(count(*) AS BIGINT) AS n_copies,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      min(doc_id) AS first_doc_id
    FROM chunks GROUP BY chunk_hash HAVING count(*) > 1
    ORDER BY chunk_hash
"""


@query("ns_chunk_dedup", oracle=_CHUNKDEDUP_DUCK)
def ns_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated 24-token chunks across the corpus (see notes)."""
    return spark.sql(_CHUNKDEDUP_SPARK)


# ---------------------------------------------------------------------
# TF-IDF top terms — per-document top-3 terms by tf * ln((N+1)/(df+1)).
# The corpus-statistics scoring shape (two linear aggregations + one
# broadcast-sized df join; no quadratic anything). The RANK key is the
# 6dp-ROUNDED score (not the raw double): near-equal scores from
# different (tf, df) pairs differ by libm ulps between JVM and DuckDB,
# and a raw-double primary sort could flip their order cross-engine
# before any tiebreak engages — rounding collapses such pairs into the
# deterministic (tf DESC, term) tiebreak instead.
# ---------------------------------------------------------------------

_TFIDF_BODY = """
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, w
    ),
    df AS (
      SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY w
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w, tf.tf, df.df,
        CAST(tf.tf AS DOUBLE)
          * ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0))
          AS tfidf
      FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, w, tf, df, tfidf,
        row_number() OVER (
          PARTITION BY doc_id ORDER BY round(tfidf, 6) DESC, tf DESC, w
        ) AS rnk
      FROM scored
    )
    SELECT doc_id, w AS term, tf, df, round(tfidf, 6) AS tfidf,
      CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk
"""

_TFIDF_SPARK = """
    WITH tok AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, split(text, ' ') AS toks FROM documents)
      LATERAL VIEW explode(toks) t AS w
    ),
""" + _TFIDF_BODY

_TFIDF_DUCK = """
    WITH tok AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
    ),
""" + _TFIDF_BODY


@query("ns_tfidf_topterms", oracle=_TFIDF_DUCK)
def ns_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (see notes)."""
    return spark.sql(_TFIDF_SPARK)


@query(
    "ns_rare_token_share",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
    j AS (SELECT t.doc_id, f.f FROM tok t JOIN freq f ON f.w = t.w)
    SELECT doc_id,
      CAST(count(*) AS BIGINT) AS n_tokens,
      CAST(sum(CASE WHEN f <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      round(CAST(sum(CASE WHEN f <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS rare_share
    FROM j GROUP BY doc_id ORDER BY doc_id
    """,
)
def ns_rare_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rarity signal (operators/text.rare_token_share):
    share of a doc's tokens whose whole-corpus frequency is <= 2 — the
    exact-integer analog of a unigram-LM perplexity filter."""
    return text.rare_token_share(spark.table("documents"), max_freq=2)


# ---------------------------------------------------------------------
# round-4: oracle rows for the skew / CDC / layout operator families
# (previously test-attested only — every first-class operator family
# should carry a falsifiable cross-engine row; see docs/COVERAGE.md)
# ---------------------------------------------------------------------

from .operators import cdc as _cdc  # noqa: E402
from .operators import skew as _skew  # noqa: E402
from .operators import zorder as _zorder  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


@query(
    "ns_salted_join",
    # the PLAIN join is the oracle: salting is a physical rewrite (hot
    # keys spread over n_salts reducers) that must be result-invariant
    oracle="""
    SELECT e.event_id AS seq, e.user_id, c.c_name
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    ORDER BY seq
    """,
)
def ns_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salted equi-join (operators/skew.salted_join): the skewed
    side gets a deterministic xxhash64 salt, the dimension side is
    replicated across salts, and the result must hash-equal the plain
    join — proving the physical rewrite changes the shuffle, not the
    answer."""
    events = spark.table("events")
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    joined = _skew.salted_join(
        events, dim, on="user_id", skewed_unique_col="event_id", n_salts=8
    )
    return joined.select(
        F.col("event_id").alias("seq"), "user_id", "c_name"
    ).orderBy("seq")


@query(
    "ns_salted_distinct_count",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def ns_salted_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted count(DISTINCT) for hot groups
    (operators/skew.salted_distinct_count): partial distinct per
    (group, salt), exact merge — must equal the plain distinct count."""
    out = _skew.salted_distinct_count(
        spark.table("events"), "event_type", "user_id", "event_id", n_salts=8
    )
    return out.orderBy("event_type")


@query(
    "ns_scd2_history",
    # the full SCD-2 semantics as one window expression over the union
    oracle="""
    WITH allrows AS (
      SELECT user_id, event_id AS seq, event_type FROM events
      WHERE user_id < 30 AND event_id % 5 != 0
      UNION ALL
      SELECT user_id, event_id AS seq, event_type FROM events
      WHERE user_id < 30 AND event_id % 5 = 0
    )
    SELECT user_id, seq, event_type,
      seq AS valid_from,
      lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to,
      lead(seq) OVER (PARTITION BY user_id ORDER BY seq) IS NULL AS is_current
    FROM allrows ORDER BY user_id, seq
    """,
)
def ns_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 CDC apply (operators/cdc.scd2_apply): change rows merged
    into history with (valid_from, valid_to, is_current) validity ranges
    derived from the change sequence."""
    ev = spark.table("events").where(F.col("user_id") < 30)
    base = ev.select("user_id", F.col("event_id").alias("seq"), "event_type")
    history = base.where(F.col("seq") % 5 != 0)
    updates = base.where(F.col("seq") % 5 == 0)
    return _cdc.scd2_apply(history, updates, key="user_id", seq_col="seq").orderBy(
        "user_id", "seq"
    )


def _morton_oracle_sql(n_bits: int = 5) -> str:
    """DuckDB reproduction of zorder._interleave over two modular
    dimensions: bit j of dim d lands at position j*2+d."""
    terms = []
    for d, expr in enumerate(("(user_id % 32)", "(event_id % 32)")):
        for j in range(n_bits):
            terms.append(f"((({expr} >> {j}) & 1) << {j * 2 + d})")
    z = " | ".join(terms)
    return f"""
    SELECT event_id AS seq, CAST({z} AS BIGINT) AS z
    FROM events ORDER BY seq
    """


@query("ns_zorder_morton", oracle=_morton_oracle_sql())
def ns_zorder_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave (operators/zorder._interleave) — the
    bit arithmetic at the heart of the multi-dimensional layout writer,
    cross-checked bit-for-bit over two modular dimensions (the
    production path buckets by approxQuantile rank first; the interleave
    itself is the exactness-critical piece)."""
    ev = spark.table("events")
    z = _zorder._interleave(
        [F.pmod(F.col("user_id"), F.lit(32)), F.pmod(F.col("event_id"), F.lit(32))],
        n_bits=5,
    )
    return ev.select(F.col("event_id").alias("seq"), z.alias("z")).orderBy("seq")


_URL_CANON_DUCK = r"""
    WITH u AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'HTTPS://Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM:443/p/' || CAST(doc_id % 40 AS VARCHAR) || '?utm_source=feed&id=7'
          WHEN 1 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' || CAST(doc_id % 40 AS VARCHAR) || '?id=7&utm_campaign=x&fbclid=abc'
          WHEN 2 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' || CAST(doc_id % 40 AS VARCHAR) || '/#frag'
          ELSE 'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com:80/p/' || CAST(doc_id % 40 AS VARCHAR)
        END AS url
      FROM documents
    ), nofrag AS (
      SELECT doc_id, regexp_replace(url, '#.*$', '') AS url FROM u
    ), rebuilt AS (
      SELECT doc_id,
        lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
          || regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS url
      FROM nofrag
    ), canon AS (
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(url, '^(http://[^/?#:]*):80([/?]|$)', '\1\2'),
                      '^(https://[^/?#:]*):443([/?]|$)', '\1\2'),
                    '([?&])(utm_[a-zA-Z0-9_]*|fbclid|gclid|msclkid|ref_src)=[^&]*', '\1', 'g'),
                  '[?&]+$', ''),
                '[?]&+', '?', 'g'),
              '&&+', '&', 'g'),
            '[?&]+$', ''),
          '/$', '') AS canonical_url
      FROM rebuilt
    )
    SELECT canonical_url, min(doc_id) AS keeper_doc_id,
      count(*) AS n_dups
    FROM canon GROUP BY 1 ORDER BY 1
"""


@query("ns_url_dedup", oracle=_URL_CANON_DUCK)
def ns_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup over canonical URLs
    (operators/text.canonicalize_url + url_dedup_groups): fragment
    strip, scheme/host lowercase, default-port drop, tracking-param
    strip (utm_*/fbclid/...), separator collapse, trailing-slash strip
    — the crawl-corpus dedup key, all RE2-safe JVM regexps. The URL
    fixture derives deterministically from doc_id (case/port/param/
    fragment variants that collide after canonicalization)."""
    k = (F.col("doc_id") % 7).cast("string")
    m = (F.col("doc_id") % 40).cast("string")
    c = F.col("doc_id") % 4
    url = (
        F.when(c == 0, F.concat(F.lit("HTTPS://Site"), k, F.lit(".Example.COM:443/p/"), m, F.lit("?utm_source=feed&id=7")))
        .when(c == 1, F.concat(F.lit("https://site"), k, F.lit(".example.com/p/"), m, F.lit("?id=7&utm_campaign=x&fbclid=abc")))
        .when(c == 2, F.concat(F.lit("https://site"), k, F.lit(".example.com/p/"), m, F.lit("/#frag")))
        .otherwise(F.concat(F.lit("http://site"), k, F.lit(".example.com:80/p/"), m))
    )
    docs = spark.table("documents").select("doc_id").withColumn("url", url)
    return text.url_dedup_groups(docs)


# ---------------------------------------------------------------------
# late-r6 additions: the remaining canonical pre-training-pipeline
# scoring/sketching family — Gopher rule filtering, CCNet-style unigram
# LM terciles, sqrt-temperature source mixing, and KMV (k-minimum-
# values / theta-sketch-style) distinct set operations. All four follow
# the repo's exact-arithmetic oracle discipline (integer quantization
# before any cross-row float accumulation).
# ---------------------------------------------------------------------

from .operators import sampling as _sampling  # noqa: E402
from .operators import text as _text  # noqa: E402

_GOPHER_DUCK = """
    WITH sig AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / len(string_split(text, ' ')), 6) AS mean_word_len,
        round(CAST(len(list_filter(string_split(text, ' '),
                                   w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
              / len(string_split(text, ' ')), 6) AS frac_alpha_words,
        CAST((CASE WHEN position(' the ' IN ' ' || text || ' ') > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN position(' a ' IN ' ' || text || ' ') > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN position(' and ' IN ' ' || text || ' ') > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN position(' of ' IN ' ' || text || ' ') > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN position(' to ' IN ' ' || text || ' ') > 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_stopwords
      FROM documents
    )
    SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stopwords,
      CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                 AND frac_alpha_words >= 0.8 AND n_stopwords >= 2
            THEN 1 ELSE 0 END AS INT) AS keep
    FROM sig ORDER BY doc_id
"""


def _script_oracle() -> str:
    from .operators.text import script_profile_oracle_sql

    return script_profile_oracle_sql(
        """(SELECT doc_id, text || repeat(CASE
             WHEN doc_id % 5 = 1 THEN ' привет мир'
             WHEN doc_id % 5 = 2 THEN ' 你好世界 123'
             WHEN doc_id % 5 = 3 THEN ' γεια σου κόσμε'
             WHEN doc_id % 5 = 4 THEN ' مرحبا بالعالم'
             ELSE '' END, CAST(doc_id % 3 + 1 AS INT)) AS text
           FROM documents) d"""
    )


@query("ns_script_profile", oracle=_script_oracle())
def ns_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profiling (text.script_profile) — the
    multilingual router lang_id's Latin marker words cannot be: per-doc
    codepoint counts over ten script blocks + dominant script, pure
    column arithmetic. The corpus is ASCII, so the row synthesizes a
    deterministic multilingual column (Cyrillic/CJK/Greek/Arabic
    snippets repeated by doc_id formula — identical string built in
    both engines) and profiles THAT; a range, character-vs-byte
    length, or tiebreak bug breaks the hash."""
    from .operators import text as _text

    snip = (
        F.when(F.col("doc_id") % 5 == 1, " привет мир")
        .when(F.col("doc_id") % 5 == 2, " 你好世界 123")
        .when(F.col("doc_id") % 5 == 3, " γεια σου κόσμε")
        .when(F.col("doc_id") % 5 == 4, " مرحبا بالعالم")
        .otherwise("")
    )
    ml = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.repeat(snip, (F.col("doc_id") % 3 + 1).cast("int"))
        ).alias("text"),
    )
    return _text.script_profile(ml).orderBy("doc_id")


@query("ns_gopher_quality", oracle=_GOPHER_DUCK)
def ns_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (arXiv:2112.11446 Table A1): word-count
    bounds, mean-word-length band, alphabetic-word fraction, required
    stopwords — pure built-in column expressions, no shuffle."""
    return _text.gopher_quality(spark.table("documents")).orderBy("doc_id")


_LM_DUCK = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
    tot AS (
      SELECT CAST(sum(f) AS BIGINT) AS t_tokens,
             CAST(count(*) AS BIGINT) AS v_vocab
      FROM freq
    ),
    term AS (
      SELECT w, CAST(round(ln(f + 1) * 1000000) AS BIGINT) AS lnf_micro
      FROM freq
    ),
    lntv AS (
      SELECT CAST(round(ln(t_tokens + v_vocab) * 1000000) AS BIGINT)
             AS lntv_micro
      FROM tot
    ),
    dw AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, w
    ),
    per_doc AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(c * lnf_micro) AS BIGINT) AS s_micro
      FROM dw JOIN term USING (w) GROUP BY doc_id
    ),
    scored AS (
      SELECT doc_id, n_tokens,
        round(CAST(n_tokens * lntv_micro - s_micro AS DOUBLE)
              / n_tokens / 1000000.0, 6) AS avg_nll
      FROM per_doc, lntv
    )
    SELECT s.doc_id, d.lang, s.n_tokens, s.avg_nll,
      CAST(ntile(3) OVER (PARTITION BY d.lang ORDER BY s.avg_nll, s.doc_id)
           AS INT) AS ppl_bucket
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ORDER BY s.doc_id
"""


_CURRICULUM_DUCK = (
    _LM_DUCK[: _LM_DUCK.index("SELECT s.doc_id")]
    + """SELECT doc_id, n_tokens, avg_nll,
      CAST(ntile(10) OVER (ORDER BY avg_nll, doc_id) AS INT)
        AS difficulty_decile
    FROM scored ORDER BY doc_id
"""
)


@query("ns_curriculum_deciles", oracle=_CURRICULUM_DUCK)
def ns_curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global curriculum ordering (easy-to-hard): difficulty
    decile by unigram-LM avg negative log-likelihood — the CCNet
    micro-nat arithmetic scored corpus-GLOBALLY (unlike
    ns_lm_perplexity's per-language terciles) via the distributed
    global_ntile rank path (selection.py, the r7 primitive's second
    consumer — no single-partition window; the oracle keeps the plain
    ntile(10) the closed form reproduces bit-for-bit)."""
    from .operators import selection as _selection

    return _selection.curriculum_deciles(spark.table("documents"))


@query("ns_lm_perplexity", oracle=_LM_DUCK)
def ns_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM scoring (arXiv:1911.00359): avg negative
    log-likelihood under an add-one corpus LM, head/middle/tail
    terciles PER LANGUAGE (§3.2 — which also keeps the ntile window
    partitioned, a distributed per-group sort rather than a global
    single-partition one). ln() is quantized to integer micro-nats at
    vocabulary granularity, so every per-doc accumulation is exact
    BIGINT math (see operators/text.unigram_logprob)."""
    return _text.unigram_logprob(spark.table("documents"))


_MIXTURE_DUCK = """
    WITH per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, CAST(round(sqrt(n_tokens) * 1000) AS BIGINT) AS w_milli
      FROM per_src
    ),
    tw AS (SELECT *, CAST(sum(w_milli) OVER () AS BIGINT) AS w_total FROM w)
    SELECT source, n_docs, n_tokens,
      round(CAST(w_milli AS DOUBLE) / w_total, 6) AS p_mix,
      CAST(floor(CAST(w_milli * 1000000 AS DOUBLE) / w_total) AS BIGINT)
        AS alloc_tokens,
      round(CAST(floor(CAST(w_milli * 1000000 AS DOUBLE) / w_total) AS BIGINT)
            / CAST(n_tokens AS DOUBLE), 6) AS epochs
    FROM tw ORDER BY source
"""


@query("ns_source_mixture", oracle=_MIXTURE_DUCK)
def ns_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt-temperature source mixing (arXiv:1911.02116 §3.1): weight
    sources by n_tokens^0.5, allocate a 1M-token budget proportionally;
    IEEE-exact sqrt quantized to milli-units before the integer-sum
    normalization (see operators/sampling.source_mixture)."""
    return _sampling.source_mixture(
        spark.table("documents"), budget_tokens=1_000_000
    )


def _kmv_sql(hv_expr: str, k: int = 256) -> str:
    """KMV / theta-style distinct sketch with set operations, one SQL
    text per dialect (only the hex->int idiom differs). Estimator: with
    the k-th smallest of n uniform 60-bit hashes at hv_k, distinct
    cardinality ~ (k-1) * 2^60 / hv_k (Bar-Yossef et al. 2002); under k
    distinct values the sketch IS the set (exact path). Union = merge
    both k-sets, keep k smallest; intersection = Jaccard-over-union-k
    times the union estimate (theta-sketch composition). All branch
    inputs are exact integers; the only doubles are single identical
    division expressions, so both engines agree bit-for-bit.

    100 TB shape: min-k is computed in TWO LEVELS because the sketch
    merges associatively (the min-k of a union of min-k sets is the
    global min-k): level 1 ranks within (key, hash-bucket) subgroups —
    parallel, bounded sorts over N/B rows each, B raised with data
    size — level 2 ranks the surviving B*k rows per key, a
    constant-bounded final sort. The distinct is the only data-sized
    shuffle. This is exactly the map-side-combine shape; a streaming
    ingest maintains the same sketch with per-batch merges."""
    kth = float(k - 1)
    return f"""
    WITH els AS (
      SELECT DISTINCT event_type AS et, CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    h AS (SELECT et, v, {hv_expr} AS hv FROM els),
    rk1 AS (
      SELECT et, hv, v,
        row_number() OVER (PARTITION BY et, hv % 64 ORDER BY hv, v) AS r1
      FROM h
    ),
    rk AS (
      SELECT et, hv,
        row_number() OVER (PARTITION BY et ORDER BY hv, v) AS r
      FROM rk1 WHERE r1 <= {k}
    ),
    sk AS (SELECT et, hv FROM rk WHERE r <= {k}),
    per AS (
      SELECT et AS measure, CAST(count(*) AS BIGINT) AS n_sketch,
        CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
             ELSE {kth} * 1152921504606846976.0 / CAST(max(hv) AS DOUBLE) END
          AS est
      FROM sk GROUP BY et
    ),
    uh AS (SELECT DISTINCT hv FROM sk),
    urk AS (SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM uh),
    usk AS (SELECT hv FROM urk WHERE r <= {k}),
    uper AS (
      SELECT 'union' AS measure, CAST(count(*) AS BIGINT) AS n_sketch,
        CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
             ELSE {kth} * 1152921504606846976.0 / CAST(max(hv) AS DOUBLE) END
          AS est
      FROM usk
    ),
    comm AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common,
             (SELECT CAST(count(*) AS BIGINT) FROM usk) AS ku
      FROM usk u
      WHERE EXISTS (SELECT 1 FROM sk a WHERE a.et = 'click' AND a.hv = u.hv)
        AND EXISTS (SELECT 1 FROM sk b WHERE b.et = 'purchase' AND b.hv = u.hv)
    ),
    iper AS (
      SELECT 'intersection' AS measure, c.n_common AS n_sketch,
        CAST(c.n_common AS DOUBLE) / c.ku * u.est AS est
      FROM comm c, uper u
    ),
    ex AS (
      SELECT et AS measure, CAST(count(*) AS BIGINT) AS n_exact
      FROM els GROUP BY et
      UNION ALL
      SELECT 'union' AS measure, CAST(count(DISTINCT v) AS BIGINT) FROM els
      UNION ALL
      SELECT 'intersection' AS measure, CAST(count(*) AS BIGINT) FROM
        (SELECT v FROM els WHERE et = 'click'
         INTERSECT
         SELECT v FROM els WHERE et = 'purchase') i
    )
    SELECT s.measure, e.n_exact, s.n_sketch, round(s.est, 4) AS est
    FROM (SELECT * FROM per UNION ALL SELECT * FROM uper
          UNION ALL SELECT * FROM iper) s
    JOIN ex e ON e.measure = s.measure
    ORDER BY s.measure
    """


_KMV_SPARK = _kmv_sql(
    "CAST(conv(substring(md5(CAST(v AS STRING)), 1, 15), 16, 10) AS BIGINT)"
)
_KMV_DUCK = _kmv_sql(
    "CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15) AS BIGINT)"
)


@query("ns_kmv_set_ops", oracle=_KMV_DUCK)
def ns_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketches over the click/purchase value-cents sets
    with union + intersection estimates next to the exact answers —
    the theta-sketch counterpart of ns_hll_user_estimate (see
    _kmv_sql for the estimator + 100 TB notes).

    r10 OPTIMIZATION (guide §2.4/§7.2): the single-text _KMV_SPARK
    planned to 58 Exchange nodes — `els` is referenced four times
    (sketch build + all three exact counts) and `sk`/`usk` three times
    each, and Spark re-executes a CTE per reference. The distinct
    element set and the per-key sketch are materialized once
    (localCheckpoint, inside the timed region), exactly how a sketch
    table is served in production; arithmetic and oracle unchanged."""
    k = 256
    kth = float(k - 1)
    els = spark.sql(
        """
        SELECT DISTINCT event_type AS et, CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
        """
    ).localCheckpoint(eager=True)
    hv = "CAST(conv(substring(md5(CAST(v AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    sk = spark.sql(
        f"""
        WITH h AS (SELECT et, v, {hv} AS hv FROM {{els}}),
        rk1 AS (
          SELECT et, hv, v,
            row_number() OVER (PARTITION BY et, hv % 64 ORDER BY hv, v) AS r1
          FROM h
        ),
        rk AS (
          SELECT et, hv,
            row_number() OVER (PARTITION BY et ORDER BY hv, v) AS r
          FROM rk1 WHERE r1 <= {k}
        )
        SELECT et, hv FROM rk WHERE r <= {k}
        """,
        els=els,
    ).coalesce(1).localCheckpoint(eager=True)
    return spark.sql(
        f"""
        WITH per AS (
          SELECT et AS measure, CAST(count(*) AS BIGINT) AS n_sketch,
            CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
                 ELSE {kth} * 1152921504606846976.0 / CAST(max(hv) AS DOUBLE) END
              AS est
          FROM {{sk}} GROUP BY et
        ),
        uh AS (SELECT DISTINCT hv FROM {{sk}}),
        urk AS (SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM uh),
        usk AS (SELECT hv FROM urk WHERE r <= {k}),
        uper AS (
          SELECT 'union' AS measure, CAST(count(*) AS BIGINT) AS n_sketch,
            CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
                 ELSE {kth} * 1152921504606846976.0 / CAST(max(hv) AS DOUBLE) END
              AS est
          FROM usk
        ),
        comm AS (
          SELECT CAST(count(*) AS BIGINT) AS n_common,
                 (SELECT CAST(count(*) AS BIGINT) FROM usk) AS ku
          FROM usk u
          WHERE EXISTS (SELECT 1 FROM {{sk}} a WHERE a.et = 'click' AND a.hv = u.hv)
            AND EXISTS (SELECT 1 FROM {{sk}} b WHERE b.et = 'purchase' AND b.hv = u.hv)
        ),
        iper AS (
          SELECT 'intersection' AS measure, c.n_common AS n_sketch,
            CAST(c.n_common AS DOUBLE) / c.ku * u.est AS est
          FROM comm c, uper u
        ),
        ex AS (
          SELECT et AS measure, CAST(count(*) AS BIGINT) AS n_exact
          FROM {{els}} GROUP BY et
          UNION ALL
          SELECT 'union' AS measure, CAST(count(DISTINCT v) AS BIGINT) FROM {{els}}
          UNION ALL
          SELECT 'intersection' AS measure, CAST(count(*) AS BIGINT) FROM
            (SELECT v FROM {{els}} WHERE et = 'click'
             INTERSECT
             SELECT v FROM {{els}} WHERE et = 'purchase') i
        )
        SELECT s.measure, e.n_exact, s.n_sketch, round(s.est, 4) AS est
        FROM (SELECT * FROM per UNION ALL SELECT * FROM uper
              UNION ALL SELECT * FROM iper) s
        JOIN ex e ON e.measure = s.measure
        ORDER BY s.measure
        """,
        sk=sk,
        els=els,
    )


# ---------------------------------------------------------------------
# Product quantization ANN (Jégou et al. 2011, "Product quantization
# for nearest neighbor search", IEEE TPAMI 33(1)) — the memory-
# compression leg of the ANN family (brute-force / LSH / IVF are the
# other three): split each vector into m subvectors, quantize each
# against a per-subspace codebook, and answer queries by Asymmetric
# Distance Computation (ADC) — sum of query-to-centroid subdistances
# looked up by the neighbor's codes. Codebooks are SEEDED (the n_codes
# lowest-id vectors' subvectors == Lloyd iteration 0, the same parity
# device as the seeded-IVF twins), so both engines reproduce encoding
# and ADC bit-for-bit. Arithmetic discipline is the strongest in the
# family: the ADC ranking key itself is an exact BIGINT (sum of
# integer squared L2 subdistances over 1e6-scaled components) — there
# is NO floating point anywhere in the candidate ordering.
#
# 100 TB shape: the codebook is m x n_codes x (d/m) — kilobytes —
# broadcast everywhere; encoding is one bounded join (each vector
# meets n_codes rows per subspace); codes compress each vector to
# m bytes (64 floats -> 4 codes here), which is what lets a billion-
# vector index live in executor memory; the ADC scan is an equi-join
# on (subspace, code) against a query's m x n_codes distance table.
# ---------------------------------------------------------------------


def _pq_ctes(d: dict, dv: str, m: int, n_codes: int) -> str:
    """Shared CTE block: balanced subspace split, seeded codebooks,
    exact-int encode (argmin squared L2 per subspace), and the ADC
    join. ``dv`` is the dialect's integer-division operator."""
    return f"""
    WITH {d['flat']},
    norms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS n2 FROM flat GROUP BY vec_id),
    dim AS (SELECT CAST(max(i) AS BIGINT) AS nd FROM flat),
    sub AS (
      SELECT f.vec_id,
        CAST(((f.i - 1) * {m}) {dv} dim.nd AS BIGINT) AS s, f.i, f.e
      FROM flat f, dim
    ),
    cents AS (SELECT vec_id AS cent_id FROM embeddings ORDER BY vec_id LIMIT {n_codes}),
    cflat AS (SELECT c.cent_id, f.s, f.i, f.e FROM cents c JOIN sub f ON f.vec_id = c.cent_id),
    dtab AS (
      SELECT f.vec_id, f.s, c.cent_id,
        CAST(sum((f.e - c.e) * (f.e - c.e)) AS BIGINT) AS d2
      FROM sub f JOIN cflat c ON c.i = f.i AND c.s = f.s
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, s, cent_id AS code FROM (
        SELECT vec_id, s, cent_id,
          row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cent_id) AS rn
        FROM dtab
      ) cr WHERE rn = 1
    ),
    qt AS (SELECT vec_id AS query_id, s, cent_id, d2 FROM dtab WHERE vec_id < 5),
    adc AS (
      SELECT qt.query_id, v.vec_id AS neighbor_id,
        CAST(sum(qt.d2) AS BIGINT) AS adc_d2
      FROM codes v JOIN qt ON qt.s = v.s AND qt.cent_id = v.code
      WHERE v.vec_id != qt.query_id
      GROUP BY 1, 2
    ),
    rankedpq AS (
      SELECT query_id, neighbor_id, adc_d2,
        row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rn
      FROM adc
    )"""


def _pq_seeded_sql(d: dict, dv: str, m: int = 4, n_codes: int = 16, k: int = 10) -> str:
    return f"""{_pq_ctes(d, dv, m, n_codes)}
    SELECT query_id, neighbor_id, adc_d2, CAST(rn AS INT) AS rank
    FROM rankedpq WHERE rn <= {k} ORDER BY query_id, rank
    """


def _pq_recall_sql(d: dict, dv: str, m: int = 4, n_codes: int = 16) -> str:
    """recall@10 of PQ-ADC vs EXACT squared-L2 top-10 (the metric PQ
    approximates; the cosine-exact core used by the LSH/IVF recall
    twins would conflate metric mismatch with quantization loss).
    Both sides order by exact integers, LEFT join from the exact side
    so zero-hit queries emit hits = 0."""
    return f"""{_pq_ctes(d, dv, m, n_codes)},
    approx AS (SELECT query_id, neighbor_id FROM rankedpq WHERE rn <= 10),
    dots_x AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        CAST(sum(a.e * b.e) AS BIGINT) AS dot_i
      FROM flat a JOIN flat b ON a.i = b.i AND b.vec_id != a.vec_id
      WHERE a.vec_id < 5
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT dx.query_id, dx.neighbor_id,
          row_number() OVER (PARTITION BY dx.query_id ORDER BY
            (na.n2 + nb.n2 - 2 * dx.dot_i), dx.neighbor_id) AS rn
        FROM dots_x dx
        JOIN norms na ON na.vec_id = dx.query_id
        JOIN norms nb ON nb.vec_id = dx.neighbor_id
      ) ex WHERE rn <= 10
    )
    SELECT e.query_id,
      CAST(sum(CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        AS hits
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """


@query("ns_pq_ann_topk_seeded", oracle=_pq_seeded_sql(_ANN_DUCK, "//"))
def ns_pq_ann_topk_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-10 with seeded codebooks; the ranking key is an
    exact BIGINT — zero floats in the ordering (see _pq_ctes)."""
    emb = spark.table("embeddings")
    vecs = similarity.exact_int_vectors(emb, 16)
    d = similarity.embedding_dim(emb)
    cents = similarity.seed_centroids(vecs, 16)
    codes = similarity.pq_codes(vecs, cents, d, 4)
    ranked = similarity.pq_ranked(vecs.where("vec_id < 5"), cents, codes, d, 4)
    return spark.sql(
        "SELECT query_id, neighbor_id, adc_d2, CAST(rn AS INT) AS rank "
        "FROM {r} WHERE rn <= 10 ORDER BY query_id, rank",
        r=ranked,
    )


@query("ns_pq_ann_recall10", oracle=_pq_recall_sql(_ANN_DUCK, "//"))
def ns_pq_ann_recall10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of PQ-ADC vs exact squared-L2 — quantization loss
    measured, not assumed (see _pq_recall_sql)."""
    emb = spark.table("embeddings")
    vecs = similarity.exact_int_vectors(emb, 16)
    d = similarity.embedding_dim(emb)
    cents = similarity.seed_centroids(vecs, 16)
    codes = similarity.pq_codes(vecs, cents, d, 4)
    queries = vecs.where("vec_id < 5")
    approx = similarity.pq_ranked(queries, cents, codes, d, 4).where("rn <= 10")
    exact = spark.sql(
        f"""
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              (q.n2 + b.n2 - 2 * {similarity.arr_dot_sql('q.earr', 'b.earr')}), b.vec_id) AS rn
          FROM {{q}} q JOIN {{v}} b ON b.vec_id != q.vec_id
        ) ex WHERE rn <= 10
        """,
        q=queries,
        v=vecs,
    )
    return similarity.recall_hits(exact, approx)


_CANONICAL_TAIL = """,
    clus AS (SELECT doc_id, lbl AS cluster_id FROM {last}),
    q AS (
      SELECT doc_id,
        round(
          least(1.0, CAST(n_tok AS DOUBLE) / 60.0) * 0.4
          + least(1.0, CAST(n_chr AS DOUBLE) / 400.0) * 0.4
          + CASE WHEN CAST(n_alpha AS DOUBLE) / n_tok >= 3.0
                  AND CAST(n_alpha AS DOUBLE) / n_tok <= 8.0
                 THEN 0.2 ELSE 0.0 END,
          6) AS quality
      FROM (
        SELECT doc_id, length(text) AS n_chr,
          length(text) - length(replace(text, ' ', '')) + 1 AS n_tok,
          length(replace(text, ' ', '')) AS n_alpha
        FROM documents
      )
    )
    SELECT c.doc_id, c.cluster_id, q.quality,
      row_number() OVER (
        PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id
      ) = 1 AS is_canonical
    FROM clus c JOIN q ON q.doc_id = c.doc_id
    ORDER BY c.doc_id
"""


@query("ns_neardup_canonical", oracle=_cluster_oracle(4, tail=_CANONICAL_TAIL))
def ns_neardup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection within near-dup clusters
    (dedup.neardup_canonical): keep each cluster's highest-quality doc
    (tiebreak min id) — the FineWeb-style production decision rule, vs
    ns_neardup_clusters' min-id convention."""
    docs = spark.table("documents")
    return dedup.neardup_canonical(docs, text.quality_score(docs))


# ---------------------------------------------------------------------
# Late-r6 family #2: ranked retrieval, data selection, cross-corpus
# decontamination, and exact connected components — the four pipeline
# stages between "index it" and "train on it": rank what matched
# (BM25), choose target-like data (DSIR), keep eval data out of train
# (Bloom cross-corpus), and make dedup clusters exact at any diameter
# (alternating-star CC). All oracle-attested with the repo's integer-
# quantization discipline.
# ---------------------------------------------------------------------

from .operators import retrieval as _retrieval  # noqa: E402
from .operators import selection as _selection  # noqa: E402

_BM25_TERMS = ["spark", "window", "join"]


@query("ns_bm25_topk", oracle=_retrieval.bm25_oracle_sql(_BM25_TERMS, k=15))
def ns_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 over documents for a 3-term query (k1=1.2, b=0.75
    as exact rationals; per-term IDF quantized to integer micro-nats,
    every later step exact BIGINT math — operators/retrieval.py). The
    ranked extension of flumeview-search's AND-intersection
    (/root/reference/README.md:95 stops at membership)."""
    return _retrieval.bm25_topk(spark.table("documents"), _BM25_TERMS, k=15)


@query("ns_dsir_weights", oracle=_selection.dsir_oracle_sql("source = 'src0'"))
def ns_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (arXiv:2302.03169): hashed-bigram
    bag-of-words LMs for target (source='src0') vs raw (all docs),
    per-doc sum of micro-nat log-ratios, quartile 1 = most target-like
    (operators/selection.py; 256 md5 buckets, add-one smoothing)."""
    return _selection.dsir_logweights(
        spark.table("documents"), target_filter="source = 'src0'"
    )


_BLOOM_XDEDUP_DUCK = """
    WITH ref AS (
      SELECT DISTINCT md5(array_to_string(ws[i:i+7], ' ')) AS h
      FROM (SELECT string_split(text, ' ') AS ws FROM documents
            WHERE source = 'src0' AND len(string_split(text, ' ')) >= 8) r,
      LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS i) gs
    ),
    bits AS (
      SELECT DISTINCT u.bit FROM ref, LATERAL (SELECT unnest([
        CAST('0x' || substr(h, 1, 4) AS BIGINT),
        CAST('0x' || substr(h, 5, 4) AS BIGINT),
        CAST('0x' || substr(h, 9, 4) AS BIGINT)]) AS bit) u
    ),
    cand AS (
      SELECT doc_id, md5(array_to_string(ws[i:i+7], ' ')) AS h
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE source != 'src0' AND len(string_split(text, ' ')) >= 8) c,
      LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS i) gs
    ),
    probe AS (
      SELECT doc_id,
        CASE WHEN CAST('0x' || substr(h, 1, 4) AS BIGINT) IN (SELECT bit FROM bits)
              AND CAST('0x' || substr(h, 5, 4) AS BIGINT) IN (SELECT bit FROM bits)
              AND CAST('0x' || substr(h, 9, 4) AS BIGINT) IN (SELECT bit FROM bits)
             THEN 1 ELSE 0 END AS bloom_hit,
        CASE WHEN h IN (SELECT h FROM ref) THEN 1 ELSE 0 END AS ex
      FROM cand
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits,
      CAST(sum(ex) AS BIGINT) AS n_exact_hits,
      sum(ex) > 0 AS contaminated
    FROM probe GROUP BY doc_id ORDER BY doc_id
"""


@query("ns_bloom_cross_dedup", oracle=_BLOOM_XDEDUP_DUCK)
def ns_bloom_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus Bloom decontamination (dedup.bloom_cross_dedup):
    reference = source='src0' 8-token shingles -> 2^16-bit Bloom (K=3
    md5 hex slices); every other doc probed per shingle, with the exact
    semi-join beside it so the FP gap (n_bloom_hits - n_exact_hits) is
    itself attested. No-false-negative property pinned in tests."""
    docs = spark.table("documents")
    ref = docs.where(F.col("source") == "src0")
    cand = docs.where(F.col("source") != "src0")
    return dedup.bloom_cross_dedup(ref, cand, window=8)


_COMPONENTS_DUCK = (
    _MINHASH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ", edges AS ("
    + _MINHASH_CAND_SELECT
    + """),
    nbr AS (
      SELECT doc_a AS doc_id, doc_b AS nbr FROM edges
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS nbr FROM edges
    ),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT n.doc_id, rr.r FROM nbr n JOIN reach rr ON rr.doc_id = n.nbr
    )
    SELECT doc_id, min(r) AS cluster_id, doc_id = min(r) AS is_keeper
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""
)


@query("ns_neardup_components", oracle=_COMPONENTS_DUCK)
def ns_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE connected components of the LSH candidate graph via
    alternating large-star/small-star contraction run to fixpoint
    (dedup.connected_components_star, Kiveris et al. 2014) — exact for
    ANY cluster diameter in O(log n) rounds, vs ns_neardup_clusters'
    fixed-K propagation. Oracle: recursive-CTE transitive closure —
    ground truth, not a replay of the algorithm."""
    return dedup.neardup_components(spark.table("documents"))


_SETSIM_DUCK = (
    "WITH "
    + _SHINGLES_DUCK.format(where="")
    + """,
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
      round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
        AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 5 * n_common >= 1 * (sa.n_sh + sb.n_sh - n_common)
    ORDER BY doc_a, doc_b
    """
)


@query("ns_setsim_join_prefix", oracle=_SETSIM_DUCK)
def ns_setsim_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join over the whole corpus via prefix
    filtering (dedup.setsim_join_prefix, PPJoin family): all pairs with
    3-gram-shingle Jaccard >= 1/5, complete by the prefix theorem —
    the deterministic-recall counterpart to MinHash-LSH. The oracle is
    the brute-force quadratic join (ground truth), so completeness is
    attested, not assumed; integer cross-multiplied threshold on both
    sides."""
    return dedup.setsim_join_prefix(spark.table("documents"), n=3, t_num=1, t_den=5)


# ---------------------------------------------------------------------
# graph centrality: damped PageRank (power iteration, exact integers)
# ---------------------------------------------------------------------

def _pagerank_duck(iterations: int = 5) -> str:
    """Unrolled-CTE DuckDB replay of operators.graph.pagerank over the
    customer<->supplier purchase graph: identical integer arithmetic
    (BIGINT sums + floor division), one CTE pair (dangling scalar +
    inflow) per iteration. `//` is DuckDB integer division, matching
    Spark's `div` on BIGINT for the non-negative values used here."""
    parts = [
        """WITH nds AS (
      SELECT c_custkey * 2 AS node_id FROM customer
      UNION ALL
      SELECT s_suppkey * 2 + 1 AS node_id FROM supplier
    ),
    e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    eds AS (SELECT src, dst FROM e0
            UNION ALL
            SELECT dst AS src, src AS dst FROM e0),
    odg AS (SELECT src, count(*) AS outdeg FROM eds GROUP BY src),
    prm AS (SELECT count(*) AS n, 1000000000 // count(*) AS base FROM nds),
    r0 AS (SELECT node_id, (SELECT base FROM prm) AS rk FROM nds)"""
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        parts.append(
            f""",
    d{k} AS (
      SELECT CAST(COALESCE(sum(r.rk), 0) AS BIGINT) AS dang
      FROM r{p} r LEFT JOIN odg o ON o.src = r.node_id
      WHERE o.src IS NULL
    ),
    i{k} AS (
      SELECT e.dst AS node_id, CAST(sum(r.rk // o.outdeg) AS BIGINT) AS inflow
      FROM r{p} r JOIN odg o ON o.src = r.node_id
      JOIN eds e ON e.src = r.node_id
      GROUP BY e.dst
    ),
    r{k} AS (
      SELECT n.node_id,
        CAST((15 * p.base + 85 * (COALESCE(i.inflow, 0) + d.dang // p.n))
             // 100 AS BIGINT) AS rk
      FROM nds n CROSS JOIN prm p CROSS JOIN d{k} d
      LEFT JOIN i{k} i ON i.node_id = n.node_id
    )"""
        )
    parts.append(
        f"""
    SELECT node_id,
      CASE WHEN node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END
        AS node_type,
      rk AS pr
    FROM r{iterations}
    ORDER BY pr DESC, node_id
    LIMIT 100"""
    )
    return "".join(parts)


@query("ns_pagerank", oracle=_pagerank_duck(5))
def ns_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (operators/graph.py) over the bidirectional
    customer<->supplier purchase graph (edge iff the customer ever
    bought from the supplier): 5 power iterations, d=0.85, exact
    integer rank units — engine-portable bit-for-bit. Oracle unrolls
    the identical arithmetic as CTE pairs per iteration. Completes the
    iterative-graph family next to ns_neardup_components (components)
    with the canonical centrality algorithm."""
    from .operators import graph as _graph

    c = spark.table("customer").select(
        (F.col("c_custkey") * 2).alias("node_id")
    )
    s = spark.table("supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node_id")
    )
    nodes = c.unionAll(s)
    o = spark.table("orders")
    li = spark.table("lineitem")
    # r10 OPTIMIZATION (guide §2.3/§2.4): ONE orders x lineitem join
    # pass exploding both edge directions, instead of union-ing two
    # references to a lazy joined-and-distinct subtree (Spark executed
    # the join AND its dedup once per union branch; the graph operator
    # dedups internally anyway, so the catalog-level distinct was a
    # third dedup of the same rows).
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
    )
    ranks = _graph.pagerank(edges, nodes, iterations=5)
    return (
        ranks.select(
            "node_id",
            F.when(F.col("node_id") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.col("rank").alias("pr"),
        )
        .orderBy(F.desc("pr"), "node_id")
        .limit(100)
    )


def _ppr_duck(iterations: int = 5) -> str:
    """Unrolled-CTE DuckDB replay of PERSONALIZED PageRank
    (operators.graph.pagerank with reset_nodes) over the purchase
    graph, seeds = customers of nation 0: identical integer arithmetic
    with the reset-vector allocation (teleport + dangling mass flow to
    the seed set only; walk starts from the seed distribution)."""
    parts = [
        """WITH nds AS (
      SELECT c_custkey * 2 AS node_id FROM customer
      UNION ALL
      SELECT s_suppkey * 2 + 1 AS node_id FROM supplier
    ),
    e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    eds AS (SELECT src, dst FROM e0
            UNION ALL
            SELECT dst AS src, src AS dst FROM e0),
    odg AS (SELECT src, count(*) AS outdeg FROM eds GROUP BY src),
    sds AS (SELECT c_custkey * 2 AS node_id FROM customer
            WHERE c_nationkey = 0),
    prm AS (SELECT count(*) AS m, 1000000000 // count(*) AS per FROM sds),
    alc AS (
      SELECT n.node_id,
        CASE WHEN s.node_id IS NOT NULL THEN (SELECT per FROM prm)
             ELSE 0 END AS alloc
      FROM nds n LEFT JOIN sds s ON s.node_id = n.node_id
    ),
    r0 AS (SELECT node_id, CAST(alloc AS BIGINT) AS rk FROM alc)"""
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        parts.append(
            f""",
    d{k} AS (
      SELECT CAST(COALESCE(sum(r.rk), 0) AS BIGINT) AS dang
      FROM r{p} r LEFT JOIN odg o ON o.src = r.node_id
      WHERE o.src IS NULL
    ),
    i{k} AS (
      SELECT e.dst AS node_id, CAST(sum(r.rk // o.outdeg) AS BIGINT) AS inflow
      FROM r{p} r JOIN odg o ON o.src = r.node_id
      JOIN eds e ON e.src = r.node_id
      GROUP BY e.dst
    ),
    r{k} AS (
      SELECT a.node_id,
        CAST((15 * a.alloc
              + 85 * (COALESCE(i.inflow, 0)
                      + CASE WHEN a.alloc > 0
                             THEN d.dang // (SELECT m FROM prm)
                             ELSE 0 END)) // 100 AS BIGINT) AS rk
      FROM alc a CROSS JOIN d{k} d
      LEFT JOIN i{k} i ON i.node_id = a.node_id
    )"""
        )
    parts.append(
        f"""
    SELECT node_id,
      CASE WHEN node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END
        AS node_type,
      rk AS ppr
    FROM r{iterations}
    WHERE rk > 0
    ORDER BY ppr DESC, node_id
    LIMIT 100"""
    )
    return "".join(parts)


@query("ns_ppr_topk", oracle=_ppr_duck(5))
def ns_ppr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (VERDICT-r6 #5) over the bidirectional
    customer<->supplier purchase graph, reset vector = the customers of
    nation 0: random walk with restart to the seed set, 5 power
    iterations, d=0.85, exact integer rank units. 'Suppliers most
    relevant to nation-0 customers' — the retrieval-flavored
    centrality the global ns_pagerank cannot express. Oracle unrolls
    the identical seeded arithmetic; top 100 nonzero ranks."""
    from .operators import graph as _graph

    c = spark.table("customer").select(
        (F.col("c_custkey") * 2).alias("node_id")
    )
    s = spark.table("supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node_id")
    )
    nodes = c.unionAll(s)
    seeds = (
        spark.table("customer")
        .where(F.col("c_nationkey") == 0)
        .select((F.col("c_custkey") * 2).alias("node_id"))
    )
    o = spark.table("orders")
    li = spark.table("lineitem")
    # r10 OPTIMIZATION (guide §2.3/§2.4): ONE orders x lineitem join
    # pass exploding both edge directions, instead of union-ing two
    # references to a lazy joined-and-distinct subtree (Spark executed
    # the join AND its dedup once per union branch; the graph operator
    # dedups internally anyway, so the catalog-level distinct was a
    # third dedup of the same rows).
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
    )
    ranks = _graph.pagerank(edges, nodes, iterations=5, reset_nodes=seeds)
    return (
        ranks.where(F.col("rank") > 0)
        .select(
            "node_id",
            F.when(F.col("node_id") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.col("rank").alias("ppr"),
        )
        .orderBy(F.desc("ppr"), "node_id")
        .limit(100)
    )


# ---------------------------------------------------------------------
# dataset profiling (ingest-boundary validation, deequ shape)
# ---------------------------------------------------------------------

def _profile_duck() -> str:
    """Per-column UNION ALL replay of operators.profile.profile_columns
    over documents (the engine-idiomatic DuckDB plan; Spark's single
    Expand pass computes the same aggregates in one scan)."""
    parts = []
    for c in ["doc_id", "text", "lang", "source", "n_chars"]:
        parts.append(
            f"""
    SELECT '{c}' AS col_name, count(*) AS n_rows,
      count({c}) AS n_nonnull,
      CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
      substr(CAST(min({c}) AS VARCHAR), 1, 32) AS min_repr,
      substr(CAST(max({c}) AS VARCHAR), 1, 32) AS max_repr,
      round(CAST(count({c}) AS DOUBLE) / count(*), 6) AS completeness
    FROM documents"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


@query("ns_profile_columns", oracle=_profile_duck())
def ns_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling of documents
    (operators/profile.py): row/non-null/exact-distinct counts, lexical
    min/max reprs, completeness ratio — one row per column, the
    assert-over-data validation stage at every ingest boundary."""
    from .operators.profile import profile_columns

    return profile_columns(spark.table("documents")).orderBy("col_name")


_TRIANGLE_DUCK = """
    WITH pur AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    w AS (
      SELECT a.s AS u, b.s AS v, count(*) AS wt
      FROM pur a JOIN pur b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
    ),
    e AS (SELECT u, v FROM w ORDER BY wt DESC, u, v LIMIT 500),
    tri AS (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM e ab JOIN e bc ON ab.v = bc.u
      JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
    ),
    n AS (
      SELECT a AS node_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node_id, count(*) AS n_triangles
    FROM n GROUP BY node_id ORDER BY node_id
"""


@query("ns_triangle_count", oracle=_TRIANGLE_DUCK)
def ns_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle participation in the top-500 strongest
    co-purchase ties (graph.project_bipartite over customer->supplier
    baskets, deterministic top-K by (weight DESC, u, v), then
    graph.triangle_counts' degree-ordered orientation — each triangle
    enumerated once from its lowest-degree corner, the last-reducer
    fix). Oracle: brute-force u<v triangle join over the same top-K
    edge set — ground truth, orientation-free."""
    from .operators import graph as _graph

    o = spark.table("orders")
    li = spark.table("lineitem")
    pur = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
    )
    w = _graph.project_bipartite(pur, left_col="c", right_col="s")
    top = (
        w.orderBy(F.desc("weight"), "u", "v").limit(500).select("u", "v")
    )
    return _graph.triangle_counts(top).orderBy("node_id")


_PIT_DUCK = """
    WITH hist_base AS (
      SELECT user_id, event_id AS seq, event_type FROM events
      WHERE user_id < 50 AND event_type != 'purchase'
    ),
    hist AS (
      SELECT user_id, seq, event_type,
        seq AS valid_from,
        lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
      FROM hist_base
    ),
    facts AS (
      SELECT user_id, event_id AS fact_seq FROM events
      WHERE user_id < 50 AND event_type = 'purchase'
    )
    SELECT f.user_id, f.fact_seq,
      h.seq AS dim_seq, h.event_type AS dim_event_type
    FROM facts f LEFT JOIN hist h
      ON h.user_id = f.user_id
      AND f.fact_seq >= h.valid_from
      AND (h.valid_to IS NULL OR f.fact_seq < h.valid_to)
    ORDER BY f.user_id, f.fact_seq
"""


@query("scd2_point_in_time", oracle=_PIT_DUCK)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join (cdc.point_in_time_join): every
    purchase matched to the SCD-2 state version (built by
    cdc.scd2_apply over the user's non-purchase events) valid at the
    purchase's own seq — the no-feature-leakage rule. Equi-join on the
    entity key, validity range as a local post-filter."""
    ev = spark.table("events").where(F.col("user_id") < 50)
    hist_base = ev.where(F.col("event_type") != "purchase").select(
        "user_id", F.col("event_id").alias("seq"), "event_type"
    )
    history = _cdc.scd2_apply(
        hist_base, hist_base.limit(0), key="user_id", seq_col="seq"
    ).drop("is_current")
    facts = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("fact_seq")
    )
    out = _cdc.point_in_time_join(
        facts, history, key="user_id", at_col="fact_seq"
    )
    return out.select(
        "user_id",
        "fact_seq",
        F.col("dim_seq"),
        F.col("dim_event_type"),
    ).orderBy("user_id", "fact_seq")


_QCLIP_DUCK = """
    WITH st AS (
      SELECT user_id, event_id, value,
        row_number() OVER (PARTITION BY user_id ORDER BY value, event_id)
          AS rn,
        count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    lo AS (
      SELECT user_id, value AS lo FROM st
      WHERE rn = greatest(1, (n * 5 + 99) // 100)
    ),
    hi AS (
      SELECT user_id, value AS hi FROM st
      WHERE rn = greatest(1, (n * 95 + 99) // 100)
    )
    SELECT e.user_id, e.event_id, round(e.value, 6) AS value,
      round(lo.lo, 6) AS lo, round(hi.hi, 6) AS hi,
      round(least(greatest(e.value, lo.lo), hi.hi), 6) AS value_clipped
    FROM events e JOIN lo USING (user_id) JOIN hi USING (user_id)
    WHERE e.value < lo.lo OR e.value > hi.hi
    ORDER BY e.user_id, e.event_id
"""


@query("ns_quantile_clip", oracle=_QCLIP_DUCK)
def ns_quantile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (timeseries.quantile_clip): per-user exact
    rank-based [p05, p95] clip — the feature-normalization stage before
    training. Returns the clipped rows with their bounds; exact rank
    arithmetic (ceil(n*q) via integer ops) replays in the oracle."""
    from .operators.timeseries import quantile_clip

    out = quantile_clip(
        spark.table("events"),
        key_col="user_id",
        value_col="value",
        tiebreak_col="event_id",
    )
    return (
        out.where(F.col("was_clipped"))
        .select(
            "user_id",
            "event_id",
            F.round("value", 6).alias("value"),
            F.round("lo", 6).alias("lo"),
            F.round("hi", 6).alias("hi"),
            F.round("value_clipped", 6).alias("value_clipped"),
        )
        .orderBy("user_id", "event_id")
    )


_SSSP_DUCK = """
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    eds AS (SELECT src, dst FROM e0
            UNION ALL
            SELECT dst AS src, src AS dst FROM e0),
    reach(node_id, d) AS (
      SELECT * FROM (VALUES (CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
                            (CAST(7 AS BIGINT), CAST(0 AS BIGINT))) v
      UNION
      SELECT e.dst, r.d + 1 FROM reach r
      JOIN eds e ON e.src = r.node_id
      WHERE r.d < 12
    )
    SELECT node_id,
      CASE WHEN node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END
        AS node_type,
      min(d) AS dist
    FROM reach GROUP BY node_id ORDER BY node_id
"""


@query("ns_shortest_paths", oracle=_SSSP_DUCK)
def ns_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS distances (graph.shortest_paths) from suppliers
    1 and 3 over the bidirectional purchase graph — semi-naive frontier
    relaxation to an exact fixpoint; the distance leg of the graph
    family (components / centrality / triangles / distances). Oracle:
    recursive-CTE BFS (depth-capped far above the graph's eccentricity;
    the Spark side runs to true convergence)."""
    from .operators import graph as _graph

    o = spark.table("orders")
    li = spark.table("lineitem")
    # r10 OPTIMIZATION (guide §2.3/§2.4): ONE orders x lineitem join
    # pass exploding both edge directions, instead of union-ing two
    # references to a lazy joined-and-distinct subtree (Spark executed
    # the join AND its dedup once per union branch; the graph operator
    # dedups internally anyway, so the catalog-level distinct was a
    # third dedup of the same rows).
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
    )
    srcs = spark.createDataFrame([(3,), (7,)], "node_id long")
    d = _graph.shortest_paths(edges, srcs)
    return d.select(
        "node_id",
        F.when(F.col("node_id") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("node_type"),
        "dist",
    ).orderBy("node_id")


_SNAPDIFF_DUCK = """
    WITH oldv AS (
      SELECT event_id, user_id, value FROM events WHERE event_id % 7 != 0
    ),
    newv AS (
      SELECT event_id, user_id,
        CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END AS value
      FROM events WHERE event_id % 5 != 0
    ),
    ins AS (
      SELECT n.event_id, n.user_id, n.value, 'inserted' AS change
      FROM newv n LEFT JOIN oldv o USING (event_id) WHERE o.event_id IS NULL
    ),
    del AS (
      SELECT o.event_id, o.user_id, o.value, 'deleted' AS change
      FROM oldv o LEFT JOIN newv n USING (event_id) WHERE n.event_id IS NULL
    ),
    upd AS (
      SELECT n.event_id, n.user_id, n.value, 'updated' AS change
      FROM newv n JOIN oldv o USING (event_id)
      WHERE n.user_id IS DISTINCT FROM o.user_id
         OR n.value IS DISTINCT FROM o.value
    )
    SELECT event_id, user_id, round(value, 6) AS value, change
    FROM (SELECT * FROM ins UNION ALL SELECT * FROM del
          UNION ALL SELECT * FROM upd) t
    ORDER BY change, event_id
"""


@query("cdc_snapshot_diff", oracle=_SNAPDIFF_DUCK)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed derivation between two table versions
    (cdc.snapshot_diff) — inserted / deleted / updated rows under
    null-safe comparison, the audit query the Delta/Iceberg readers'
    time travel exists to answer. Two anti-joins + one inner join, one
    key shuffle serves all three legs."""
    ev = spark.table("events")
    oldv = ev.where(F.col("event_id") % 7 != 0).select(
        "event_id", "user_id", "value"
    )
    newv = ev.where(F.col("event_id") % 5 != 0).select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 3 == 0, F.col("value") * 2)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = _cdc.snapshot_diff(oldv, newv, "event_id")
    return out.select(
        "event_id", "user_id", F.round("value", 6).alias("value"), "change"
    ).orderBy("change", "event_id")


_WSSSP_DUCK = """
    WITH RECURSIVE pur AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    w AS (
      SELECT a.s AS u, b.s AS v, count(*) AS wt
      FROM pur a JOIN pur b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2
    ),
    e AS (SELECT u, v FROM w ORDER BY wt DESC, u, v LIMIT 500),
    ed AS (
      SELECT u AS src, v AS dst, (u + v) % 5 + 1 AS cost FROM e
      UNION ALL
      SELECT v AS src, u AS dst, (u + v) % 5 + 1 AS cost FROM e
    ),
    reach(node_id, d) AS (
      SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
                            (CAST(3 AS BIGINT), CAST(0 AS BIGINT))) s
      UNION
      SELECT ed.dst, r.d + ed.cost FROM reach r
      JOIN ed ON ed.src = r.node_id
      WHERE r.d + ed.cost < 64
    )
    SELECT node_id, min(d) AS dist FROM reach
    GROUP BY node_id ORDER BY node_id
"""


@query("ns_weighted_paths", oracle=_WSSSP_DUCK)
def ns_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (graph.shortest_paths with weight_col) —
    distributed Bellman-Ford in label-correcting form over the top-500
    co-purchase ties with deterministic integer edge costs
    ((u+v)%5+1): the cheap multi-hop detour beats the heavy direct
    edge, which unit-weight BFS cannot express. Oracle: recursive CTE
    with a distance cap far above the graph's weighted diameter (the
    Spark side runs to a true fixpoint)."""
    from .operators import graph as _graph

    o = spark.table("orders")
    li = spark.table("lineitem")
    pur = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
    )
    w = _graph.project_bipartite(pur, left_col="c", right_col="s")
    top = w.orderBy(F.desc("weight"), "u", "v").limit(500).select("u", "v")
    cost = ((F.col("u") + F.col("v")) % 5 + 1).alias("cost")
    ed = top.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), cost
    ).unionAll(
        top.select(F.col("v").alias("src"), F.col("u").alias("dst"), cost)
    )
    srcs = spark.createDataFrame([(1,), (3,)], "node_id long")
    d = _graph.shortest_paths(ed, srcs, weight_col="cost")
    return d.orderBy("node_id")


# ---------------------------------------------------------------------
# r8 additions (VERDICT-r7 #4): URL canonicalization with sorted query
# params, RFC-lite reference resolution, and the host-level crawl-graph
# rollup — the normalization stage between html_links and pagerank.
# ---------------------------------------------------------------------

from .operators import urls as _urls  # noqa: E402

_URL_CANON_R8_DUCK = """
    SELECT doc_id, url, canonical_url FROM (
      SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN 'HTTPS://Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.TEST:443/p/' || CAST(doc_id % 40 AS VARCHAR) || '?z=1&utm_source=feed&a=2'
          WHEN 1 THEN 'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.test:80/p/' || CAST(doc_id % 40 AS VARCHAR) || '/?b=2&a=1'
          WHEN 2 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.test/p/' || CAST(doc_id % 40 AS VARCHAR) || '#sec-2'
          WHEN 3 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.test/p/' || CAST(doc_id % 40 AS VARCHAR) || '?fbclid=xx&gclid=yy'
          ELSE 'https://WWW.site' || CAST(doc_id % 7 AS VARCHAR) || '.example.test/p/' || CAST(doc_id % 40 AS VARCHAR) || '/'
        END AS url,
        CASE doc_id % 5
          WHEN 0 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.test/p/' || CAST(doc_id % 40 AS VARCHAR) || '?a=2&z=1'
          WHEN 1 THEN 'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.test/p/' || CAST(doc_id % 40 AS VARCHAR) || '/?a=1&b=2'
          WHEN 2 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.test/p/' || CAST(doc_id % 40 AS VARCHAR)
          WHEN 3 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.test/p/' || CAST(doc_id % 40 AS VARCHAR)
          ELSE 'https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example.test/p/' || CAST(doc_id % 40 AS VARCHAR)
        END AS canonical_url
      FROM documents
    ) ORDER BY doc_id
"""


@query("ns_url_canonical", oracle=_URL_CANON_R8_DUCK)
def ns_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full URL canonical key (operators/urls.canonicalize_url =
    text.canonicalize_url + SORTED query params — the property r7's
    key lacked: ?b=2&a=1 and ?a=1&b=2 must collide). Five fixture
    variants per doc exercise scheme/host case, default ports,
    fragments, tracking params, unsorted params, and trailing slashes;
    the oracle replays the EXPECTED canonical strings closed-form, so
    any regex-chain bug (including a param-sort divergence) breaks the
    hash. Slash-before-query is preserved by design (only a trailing
    end-of-string slash strips)."""
    d = F.col("doc_id")
    k, m = (d % 7).cast("string"), (d % 40).cast("string")
    c = d % 5
    url = (
        F.when(c == 0, F.concat(F.lit("HTTPS://Site"), k, F.lit(".Example.TEST:443/p/"), m, F.lit("?z=1&utm_source=feed&a=2")))
        .when(c == 1, F.concat(F.lit("http://site"), k, F.lit(".example.test:80/p/"), m, F.lit("/?b=2&a=1")))
        .when(c == 2, F.concat(F.lit("https://site"), k, F.lit(".example.test/p/"), m, F.lit("#sec-2")))
        .when(c == 3, F.concat(F.lit("https://site"), k, F.lit(".example.test/p/"), m, F.lit("?fbclid=xx&gclid=yy")))
        .otherwise(F.concat(F.lit("https://WWW.site"), k, F.lit(".example.test/p/"), m, F.lit("/")))
    )
    return (
        spark.table("documents")
        .select("doc_id", url.alias("url"))
        .withColumn("canonical_url", _urls.canonicalize_url(F.col("url")))
        .orderBy("doc_id")
    )


@query("ns_url_resolve", oracle=_urls.resolved_canonical_oracle_sql())
def ns_url_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986-lite reference resolution (operators/urls.resolve_url):
    each doc's page URL against four href classes — absolute (mixed
    case, unsorted params, fragment), root-relative, protocol-relative
    (tracking param), and relative-with-dot-segments — then
    canonicalized. The oracle replays the expected resolved strings
    closed-form from the formulas, so a base-dir, dot-segment, scheme-
    inherit, or canonicalization bug breaks the hash. Cross-checked
    against urllib.parse.urljoin ground truth in tests/test_urls.py."""
    # r10 OPTIMIZATION (guide §2.3): ONE scan exploding the four
    # resolved hrefs per document, instead of a 4-branch union that
    # scanned documents (and evaluated the shared page-URL expression)
    # once per href class. Identical rows, identical order.
    # r10 batch 2: explode the RAW hrefs first and apply the
    # resolve+canonicalize chain ONCE to the exploded column — the
    # chain is ~40 nested regex/when ops, and building + analyzing +
    # optimizing it four times (once per array element) dominated the
    # query (construct alone was ~2 s of py4j expression building;
    # sf0.1 total 1.78 s -> 0.51 s). Same operands per (doc, link_i),
    # identical rows and order.
    docs = spark.table("documents")
    hrefs = F.array(*[_urls.link_href_expr(i) for i in range(4)])
    return (
        docs.select(
            "doc_id",
            _urls.page_url_expr().alias("_page"),
            F.posexplode(hrefs).alias("link_i", "_href"),
        )
        .select(
            "doc_id",
            "link_i",
            _urls.canonicalize_url(
                _urls.resolve_url(F.col("_page"), F.col("_href"))
            ).alias("resolved_url"),
        )
        .orderBy("doc_id", "link_i")
    )


@query("ns_host_graph", oracle=_urls.host_graph_oracle_sql())
def ns_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level crawl-graph rollup, chained through the REAL parser:
    multi-host fixture pages -> html.html_links (stdlib-HTMLParser
    Arrow kernel) -> urls.host_graph (doc_id equi-join back to page
    URLs, resolve + canonicalize every href, http(s)+cross-host filter,
    (src_host, dst_host) rollup). Self-edges from the root-relative and
    dot-segment links are dropped by include_self=False — the oracle
    replays the two surviving cross-host edge formulas, so a
    resolution, host-extraction, or rollup bug breaks the hash. Output
    feeds graph.pagerank / connected_components_star directly."""
    from .operators import html as _html

    pages = _urls.with_synthetic_multihost_pages(spark.table("documents"))
    links = _html.html_links(pages, html_col="html").where(F.col("ok"))
    return _urls.host_graph(
        pages.select("doc_id", "url"), links.select("doc_id", "href")
    )


# ---------------------------------------------------------------------
# r8 (VERDICT-r7 #1): supervised quality-classifier scoring — the
# "looks-like-target" gate next to Gopher rules and DSIR. Labeled
# slices: pos = src0 ("target-like"), neg = src3 (disjoint by
# construction in the fixture corpus).
# ---------------------------------------------------------------------

from .operators import quality_clf as _qclf  # noqa: E402


@query(
    "ns_quality_classifier",
    oracle=_qclf.quality_classifier_oracle_sql(),
)
def ns_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form NB log-odds quality classifier
    (operators/quality_clf.train_quality_classifier + score_quality):
    hashed-bigram class LMs over the labeled slices, class-prior bias,
    broadcast-weights inference over every doc with exact micro-nat
    arithmetic; keep = logit > 0. The oracle replays training AND
    inference, so a smoothing, floor, prior, or accumulation bug
    breaks the hash. Plan-gated: no Python stage, no window anywhere
    (tests/test_plans.py)."""
    docs = spark.table("documents")
    pb = _qclf.per_bucket_counts(docs)
    w, bias = _qclf.train_quality_classifier(
        docs, "source = 'src0'", "source = 'src3'", per_bucket=pb
    )
    return _qclf.score_quality(docs, w, bias, per_bucket=pb)


@query(
    "ns_quality_clf_lr",
    oracle=_qclf.quality_classifier_lr_oracle_sql(),
)
def ns_quality_clf_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration logistic-regression quality classifier (the
    fastText-supervised trainer shape): 3 full-batch gradient steps
    from zero weights on the labeled slices, every margin/probability/
    update quantized to integer micro-units, broadcast-weights
    inference corpus-wide. The oracle unrolls the entire training
    trajectory as CTE layers (the ns_ppr_topk device), so a gradient,
    quantization, or update-rule divergence in ANY step breaks the
    hash. Separates the training classes exactly at the defaults
    (tests/test_scoring_ops.py)."""
    docs = spark.table("documents")
    pb = _qclf.per_bucket_counts(docs)
    w, bias = _qclf.train_quality_classifier_lr(
        docs, "source = 'src0'", "source = 'src3'", per_bucket=pb
    )
    return _qclf.score_quality_lr(docs, w, bias, per_bucket=pb)


# ---------------------------------------------------------------------
# r8: robots.txt politeness gate — the crawl stack's MAY-I-FETCH stage
# (triage -> extract -> URLs -> host graph -> robots decision).
# ---------------------------------------------------------------------

from .operators import robots as _robots  # noqa: E402


@query("ns_robots_decisions", oracle=_robots.robots_oracle_sql())
def ns_robots_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parse + RFC 9309 longest-match crawl permission
    (operators/robots.py): per-host fixture bodies (a googlebot group
    that must be ignored, consecutive-UA group semantics, comments,
    an empty Disallow that must drop) parsed into the star group's
    prefix rules, then every fixture page URL decided by the longest
    matching rule with Allow winning ties. The oracle replays the
    expected decisions closed-form from the fixture formulas, so a
    group-attachment, case-sensitivity, empty-value, longest-match, or
    tie-break bug breaks the hash. Parse is pure JVM; the only window
    is per-host over robots LINES (file-sized frames)."""
    from .operators import urls as _u

    docs = spark.table("documents")
    rules = _robots.parse_robots_rules(_robots.synthetic_robots_df(spark))
    cand = docs.select("doc_id", _u.page_url_expr().alias("url"))
    return _robots.robots_decisions(cand, rules).orderBy("doc_id")


# ---------------------------------------------------------------------
# r8: sitemap parsing — the URL-discovery stage beside the robots gate.
# ---------------------------------------------------------------------

from .operators import sitemaps as _sitemaps  # noqa: E402


@query("ns_sitemap_urls", oracle=_sitemaps.sitemap_oracle_sql())
def ns_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML parsing via Spark's BUILT-IN from_xml (JVM, no
    Python): per-doc fixture documents — <urlset> page entries with
    optional lastmod / cycling changefreq / priority, plus
    <sitemapindex> shard pointers every 11th doc — exploded into flat
    URL rows with epoch-micro lastmod and integer-milli priority. The
    oracle replays the fixture formulas closed-form, so an XML-schema,
    explode, date, or normalization bug breaks the hash."""
    pages = _sitemaps.with_synthetic_sitemaps(spark.table("documents"))
    return _sitemaps.parse_sitemaps(pages).orderBy(
        "doc_id", "kind", "loc", "priority_milli"
    )


# ---------------------------------------------------------------------
# r8: matryoshka (MRL) dimension-truncation recall — the evaluation an
# embedding pipeline runs before serving truncated vectors: how much
# exact-cosine top-k quality survives keeping only the FIRST d/2
# components (arXiv:2205.13147's deployment question, answered on this
# corpus with exact arithmetic in both engines).
# ---------------------------------------------------------------------


def _matryoshka_recall_sql(d: dict, dims: int = 32, k: int = 10) -> str:
    """recall@k of the truncated-exact top-k vs the full-exact top-k:
    both sides exact brute force over the bounded query set (vec_id <
    5 — the family's ground-truth device), both computed by BOTH
    engines, LEFT join from the exact side so zero-hit queries emit 0."""
    return f"""
    WITH {d['flat'].strip().rstrip(',')},
    norms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS n2 FROM flat GROUP BY vec_id),
    tflat AS (SELECT vec_id, e, i FROM flat WHERE i <= {dims}),
    tnorms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS n2 FROM tflat GROUP BY vec_id),
    tdots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        CAST(sum(a.e * b.e) AS BIGINT) AS dot_i
      FROM tflat a JOIN tflat b ON a.i = b.i AND b.vec_id != a.vec_id
      WHERE a.vec_id < 5
      GROUP BY 1, 2
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id ORDER BY
            CAST(dot_i AS DOUBLE)
              / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
              DESC,
            neighbor_id) AS rn
        FROM tdots
        JOIN tnorms na ON na.vec_id = query_id
        JOIN tnorms nb ON nb.vec_id = neighbor_id
      ) t WHERE rn <= {k}
    ),
    {_EXACT_TOPK_CORE.strip().rstrip(',')}
    SELECT e.query_id,
      CAST(sum(CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        AS hits
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """


@query(
    "ns_matryoshka_recall10",
    oracle=_matryoshka_recall_sql(_ANN_DUCK),
)
def ns_matryoshka_recall10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_matryoshka_recall_sql(_ANN_SPARK))


# ---------------------------------------------------------------------
# r8 extension: CCNet-style boilerplate removal + C4 blocklist gate —
# the two REMOVAL stages between the quality scorers (which only flag)
# and the dedup family (which only reports): line_dedup_clean rebuilds
# each document without its cross-corpus-repeated segments; the
# blocklist gate is C4's bad-words filter as a scan-speed expression.
# ---------------------------------------------------------------------

from .operators import boilerplate as _boiler  # noqa: E402


@query("ns_line_dedup", oracle=_boiler.line_dedup_oracle_sql(3, 2))
def ns_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal WITH reassembly
    (operators/boilerplate.line_dedup_clean, arXiv:1911.00359 §3.1):
    3-word segments appearing in >2 distinct docs are dropped and every
    document's text is rebuilt from its surviving segments in original
    order (all docs survive; a fully-boilerplate doc returns ''). The
    oracle replays segmentation, distinct-doc frequency, and ordered
    reassembly — an off-by-one in the slice window, an occurrences-vs-
    distinct-docs counting bug, or an unordered reassembly breaks the
    hash. Pure JVM: one explode, one md5-keyed frequency aggregate, one
    per-doc sorted-collect — no window, no Python."""
    return _boiler.line_dedup_clean(
        spark.table("documents"), seg_words=3, max_docs=2
    ).orderBy("doc_id")


_BLOCKTERMS = ["dup", "spam", "casino"]


@query("ns_blocklist_filter", oracle=_boiler.blocklist_oracle_sql(_BLOCKTERMS))
def ns_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 bad-words gate (operators/boilerplate.blocklist_filter,
    arXiv:1910.10683 §2.2): the blocklist ('dup' is rare-but-present in
    the corpus; 'spam'/'casino' exercise the zero-hit path) rides along
    as an array literal, so matching is a per-row JVM expression with
    no join and no shuffle. Hit count + sorted distinct hit list are
    columns, never a filter — no document drops out of the decision."""
    return _boiler.blocklist_filter(
        spark.table("documents"), _BLOCKTERMS
    ).orderBy("doc_id")


# ---------------------------------------------------------------------
# r8 extension: epoch-capped token-budget water-filling — the data
# recipe's allocation stage (source_mixture's sqrt-temperature weights
# plus the <=N-epoch repeat cap every published recipe imposes).
# ---------------------------------------------------------------------

from .operators import sampling as _sampling  # noqa: E402

_MIX_SRC_DUCK = (
    "(SELECT doc_id, text, 'g' || CAST(CAST(floor(sqrt(doc_id % 100)) "
    "AS BIGINT) AS VARCHAR) AS source FROM documents)"
)


@query(
    "ns_mixture_capped",
    oracle=_sampling.mixture_plan_capped_oracle_sql(
        None, 1500, _MIX_SRC_DUCK, budget_permille_of_corpus=1200
    ),
)
def ns_mixture_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped water-filling (operators/sampling.mixture_plan_capped):
    sqrt-temperature ideal allocation, 1.5-epoch cap, one closed-form
    surplus-redistribution round with a final clamp, residue reported as
    unalloc_tokens. The corpus's uniform sources would make the cap
    bind all-or-none, so the row derives skewed sources (sqrt-bucketed
    doc_id -> group sizes 1,3,5,...,19) and a corpus-relative budget
    (1200 permille) — the capped/uncapped split (and at sf0.01 even the
    post-redistribution least-clamp) is exercised at EVERY test SF. All
    arithmetic exact BIGINT; every window runs on the 10-row source
    frame (metadata, not data)."""
    from .operators import sampling as _samp

    docs = spark.table("documents").select(
        "doc_id",
        "text",
        F.concat(
            F.lit("g"),
            F.floor(F.sqrt(F.col("doc_id") % 100)).cast("long").cast("string"),
        ).alias("source"),
    )
    return _samp.mixture_plan_capped(
        docs, budget_tokens=None, epoch_cap_milli=1500,
        budget_permille_of_corpus=1200,
    )


def _mix_bpe_oracle() -> str:
    from .operators import bpe as _bpe
    from .operators import sampling as _s

    return _s.mixture_plan_capped_oracle_sql(
        None,
        1500,
        _MIX_SRC_DUCK,
        budget_permille_of_corpus=1200,
        n_tokens_sql=_bpe.bpe_token_count_sql(_bpe.PINNED_MERGES),
    )


@query("ns_mixture_capped_bpe", oracle=_mix_bpe_oracle())
def ns_mixture_capped_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-complete mixture planning (NEW r9, VERDICT-r8 #7):
    the same epoch-capped water-filling as ns_mixture_capped, but
    budgets counted in REAL trained-BPE tokens (bpe.bpe_tokens_col
    under PINNED_MERGES) instead of whitespace words — the form a
    recipe needs when the training budget is denominated in tokenizer
    tokens. The merges ride as expression literals (chained JVM
    replaces, scan-speed); the oracle replays the merge fold per doc
    and the full allocation arithmetic."""
    from .operators import bpe as _bpe
    from .operators import sampling as _samp

    docs = spark.table("documents").select(
        "doc_id",
        "text",
        F.concat(
            F.lit("g"),
            F.floor(F.sqrt(F.col("doc_id") % 100)).cast("long").cast("string"),
        ).alias("source"),
    )
    return _samp.mixture_plan_capped(
        docs,
        budget_tokens=None,
        epoch_cap_milli=1500,
        budget_permille_of_corpus=1200,
        token_count=F.size(
            _bpe.bpe_tokens_col(F.col("text"), _bpe.PINNED_MERGES)
        ),
    )


# ---------------------------------------------------------------------
# r8 extension: label-propagation communities — the graph family's
# third leg (components = reachability, PageRank = centrality, LPA =
# densely-connected cluster membership).
# ---------------------------------------------------------------------

def _label_prop_duck(rounds: int = 3) -> str:
    """Unrolled-CTE DuckDB replay of operators.graph.label_propagation
    over the bidirectional customer<->supplier purchase graph (same
    edge construction as ns_pagerank): one (neighbor-label count ->
    deterministic mode) CTE pair per synchronous round, ties broken by
    smallest label, isolated nodes carrying their label forward."""
    parts = [
        """WITH nds AS (
      SELECT c_custkey * 2 AS node_id FROM customer
      UNION ALL
      SELECT s_suppkey * 2 + 1 AS node_id FROM supplier
    ),
    e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    eds AS (SELECT src, dst FROM e0
            UNION ALL
            SELECT dst AS src, src AS dst FROM e0),
    l0 AS (SELECT node_id, node_id AS community FROM nds)"""
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f""",
    c{k} AS (
      SELECT e.dst AS nid, l.community AS nbr_label,
        CAST(count(*) AS BIGINT) AS n
      FROM eds e JOIN l{p} l ON l.node_id = e.src
      GROUP BY e.dst, l.community
    ),
    m{k} AS (
      SELECT nid, nbr_label FROM (
        SELECT nid, nbr_label,
          row_number() OVER (PARTITION BY nid ORDER BY n DESC, nbr_label)
            AS rn
        FROM c{k}
      ) t WHERE rn = 1
    ),
    l{k} AS (
      SELECT p.node_id, COALESCE(m.nbr_label, p.community) AS community
      FROM l{p} p LEFT JOIN m{k} m ON m.nid = p.node_id
    )"""
        )
    parts.append(
        f"""
    SELECT l.node_id,
      CASE WHEN l.node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END
        AS node_type,
      l.community,
      CAST(count(*) OVER (PARTITION BY l.community) AS BIGINT)
        AS community_size
    FROM l{rounds} l
    ORDER BY l.node_id"""
    )
    return "".join(parts)


@query("ns_label_prop", oracle=_label_prop_duck(3))
def ns_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation
    (operators/graph.label_propagation, arXiv:0709.2938 with
    smallest-label tie-break) — 3 rounds over the bidirectional
    customer<->supplier purchase graph, every node's final community
    plus its size. The oracle unrolls the full trajectory as CTE
    layers (the ns_ppr_topk device), so a tie-break flip, a missed
    isolated-node carry-forward, or an asynchronous update in ANY
    round breaks the hash. The community-size window partitions by
    community (cluster-sized frames, never global)."""
    from .operators import graph as _graph
    from pyspark.sql.window import Window as _W

    c = spark.table("customer").select(
        (F.col("c_custkey") * 2).alias("node_id")
    )
    s = spark.table("supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node_id")
    )
    nodes = c.unionAll(s)
    o = spark.table("orders")
    li = spark.table("lineitem")
    # r10 OPTIMIZATION: one join pass exploding both edge directions
    # (see ns_pagerank) — label_propagation dedups internally.
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
    )
    lab = _graph.label_propagation(edges, nodes, rounds=3)
    return lab.select(
        "node_id",
        F.when(F.col("node_id") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        "community",
        F.count(F.lit(1))
        .over(_W.partitionBy("community"))
        .cast("long")
        .alias("community_size"),
    ).orderBy("node_id")


# ---------------------------------------------------------------------
# r8 extension: MinHash cross-corpus decontamination — the NEAR-dup
# counterpart to ns_bloom_cross_dedup (exact) and ns_decontamination
# (n-gram overlap): GPT-3-style fuzzy eval-set removal, banded so the
# train corpus is probed by broadcast, never paired quadratically.
# ---------------------------------------------------------------------

_XDECON_DUCK = (
    "WITH "
    + _SHINGLES_DUCK.format(where="")
    + """,
    sig AS (
      SELECT doc_id,
        min(md5(concat('0|', shingle))) AS h0,
        min(md5(concat('1|', shingle))) AS h1,
        min(md5(concat('2|', shingle))) AS h2,
        min(md5(concat('3|', shingle))) AS h3,
        min(md5(concat('4|', shingle))) AS h4,
        min(md5(concat('5|', shingle))) AS h5,
        min(md5(concat('6|', shingle))) AS h6,
        min(md5(concat('7|', shingle))) AS h7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, u.band, u.bsig FROM sig, LATERAL (
        SELECT unnest([0, 1, 2, 3]) AS band,
               unnest([md5(concat(h0, h1)), md5(concat(h2, h3)),
                       md5(concat(h4, h5)), md5(concat(h6, h7))]) AS bsig
      ) u
    ),
    cand AS (
      SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
      FROM bands t
      JOIN bands e ON t.band = e.band AND t.bsig = e.bsig
      WHERE t.doc_id % 10 <> 7 AND e.doc_id % 10 = 7
    ),
    ag AS (
      SELECT c.train_id, c.eval_id,
        CAST(floor((
            (CASE WHEN ts.h0 = es.h0 THEN 1 ELSE 0 END)
          + (CASE WHEN ts.h1 = es.h1 THEN 1 ELSE 0 END)
          + (CASE WHEN ts.h2 = es.h2 THEN 1 ELSE 0 END)
          + (CASE WHEN ts.h3 = es.h3 THEN 1 ELSE 0 END)
          + (CASE WHEN ts.h4 = es.h4 THEN 1 ELSE 0 END)
          + (CASE WHEN ts.h5 = es.h5 THEN 1 ELSE 0 END)
          + (CASE WHEN ts.h6 = es.h6 THEN 1 ELSE 0 END)
          + (CASE WHEN ts.h7 = es.h7 THEN 1 ELSE 0 END)
        ) * 1000 / 8) AS BIGINT) AS agree_milli
      FROM cand c
      JOIN sig ts ON ts.doc_id = c.train_id
      JOIN sig es ON es.doc_id = c.eval_id
    ),
    best AS (
      SELECT train_id, eval_id, agree_milli,
        row_number() OVER (
          PARTITION BY train_id ORDER BY agree_milli DESC, eval_id
        ) AS rn,
        CAST(count(*) OVER (PARTITION BY train_id) AS BIGINT)
          AS n_eval_candidates
      FROM ag
    )
    SELECT d.doc_id,
      coalesce(b.agree_milli >= 500, false) AS contaminated,
      coalesce(b.n_eval_candidates, 0) AS n_eval_candidates,
      coalesce(b.eval_id, -1) AS best_eval_id,
      coalesce(b.agree_milli, -1) AS best_agree_milli
    FROM documents d
    LEFT JOIN best b ON b.train_id = d.doc_id AND b.rn = 1
    WHERE d.doc_id % 10 <> 7
    ORDER BY d.doc_id
    """
)


@query("ns_minhash_decontamination", oracle=_XDECON_DUCK)
def ns_minhash_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH cross-corpus NEAR-dup decontamination
    (dedup.minhash_cross_decontaminate): eval slice = doc_id%10==7,
    train = the rest; any train doc sharing an LSH band bucket with an
    eval doc is verified by 8-permutation signature agreement
    (>=500 milli -> contaminated). Both eval-side tables broadcast —
    the train corpus is never paired quadratically and never
    re-shingled for verification. The decision is a column over EVERY
    train doc; -1 sentinels keep match-free rows exact-integer."""
    docs = spark.table("documents")
    train = docs.where(F.col("doc_id") % 10 != 7)
    ev = docs.where(F.col("doc_id") % 10 == 7)
    return dedup.minhash_cross_decontaminate(train, ev).orderBy("doc_id")


# ---------------------------------------------------------------------
# r8 extension: anchor-text aggregation per canonical target — the
# crawl-corpus signal between link extraction (ns_html_links) and the
# host rollup (ns_host_graph): what the web CALLS each page.
# ---------------------------------------------------------------------

_ANCHOR_IDX_DUCK = """
    WITH links AS (
      SELECT d.doc_id,
        'http://corp.test/doc/'
          || CAST((d.doc_id * 7 + s.i * 13 + 1) % 97 AS VARCHAR) AS target,
        'ref & note ' || CAST(s.i AS VARCHAR) AS anchor
      FROM documents d, generate_series(0, 2) s(i)
      WHERE s.i <= d.doc_id % 3
    ),
    pa AS (
      SELECT target, anchor, CAST(count(*) AS BIGINT) AS n
      FROM links GROUP BY target, anchor
    ),
    pt AS (
      SELECT target, CAST(sum(n) AS BIGINT) AS n_refs,
        CAST(count(*) AS BIGINT) AS n_anchors
      FROM pa GROUP BY target
    ),
    sc AS (
      SELECT target, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_docs
      FROM links GROUP BY target
    ),
    tp AS (
      SELECT target, anchor AS top_anchor, n AS top_anchor_refs FROM (
        SELECT target, anchor, n,
          row_number() OVER (PARTITION BY target ORDER BY n DESC, anchor)
            AS rn
        FROM pa
      ) t WHERE rn = 1
    )
    SELECT pt.target, pt.n_refs, sc.n_src_docs, pt.n_anchors,
      tp.top_anchor, tp.top_anchor_refs
    FROM pt JOIN sc USING (target) JOIN tp USING (target)
    ORDER BY pt.target
"""


@query("ns_anchor_text_index", oracle=_ANCHOR_IDX_DUCK)
def ns_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index (operators/urls.anchor_text_index) chained
    through the REAL html.parser kernel: the formula-linked synthetic
    pages (each page d links to (d*7+i*13+1)%97 with anchor
    'ref & note i' — entity + inline <b> tag inside the anchor) are
    parsed by html_links, hrefs canonicalized, and anchors aggregated
    per target (total refs, distinct source docs, distinct anchors,
    deterministic top anchor). The oracle replays the link FORMULA
    arithmetically and aggregates in SQL, so an entity-decoding,
    inline-tag, canonicalization, or tie-break bug anywhere in the
    chain breaks the hash. The only window partitions by target
    (anchor-vocabulary frames)."""
    from .operators import html as _html
    from .operators import urls as _urls

    pages = _html.with_synthetic_linked_html(spark.table("documents"))
    links = _html.html_links(pages)
    return _urls.anchor_text_index(links)


# ---------------------------------------------------------------------
# r10 ingest legs: email (EML/MBOX), RTF, markdown/LaTeX strip,
# conversation/SFT preparation
# ---------------------------------------------------------------------


@query("ns_eml_text", oracle=eml.eml_text_oracle_sql())
def ns_eml_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email text extraction (NEW r10 — the mail leg of the ingest
    stack): worker-side synthesis of REAL RFC 5322 + MIME messages
    (RFC 2047 base64 encoded-word Subject, multipart/alternative with
    a quoted-printable text/plain part and a base64 text/html part
    whose text splits across a <b> span; operators/eml.py), then the
    real parse back out via the stdlib email package — header decode,
    MIME walk, per-part transfer decode, HTML tag flattening. Subject
    = text[0:20], plain = text[20:80], html = text[80:140], so the
    oracle replays extraction as substr arithmetic — an encoded-word,
    boundary, transfer-decode, or tag-strip bug breaks the hash."""
    payloads = eml.with_synthetic_eml_payload(spark.table("documents"))
    return eml.eml_part_texts(payloads).orderBy("doc_id", "part_idx")


@query("ns_mbox_messages", oracle=eml.mbox_messages_oracle_sql())
def ns_mbox_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mailbox-archive splitting (NEW r10): doc d becomes a REAL RFC
    4155 mbox of 1 + d%2 full MIME messages; odd messages' bodies
    START with 'From the corpus: ' so the reversible mboxrd
    From-quoting is exercised by genuine separator-lookalikes. The
    operator splits on unquoted 'From ' lines, unquotes, and parses
    each message with the full EML kernel. Message m's subject is
    text[10m:10m+20] and its body text[25m+20:25m+60] (+ the odd-m
    prefix), so the oracle replays the framing as substr arithmetic —
    a quoting or split bug changes message counts or bodies and breaks
    the hash."""
    payloads = eml.with_synthetic_mbox_payload(spark.table("documents"))
    return eml.mbox_messages(payloads).orderBy("doc_id", "msg_idx")


@query("ns_rtf_text", oracle=rtf.rtf_text_oracle_sql())
def ns_rtf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF text extraction (NEW r10 — the legacy-office leg):
    worker-side synthesis of REAL RTF 1.9 documents (font/color-table
    skip destinations, an {\\*\\generator} ignorable destination,
    paragraphs split across {\\b ...} groups with deterministic \\'xx
    hex and \\uN? unicode escapes; operators/rtf.py), then the real
    tokenizer back out — group stack, destination skipping, both
    escape decoders, the \\uc fallback-skip rule. Paragraph p of doc d
    carries text[40p:40p+40), so the oracle replays extraction as
    substr arithmetic."""
    payloads = rtf.with_synthetic_rtf_payload(spark.table("documents"))
    return rtf.rtf_paragraphs(payloads).orderBy("doc_id", "para_idx")


@query("ns_markdown_strip", oracle=markup.markdown_strip_oracle_sql())
def ns_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown -> plain text (NEW r10): the corpus text is sliced
    into a synthetic markdown document (header, bold/italic,
    image-alt, link-text, blockquote, inline code, a dropped fence)
    with pure SQL concat, then stripped by the pure-JVM
    regexp_replace chain (operators/markup.py — whole-stage codegen,
    zero Python, zero shuffle). The oracle rebuilds the markdown for
    md_len (checking the synthesis) but states the expected PLAIN text
    closed-form as substr concatenation, so a pattern-order or
    capture-group bug breaks the hash."""
    return markup.markdown_plain(spark.table("documents")).orderBy("doc_id")


@query("ns_latex_strip", oracle=markup.latex_strip_oracle_sql())
def ns_latex_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LaTeX -> plain text (NEW r10, the arXiv-corpus leg): synthetic
    LaTeX (section, comment line, textbf/emph, inline math, itemize)
    built from corpus slices with SQL concat, stripped by the
    pure-JVM regexp chain: comments dropped, argument-keeping commands
    keep their argument, math dropped, environments and bare commands
    removed. Oracle device as ns_markdown_strip."""
    return markup.latex_plain(spark.table("documents")).orderBy("doc_id")


@query("ns_sft_turns", oracle=conversations.sft_turns_oracle_sql())
def ns_sft_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation flatten (NEW r10 — the instruction-tuning leg):
    doc d becomes a JSON conversation of 1 + d%4 alternating
    user/assistant turns (turn t's content = text[30t:30t+30)) built
    with to_json(transform(sequence(...))); the operator parses it
    back with from_json + posexplode into per-turn rows with word
    counts — pure JVM both directions, whole-stage codegen. The
    oracle replays the turns as substr arithmetic WITHOUT trusting the
    JSON round trip, so a schema, explode-order, or tokenize bug
    breaks the hash."""
    convs = conversations.with_synthetic_conversation(spark.table("documents"))
    return conversations.conversation_turns(convs).orderBy("doc_id", "turn_idx")


@query("ns_chat_template", oracle=conversations.chat_template_oracle_sql())
def ns_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template render (NEW r10): one packed training string per
    conversation — '<|role|>content' turns joined by newlines in turn
    order, via array_sort(collect_list(struct)) inside a plain groupBy
    (deterministic order with NO single-partition window). The oracle
    replays with string_agg(... ORDER BY turn_idx) over the
    substr-derived turns and cross-checks the rendered length
    arithmetically."""
    convs = conversations.with_synthetic_conversation(spark.table("documents"))
    turns = conversations.conversation_turns(convs)
    return conversations.chat_template_render(turns).orderBy("doc_id")


@query("ns_turn_dedup", oracle=conversations.turn_dedup_oracle_sql())
def ns_turn_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-level exact dedup (NEW r10): corpus-wide groupBy on
    (role, md5(content)) keeping the lexicographically-first
    (doc_id, turn_idx) occurrence — the cheap first pass that removes
    boilerplate repeated turns from SFT sets before MinHash. One
    hash-groupBy shuffle on a high-cardinality key. The oracle
    replays the argmin as integer arithmetic (min(doc_id*8+turn_idx))
    over the substr-derived turns."""
    convs = conversations.with_synthetic_conversation(spark.table("documents"))
    turns = conversations.conversation_turns(convs)
    return conversations.turn_dedup(turns).orderBy(
        "first_doc_id", "first_turn_idx", "role"
    )


@query("ns_tiff_decode", oracle=tiffcodec.tiff_decode_oracle_sql())
def ns_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF decode (NEW r10 — the scanned-document leg of the image
    stack): worker-side synthesis of REAL TIFF 6.0 files
    (operators/tiffcodec.py — strip-organized RGB, doc-parity
    byte order so BOTH II and MM paths run, PackBits RLE every third
    doc, multi-strip layout with the inline-vs-offset IFD value rule),
    then the real reader back out — IFD walk, strip assembly, RLE
    expansion — with dims/endianness/compression/strip-count/pixel-sum
    replayed arithmetically by the oracle. An IFD-offset, endianness,
    left-justified-inline-value, or PackBits bug breaks the hash."""
    payloads = tiffcodec.with_synthetic_tiff_payload(spark.table("documents"))
    return tiffcodec.tiff_decode_stats(payloads).orderBy("doc_id")


@query("ns_html_tables", oracle=_html_mod.synthetic_tables_oracle_sql())
def ns_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction (NEW r10 — the tabular-data leg of the
    crawl stack): synthetic pages each carry one table (a <th> header
    row plus 1 + d%3 body rows x 2 cols, the first body cell split
    across an inline <b> span) built with pure SQL concat; the REAL
    html.parser cell collector walks table/tr/td-th attributing cells
    to the innermost table, flattens inline tags, and collapses
    whitespace. Body cell (r, c) carries text[20(2r+c) : +20), so the
    oracle replays cells as substr arithmetic."""
    pages = _html_mod.with_synthetic_table_html(spark.table("documents"))
    return _html_mod.html_tables(pages).orderBy(
        "doc_id", "table_idx", "row_idx", "col_idx"
    )


@query("ns_eml_attachment_decode", oracle=eml.eml_attachment_oracle_sql())
def ns_eml_attachment_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email attachment -> image decode (NEW r10 — the cross-modal
    composition of the mail leg with the media stack): doc d becomes a
    REAL multipart/mixed message whose base64 image/bmp attachment is
    a constant-color BMP with doc-arithmetic dims/colors; the operator
    walks the MIME tree, transfer-decodes the binary part, and runs
    the real BMP reader, emitting filename/size/dims/pixel-sum. The
    oracle replays everything arithmetically (BMP size = 54 + h *
    pad4(3w)), so a MIME-walk, base64, disposition, or BMP-stride bug
    breaks the hash."""
    payloads = eml.with_synthetic_eml_attachment_payload(
        spark.table("documents")
    )
    return eml.eml_attachment_stats(payloads).orderBy("doc_id")


@query("ns_sft_packing", oracle=conversations.sft_packing_oracle_sql())
def ns_sft_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT batch packing (NEW r10): rendered conversations packed into
    512-token training sequences with the concat-and-chunk discipline
    (ns_sequence_packing's device over the conversation corpus) —
    conversation cost = word count + 2 sentinels per turn, assignment
    by cumsum floor division. The oracle replays turn synthesis,
    costing, and packing as substr + integer arithmetic. The global
    cumsum is the one ordered window (per-shard at 100 TB, same
    expression, as documented for ns_sequence_packing)."""
    convs = conversations.with_synthetic_conversation(spark.table("documents"))
    turns = conversations.conversation_turns(convs)
    return conversations.conversation_packing(turns).orderBy("pack_id")


# ---------------------------------------------------------------------
# preference / RLHF data-prep family (NEW r10): reward-model pair
# mining, win-rate matrices, Bradley-Terry strengths, annotator
# agreement — operators/preference.py
# ---------------------------------------------------------------------


@query("ns_preference_pairs", oracle=preference.preference_pairs_oracle_sql())
def ns_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reward-model pair mining (NEW r10): K deterministic generations
    per prompt (closed-form integer scores over documents), then every
    (chosen, rejected) pair with score margin >= 40. The heavy step is
    a per-prompt self-equi-join with bounded K^2 fan-out — linear at
    100 TB. Oracle replays score synthesis + join closed-form."""
    gens = preference.with_synthetic_generations(spark.table("documents"))
    return preference.preference_pairs(gens).orderBy(
        "prompt_id", "chosen_model", "rejected_model"
    )


@query("ns_winrate_matrix", oracle=preference.winrate_matrix_oracle_sql())
def ns_winrate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-vs-model win-rate matrix from the mined pairs: one
    groupBy to a K^2-row matrix with exact micro-unit win rates
    (integral divide of two counts — engine-portable)."""
    gens = preference.with_synthetic_generations(spark.table("documents"))
    pairs = preference.preference_pairs(gens)
    return preference.winrate_matrix(pairs).orderBy("model_a", "model_b")


@query("ns_bt_scores", oracle=preference.bt_scores_oracle_sql())
def ns_bt_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths by 3 fixed MM iterations in micro-unit
    integer arithmetic (the pagerank/LR trajectory device): the
    comparison graph is aggregated once from the distributed pairs
    table, then the iteration joins K_MODELS-row frames. The oracle
    unrolls the identical trajectory as CTEs."""
    gens = preference.with_synthetic_generations(spark.table("documents"))
    pairs = preference.preference_pairs(gens)
    return preference.bt_scores(pairs).orderBy("model_id")


@query("ns_fleiss_kappa", oracle=preference.fleiss_kappa_oracle_sql())
def ns_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Fleiss' kappa) over synthetic
    5-rater categorical labels, exact micro-units: two groupBys over
    the annotation table, DECIMAL(38,0)/HUGEINT widening before each
    integral divide, sign factored out so Spark's truncating div and
    DuckDB's flooring // agree on negative kappa."""
    ann = preference.with_synthetic_annotations(spark.table("documents"))
    return preference.fleiss_kappa(ann)


@query("ns_length_bias", oracle=preference.length_bias_oracle_sql())
def ns_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbosity-bias QC for the mined preference pairs (NEW r10):
    per model pair, how often the chosen response is the longer one
    (count + micro-rate) and the exact micro-unit covariance between
    score margin and signed length difference — the standard check
    that a reward dataset isn't just teaching "longer is better".
    Bounded self-equi-join + one groupBy; sums widened to
    DECIMAL(38,0)/HUGEINT, sign factored out of the divide."""
    gens = preference.with_synthetic_generations(spark.table("documents"))
    return preference.length_bias(gens).orderBy("model_a", "model_b")


@query("ns_token_fertility", oracle=bpe_mod.token_fertility_oracle_sql())
def ns_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language (NEW r10): chars-per-token and
    tokens-per-word under the PINNED trained-BPE vocabulary, per
    language — the multilingual vocabulary-coverage table a recipe
    planner budgets from. One aggregation pass; the merge fold rides
    as chained JVM replaces at scan speed; ratios are exact
    micro-units."""
    return bpe_mod.token_fertility_by_lang(spark.table("documents")).orderBy(
        "lang"
    )


@query("ns_best_of_n", oracle=preference.best_of_n_oracle_sql())
def ns_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-N rejection sampling (NEW r10): top-scored generation
    per prompt with a deterministic tiebreak, plus the margin over the
    runner-up (the BoN confidence gate). One per-prompt window over K
    bounded rows — partitioned by the prompt key, never global."""
    gens = preference.with_synthetic_generations(spark.table("documents"))
    return preference.best_of_n(gens).orderBy("prompt_id")


@query("ns_group_advantage", oracle=preference.group_advantage_oracle_sql())
def ns_group_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage (NEW r10, the GRPO-style signal):
    each generation scored against its prompt group's mean in exact
    micro-units, with the group range as the degenerate-group filter.
    One map-side-combinable aggregate + one co-partitioned equi-join."""
    gens = preference.with_synthetic_generations(spark.table("documents"))
    return preference.group_advantage(gens).orderBy("prompt_id", "model_id")


@query(
    "ns_packing_efficiency",
    oracle=conversations.packing_efficiency_oracle_sql(),
)
def ns_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report over the SFT packs (NEW r10): fill-decile
    histogram with token extremes — the diagnostic a trainer reads
    before fixing a sequence length. Composes the full packing chain;
    the rollup is one groupBy over the packs frame."""
    convs = conversations.with_synthetic_conversation(spark.table("documents"))
    turns = conversations.conversation_turns(convs)
    packs = conversations.conversation_packing(turns)
    return conversations.packing_efficiency(packs).orderBy("fill_decile")


@query("ns_kn_bigram_lm", oracle=text.kn_bigram_oracle_sql())
def ns_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (NEW r10): per-doc
    average NLL under the corpus-trained KN bigram model — one order
    above the CCNet-style unigram scorer, exact integer micro-unit
    smoothing with the proven micro-nat ln quantization. Type-table
    groupBys + one co-partitioned (w1, w2) equi-join."""
    return text.kn_bigram_logprob(spark.table("documents")).orderBy("doc_id")


@query("ns_char_entropy", oracle=text.char_entropy_oracle_sql())
def ns_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (NEW r10): the
    gibberish / encoding-noise band filter, engine-exact via integer
    character counts + micro-nat ln quantization. Explode + two
    groupBys — linear, no window."""
    return text.char_entropy(spark.table("documents")).orderBy("doc_id")
