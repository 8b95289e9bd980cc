"""Extended north-star queries: multimodal binary processing (mapInPandas),
SimHash dedup, and the Structured Streaming ingestion mode.

The multimodal oracles work because the payloads here are utf-8 text bytes
(ASCII corpus): octet_length/ascii reproduce the Python-side byte math
exactly, which validates the Arrow/mapInPandas plumbing itself.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import spark_round6
from ..functions.text import EN_STOPWORDS
from ..operators.multimodal import attach_binary, frame_features
from ..operators.simhash import N_BITS, simhash_pairs
from ..sources.tables import load_table
from .registry import query
from .text_queries import _NORM, _sql_list

_QUALITY_STOPWORDS = _sql_list(EN_STOPWORDS)


try:
    from .codec_golden import CODEC_GOLDEN_SQL as _CODEC_GOLDEN
except ImportError:  # golden not generated yet → honest rows-only check
    _CODEC_GOLDEN = None

try:
    from .sniff_golden import CODEC_SNIFF_SRC_SQL as _SNIFF_SRC
except ImportError:
    _SNIFF_SRC = None

# The sniff oracle re-runs the magic dispatch in SQL over the REAL
# fixture bytes (hex slices in sniff_golden.py — first 32 bytes + the
# tar probe at offset 257). Branch ORDER mirrors
# operators/mediameta.py::sniff_format (tar first — its magic sits at
# 257, so weak leading magics must not shadow it). Lowercase-hex string
# compares are exact byte compares: 2-char lowercase hex is
# lexicographically monotone in the byte value.
_SNIFF_CASE = """
      CASE
        WHEN tarmagic = '7573746172' THEN 'tar'
        WHEN substr(pre, 1, 16) = '89504e470d0a1a0a' THEN 'png'
        WHEN substr(pre, 1, 4) = 'ffd8' THEN 'jpeg'
        WHEN substr(pre, 1, 12) IN ('474946383761', '474946383961')
          THEN 'gif'
        WHEN substr(pre, 1, 8) = '52494646'
             AND substr(pre, 17, 8) = '57454250' THEN 'webp'
        WHEN substr(pre, 1, 8) IN ('49492a00', '4d4d002a') THEN 'tiff'
        WHEN substr(pre, 1, 16) = '974a42320d0a1a0a' THEN 'jbig2'
        WHEN substr(pre, 1, 4) = '424d' THEN 'bmp'
        WHEN substr(pre, 1, 4) IN ('5034', '5035', '5036') THEN 'pnm'
        WHEN substr(pre, 1, 8) = '52494646'
             AND substr(pre, 17, 8) = '57415645' THEN 'wav'
        WHEN substr(pre, 1, 8) = '664c6143' THEN 'flac'
        WHEN substr(pre, 1, 6) = '494433' THEN 'mp3'
        WHEN substr(pre, 1, 2) = 'ff' AND len(pre) >= 4
             AND substr(pre, 3, 2) >= 'e0' THEN 'mp3'
        WHEN substr(pre, 1, 8) = '4f676753' THEN 'ogg'
        WHEN substr(pre, 9, 8) = '66747970' THEN 'mp4'
        WHEN substr(pre, 1, 8) = '1a45dfa3' THEN 'mkv'
        WHEN substr(pre, 1, 8) = '52494646'
             AND substr(pre, 17, 8) = '41564920' THEN 'avi'
        WHEN substr(pre, 1, 4) = '1f8b' THEN 'gzip'
        WHEN substr(pre, 1, 6) = '425a68' AND len(pre) >= 8
             AND substr(pre, 7, 2) >= '31'
             AND substr(pre, 7, 2) <= '39' THEN 'bzip2'
        WHEN substr(pre, 1, 12) = 'fd377a585a00' THEN 'xz'
        WHEN substr(pre, 1, 8) IN ('504b0304', '504b0506') THEN 'zip'
        WHEN substr(pre, 1, 10) = '574152432f' THEN 'warc'
        WHEN substr(pre, 1, 10) = '255044462d' THEN 'pdf'
        WHEN substr(pre, 1, 10) = '7b5c727466' THEN 'rtf'
      END
"""

_SNIFF_ORACLE = None if _SNIFF_SRC is None else f"""
    SELECT 'codec_sniff' AS section, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(NULL AS INT) AS frame_idx, CAST(NULL AS INT) AS frame_len,
           CAST(NULL AS INT) AS first_byte, CAST(NULL AS INT) AS last_byte,
           fmt,
           CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CASE
             WHEN fmt IN ('png', 'jpeg', 'gif', 'webp', 'tiff', 'jbig2',
                          'bmp', 'pnm') THEN 'image'
             WHEN fmt IN ('wav', 'flac', 'mp3', 'ogg') THEN 'audio'
             WHEN fmt IN ('mp4', 'mkv', 'avi') THEN 'video'
             WHEN fmt IN ('gzip', 'zip', 'tar', 'warc', 'bzip2',
                          'xz') THEN 'archive'
             WHEN fmt IN ('pdf', 'rtf') THEN 'document'
             ELSE 'unknown'
           END AS fp
    FROM (
      SELECT doc_id, {_SNIFF_CASE} AS fmt
      FROM ({_SNIFF_SRC})
    )
"""

_FRAMES_ORACLE = """
    WITH b AS (
      SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n FROM documents
    )
    SELECT 'frames' AS section, doc_id, CAST(i AS INT) AS frame_idx,
           CAST(least(16, n - i * 16) AS INT) AS frame_len,
           CAST(ascii(substr(text, CAST(i * 16 + 1 AS INT), 1)) AS INT) AS first_byte,
           CAST(ascii(substr(text, CAST(i * 16 + least(16, n - i * 16) AS INT), 1)) AS INT) AS last_byte,
           CAST(NULL AS VARCHAR) AS fmt, CAST(NULL AS INT) AS width,
           CAST(NULL AS INT) AS height, CAST(NULL AS VARCHAR) AS fp
    FROM b, unnest(generate_series(0, CAST(ceil(n / 16.0) AS BIGINT) - 1)) AS t(i)
"""


@query(
    "multimodal_frame_features",
    oracle=None if _CODEC_GOLDEN is None or _SNIFF_ORACLE is None
    else _FRAMES_ORACLE + f"""
    UNION ALL
    SELECT 'codec' AS section, CAST(doc_id AS BIGINT), CAST(NULL AS INT),
           CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
           fmt, width, height, fp
    FROM ({_CODEC_GOLDEN})
    UNION ALL
    {_SNIFF_ORACLE}
    """,
)
def multimodal_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal pipeline end-to-end, tag-unioned (r10):

    - section='frames': binary payload + metadata modeling → fixed-stride
      frame sampling (video/audio chunk access pattern) → per-frame
      feature extraction, fused in one Arrow-batched mapInPandas pass
      (fan-out stays in-partition, payload scanned once). The ASCII
      corpus makes byte features oracle-checkable via substr/ascii.
    - section='codec': the REAL decode/probe surface under a golden
      oracle — every payload of the committed fixture corpus
      (plans/codec_check.py: PNG matrix, baseline+progressive JPEG, GIF,
      BMP, PPM, the full WAV matrix, MP4 boxes, WebP headers, plus
      deliberate corrupt/unsupported blobs) decoded via
      decode_image/decode_audio/image_meta/video_meta and fingerprinted;
      the oracle replays the generated golden VALUES
      (tools/make_codec_fixture.py), so any decoder regression flips the
      driver's hash match.
    - section='codec_sniff' (r13, VERDICT r12 item 1): sniff_format's
      pure-Column magic routing over the SAME fixture payloads; the
      oracle re-runs the magic CASE in SQL over hex slices of the real
      bytes (plans/sniff_golden.py), so the dispatch table — including
      the tar-at-257 ordering — is value-verified, not just
      pytest-pinned."""
    from .codec_check import CODEC_FIXTURE_PATH, codec_stats
    from ..operators.mediameta import sniff_format

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    frames = frame_features(attach_binary(docs), frame_bytes=16).select(
        F.lit("frames").alias("section"),
        "doc_id", "frame_idx", "frame_len", "first_byte", "last_byte",
        F.lit(None).cast("string").alias("fmt"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("string").alias("fp"),
    )
    codec = codec_stats(spark).select(
        F.lit("codec").alias("section"),
        "doc_id",
        F.lit(None).cast("int").alias("frame_idx"),
        F.lit(None).cast("int").alias("frame_len"),
        F.lit(None).cast("int").alias("first_byte"),
        F.lit(None).cast("int").alias("last_byte"),
        "fmt", "width", "height", "fp",
    )
    sniff = sniff_format(
        spark.read.parquet(CODEC_FIXTURE_PATH)
        .select(F.col("payload_id").alias("doc_id"), "payload")
    ).select(
        F.lit("codec_sniff").alias("section"),
        "doc_id",
        F.lit(None).cast("int").alias("frame_idx"),
        F.lit(None).cast("int").alias("frame_len"),
        F.lit(None).cast("int").alias("first_byte"),
        F.lit(None).cast("int").alias("last_byte"),
        F.col("sniff_format").alias("fmt"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.col("sniff_family").alias("fp"),
    )
    return frames.unionByName(codec).unionByName(sniff)


def _simhash_oracle_core() -> str:
    hexpos = "strpos('0123456789abcdef', substr(hx, {j}, 1)) - 1"
    bit_sums = ",\n             ".join(
        f"SUM((({hexpos.format(j=j + 1)}) % 2) * 2 - 1) AS b{j}" for j in range(N_BITS)
    )
    sig = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(N_BITS))
    return f"""
    WITH n AS (
      SELECT doc_id, {_NORM.format(col='text')} AS norm FROM documents
    ), toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS tok
      FROM n WHERE norm <> ''
    ), h AS (
      SELECT doc_id, md5(tok) AS hx FROM toks
    ), sums AS (
      SELECT doc_id,
             {bit_sums}
      FROM h GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums
    )
    """


# The per-doc SimHash signature is driver-verified through
# `dedup_simhash_pairs` / `dedup_connected_components` (both recompute the
# identical signature in their oracles) and property-tested in
# tests/test_operators.py.


def _hex15_to_bigint(col: str) -> str:
    """Exact 60-bit integer from the first 15 hex digits of an md5 —
    pure integer arithmetic (DuckDB power() returns DOUBLE, which goes
    inexact past 2^53, so each digit multiplies a BIGINT literal)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {j + 1}, 1)) - 1) "
        f"* {16 ** (14 - j)}::BIGINT"
        for j in range(15)
    )
    return f"CAST({terms} AS BIGINT)"


def _neardup_methods_oracle() -> str:
    from .vector_queries import _cos

    return (
        _simhash_oracle_core()
        + f"""
    , halves AS (
      SELECT doc_id, simhash, simhash % 256 AS lo,
             CAST(floor(simhash / 256) AS BIGINT) AS hi
      FROM sig WHERE doc_id % 7 = 0
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM halves a JOIN halves b ON a.lo = b.lo AND a.doc_id < b.doc_id
      UNION
      SELECT a.doc_id, b.doc_id,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
      FROM halves a JOIN halves b ON a.hi = b.hi AND a.doc_id < b.doc_id
    ), emb_s AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings WHERE vec_id % 10 = 0
    ), emb_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_cos('a.embedding', 'b.embedding')} AS cos
      FROM emb_s a JOIN emb_s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), emb_top AS (
      SELECT id_a, id_b,
             floor(cos * 1000000.0 + 0.5) / 1000000.0 AS score
      FROM emb_pairs
      ORDER BY floor(cos * 1000000.0 + 0.5) / 1000000.0 DESC, id_a, id_b
      LIMIT 5
    ), fz AS (
      SELECT c_custkey AS id, c_name AS t FROM customer
      WHERE c_name IS NOT NULL AND c_custkey % 3 = 0
    ), fzk AS (
      SELECT id, t, t AS k FROM fz
      UNION
      SELECT id, t,
             substr(t, 1, CAST(i AS INT) - 1)
             || substr(t, CAST(i AS INT) + 1, length(t)) AS k
      FROM fz, UNNEST(range(1, length(t) + 1)) AS u(i)
    ), fz_cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.t AS ta, b.t AS tb
      FROM fzk a JOIN fzk b ON a.k = b.k AND a.id < b.id
    ), fz_pairs AS (
      SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS DOUBLE) AS score
      FROM fz_cand WHERE levenshtein(ta, tb) <= 1
    )
    , ph_base AS (
      SELECT doc_id,
             md5('ph:' || CAST(doc_id // 4 AS VARCHAR)) AS hx
      FROM documents WHERE doc_id % 10 < 4
    ), ph_int AS (
      SELECT doc_id,
             {_hex15_to_bigint('hx')} AS base
      FROM ph_base
    ), ph AS (
      SELECT doc_id,
        xor(xor(xor(base,
          CASE WHEN doc_id % 4 >= 1
               THEN (1::BIGINT << CAST(doc_id % 60 AS INT)) ELSE 0 END),
          CASE WHEN doc_id % 4 >= 2
               THEN (1::BIGINT << CAST((doc_id + 21) % 60 AS INT))
               ELSE 0 END),
          CASE WHEN doc_id % 4 >= 3
               THEN (1::BIGINT << CAST((doc_id + 43) % 60 AS INT))
               ELSE 0 END) AS h
      FROM ph_int
    ), phb AS (
      SELECT doc_id, h, 0 AS bi, (h >> 48) & 65535 AS b FROM ph
      UNION ALL SELECT doc_id, h, 1, (h >> 32) & 65535 FROM ph
      UNION ALL SELECT doc_id, h, 2, (h >> 16) & 65535 FROM ph
      UNION ALL SELECT doc_id, h, 3, h & 65535 FROM ph
    ), ph_cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.h, b.h)) AS INT) AS ham
      FROM phb a JOIN phb b
        ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id
    ), ph_pairs AS (
      SELECT id_a, id_b, CAST(ham AS DOUBLE) AS score
      FROM ph_cand WHERE ham <= 3
    )
    SELECT 'simhash' AS method, doc_a AS id_a, doc_b AS id_b,
           CAST(hamming AS DOUBLE) AS score
    FROM cand WHERE hamming <= 4
    UNION ALL
    SELECT 'embedding' AS method, id_a, id_b, score FROM emb_top
    UNION ALL
    SELECT 'fuzzy_name' AS method, id_a, id_b, score FROM fz_pairs
    UNION ALL
    SELECT 'phash' AS method, id_a, id_b, score FROM ph_pairs
    """
    )


@query("neardup_pairs_methods", oracle=_neardup_methods_oracle())
def neardup_pairs_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair detectors under one driver row (r6 consolidation
    of `dedup_simhash_pairs` + `embedding_neardup_pairs`, joined later in
    r6 by the fuzzy-key detector — all share the (id_a, id_b, score) pair
    shape, so a tag-union verifies every sub-quadratic candidate plan side
    by side).

    `simhash`: Hamming-LSH banding on signature halves (ONE equi-join
    on a band key that folds the band index into its value — never a
    cross join), exact bit_count rescore; score = Hamming distance. `embedding`: most-similar cosine pairs within a
    deterministic sample, candidates from the sign-LSH bucket equi-join
    (near-identical vectors share every hyperplane sign); score = cosine.
    `fuzzy_name`: edit-distance ≤ 1 entity resolution over customer names
    via symmetric-delete blocking (operators/fuzzy.py — the deletion
    neighborhood provably covers every distance-1 pair; candidates from a
    hash equi-join, exact Levenshtein rescore); score = distance.
    `phash` (late r11): the perceptual-image-hash pair machinery
    (operators/imagehash.py ``near_dup_image_pairs`` — (k+1)-band
    pigeonhole blocking, EXACT recall at the radius, bit_count verify)
    over deterministically minted 60-bit codes: documents rows share an
    md5-derived base per id-quad with 0-3 id-addressed bit flips, so
    planted near-pairs at every Hamming distance exist and the oracle
    re-derives the identical banding in SQL. All four keep candidate
    generation bucketed/blocked — the property pinned in
    tests/test_scale_plans.py."""
    from ..operators.fuzzy import fuzzy_self_pairs
    from ..operators.imagehash import near_dup_image_pairs
    from ..operators.similarity import most_similar_pairs

    docs = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.col("doc_id") % 7 == 0
    )
    sh = simhash_pairs(docs, max_hamming=4).select(
        F.lit("simhash").alias("method"),
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("hamming").cast("double").alias("score"),
    )
    emb = most_similar_pairs(
        load_table(spark, sf_dir, "embeddings", rebalance=True),
        top_n=5,
        sample_mod=10,
    ).select(
        F.lit("embedding").alias("method"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("cosine").alias("score"),
    )
    fz = fuzzy_self_pairs(
        load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0),
        "c_custkey",
        "c_name",
    ).select(
        F.lit("fuzzy_name").alias("method"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("dist").cast("double").alias("score"),
    )
    hashes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 < 4)
        .selectExpr(
            "doc_id",
            "cast(conv(substring(md5(concat('ph:', "
            "cast(doc_id div 4 as string))), 1, 15), 16, 10) "
            "as bigint) as base",
        )
        .selectExpr(
            "doc_id",
            """base
            ^ (case when doc_id % 4 >= 1 then
                 shiftleft(cast(1 as bigint), cast(doc_id % 60 as int))
               else 0 end)
            ^ (case when doc_id % 4 >= 2 then
                 shiftleft(cast(1 as bigint),
                           cast((doc_id + 21) % 60 as int))
               else 0 end)
            ^ (case when doc_id % 4 >= 3 then
                 shiftleft(cast(1 as bigint),
                           cast((doc_id + 43) % 60 as int))
               else 0 end) as dhash""",
        )
    )
    ph = near_dup_image_pairs(hashes, max_hamming=3).select(
        F.lit("phash").alias("method"),
        F.col("doc_id_a").alias("id_a"),
        F.col("doc_id_b").alias("id_b"),
        F.col("hamming").cast("double").alias("score"),
    )
    return sh.unionByName(emb).unionByName(fz).unionByName(ph)


_CC_CTES_H = """
    , halves AS (
      SELECT doc_id, simhash, simhash % 256 AS lo,
             CAST(floor(simhash / 256) AS BIGINT) AS hi
      FROM sig WHERE doc_id % 7 = 0
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM halves a JOIN halves b ON a.lo = b.lo AND a.doc_id < b.doc_id
        AND bit_count(xor(a.simhash, b.simhash)) <= {h}
      UNION
      SELECT a.doc_id, b.doc_id
      FROM halves a JOIN halves b ON a.hi = b.hi AND a.doc_id < b.doc_id
        AND bit_count(xor(a.simhash, b.simhash)) <= {h}
    ), bidir AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b, doc_a FROM cand
    ), reach(node, label) AS (
      SELECT a, a FROM bidir
      UNION
      SELECT e.b, r.label FROM reach r JOIN bidir e ON r.node = e.a
    ), cc AS (
      SELECT node AS doc_id, MIN(label) AS canonical_id FROM reach GROUP BY node
    )
"""


@query(
    "dedup_connected_components",
    oracle=_simhash_oracle_core().replace("WITH n AS", "WITH RECURSIVE n AS", 1)
    + _CC_CTES_H.format(h=4)
    + """
    SELECT doc_id, canonical_id FROM cc
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assembly: SimHash near-dup pairs → connected
    components by spanning-forest reduction (one eager edges checkpoint,
    then one union-find ``mapInArrow`` task per partition per halving
    round; one round below 100k edges).
    Oracle = DuckDB recursive CTE over the identical pair graph."""
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.col("doc_id") % 7 == 0
    )
    pairs = simhash_pairs(docs, max_hamming=4)
    return connected_components(pairs)




@query(
    "dedup_survivors",
    oracle=_simhash_oracle_core().replace("WITH n AS", "WITH RECURSIVE n AS", 1)
    + _CC_CTES_H.format(h=1)
    + """
    , qn AS (
      SELECT doc_id, text, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS qnorm
      FROM documents WHERE doc_id % 7 = 0
    ), qs AS (
      SELECT doc_id,
             CAST(CASE WHEN qnorm = '' THEN 0 ELSE len(string_split(qnorm, ' ')) END AS DOUBLE) AS nt,
             CAST(COALESCE(length(text), 0) AS DOUBLE) AS ln,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
             CAST(len(list_filter(string_split(qnorm, ' '),
                                  x -> list_contains(""" + _QUALITY_STOPWORDS + """, x))) AS DOUBLE) AS sw
      FROM qn
    ), quality AS (
      SELECT doc_id,
             floor((0.5 * least(1.0, nt / 64.0)
                   + 0.3 * (1.0 - CASE WHEN ln > 0 THEN np / ln ELSE 0.0 END)
                   + 0.2 * CASE WHEN nt > 0 THEN sw / nt ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS q
      FROM qs
    ), ranked AS (
      SELECT cc.canonical_id, cc.doc_id, quality.q,
             COUNT(*) OVER (PARTITION BY cc.canonical_id) AS n_members,
             ROW_NUMBER() OVER (PARTITION BY cc.canonical_id
                                ORDER BY quality.q DESC, cc.doc_id) AS rn
      FROM cc JOIN quality USING (doc_id)
    )
    SELECT canonical_id, doc_id AS survivor_id,
           CAST(n_members AS BIGINT) AS n_members, q AS survivor_quality
    FROM ranked WHERE rn = 1
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: near-dup pairs → duplicate clusters (CC) → keep
    the highest-quality member per cluster. Composes SimHash LSH,
    spanning-forest connected components, and the quality heuristic into
    the op a training-data pipeline actually runs: 'which copy survives'. Survivor selection
    is ONE aggregation (count + min_by argmax with the (-q, doc_id)
    ordering struct == q DESC, doc_id ASC) instead of two windows — partial
    aggregation, no per-cluster sort."""
    from ..functions.text import quality_score
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.col("doc_id") % 7 == 0
    )
    pairs = simhash_pairs(docs, max_hamming=1)
    cc = connected_components(pairs)
    quality = docs.selectExpr(
        "doc_id", f"{spark_round6(quality_score('text'))} AS q")
    j = cc.join(quality, "doc_id")
    best = j.groupBy("canonical_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min_by(
            F.struct("doc_id", "q"),
            F.struct((-F.col("q")).alias("_nq"), F.col("doc_id")),
        ).alias("_b"),
    )
    return best.select(
        "canonical_id",
        F.col("_b.doc_id").alias("survivor_id"),
        "n_members",
        F.col("_b.q").alias("survivor_quality"),
    )


@query(
    "streaming_ingest_modes",
    oracle="""
    SELECT 'tumbling' AS mode,
           epoch_us(date_trunc('hour', ts)) AS t_us,
           CAST(NULL AS BIGINT) AS user_id,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 2, 4
    UNION ALL
    SELECT DISTINCT 'dedup',
           epoch_us(time_bucket(INTERVAL '1 minute', ts)),
           user_id, event_type,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM events
    """,
)
def streaming_ingest_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Structured Streaming ingestion modes under one driver row (r6
    consolidation of `streaming_tumbling_counts` + `streaming_dedup_keys`;
    both availableNow drains of the events table, tag-unioned on a common
    schema).

    `tumbling`: watermarked tumbling-window aggregation into a memory sink
    — same results as the batch GROUP BY (checked by the oracle), computed
    by the streaming engine with bounded state. `dedup`: streaming exact
    dedup with bounded state (dropDuplicatesWithinWatermark) — duplicate
    (user, type, minute) arrivals inside the watermark horizon collapse to
    one row and state older than the watermark is dropped; only key
    columns are emitted (which duplicate wins is arrival-order-dependent;
    the key set is not)."""
    import tempfile

    from ..streaming.ingest import (
        read_events_stream,
        run_available_now,
        tumbling_event_counts,
    )

    name = f"stream_counts_{uuid.uuid4().hex[:8]}"
    agg = tumbling_event_counts(
        read_events_stream(spark, sf_dir), window="1 hour", watermark="2 hours"
    )
    run_available_now(agg, tempfile.mkdtemp(prefix="ckpt_"), name)
    tumbling = spark.table(name).select(
        F.lit("tumbling").alias("mode"),
        F.col("window_start_us").alias("t_us"),
        F.lit(None).cast("long").alias("user_id"),
        "event_type",
        "n_events",
        "sum_value",
    )

    keyed = (
        read_events_stream(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute"),
            F.col("ts"),
        )
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute"])
        .select(
            F.lit("dedup").alias("mode"),
            F.unix_micros("minute").alias("t_us"),
            "user_id",
            "event_type",
            F.lit(None).cast("long").alias("n_events"),
            F.lit(None).cast("double").alias("sum_value"),
        )
    )
    dname = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        keyed.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .outputMode("append")
        .format("memory")
        .queryName(dname)
        .start()
    )
    q.awaitTermination()
    return tumbling.unionByName(spark.table(dname))
