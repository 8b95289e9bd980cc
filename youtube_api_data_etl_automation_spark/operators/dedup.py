"""Deduplication operator family for LLM-data pipelines (north-star ops).

The pair variants are pure DataFrame compositions — no Python UDFs — so they
run JVM-side and scale by partitioning on the dedup key:

- exact:        md5 content fingerprint → groupBy. Shuffles only
                (fingerprint, doc_id) pairs, never document bodies.
- ngram-jaccard: shingle explode → self-join on shingle → Jaccard. The join
                key is the shingle, so frequency-skewed shingles are the
                scale hazard — cap expansion by deduping (doc, shingle)
                first and filtering ultra-common shingles if needed.
- MinHash+LSH:  per-doc signature = min over shingle hashes for k seeded
                permutations (a groupBy, fully parallel); banding turns
                near-dup search into an equi-join on (band, band_hash) —
                the classic sub-quadratic candidate generation at 100 TB.
- clusters:     connected components: per-partition union-find rounds.

Hashes are md5 hex strings (not engine-native ``hash()``) so results are
reproducible across engines — which is exactly what the DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.rounding import round6
from ..functions.text import doc_fingerprint, tokens, word_shingles_t


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group exact-content duplicates: one row per distinct normalized text,
    with the canonical (minimum) id and the copy count."""
    return (
        docs.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 k: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs — the input relation for Jaccard/MinHash.

    Tokens are projected to a column before shingling so the interpreted
    transform() lambda slices a bound array instead of re-running
    normalize+split per shingle index (functions.text.tokens perf note).

    explode_outer, NOT explode: plain explode makes Catalyst infer a
    ``size(shingles) > 0`` filter and push it below any repartition into the
    scan — duplicating the whole tokenize+shingle expression tree inside a
    pre-exchange Filter that then runs with the scan's (low) parallelism.
    Outer generate infers no filter; the null row per empty doc is dropped
    after the generate, where it's nearly free."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("tok"))
        .select("doc_id", word_shingles_t("tok", k).alias("shingles"))
        .select("doc_id", F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3, threshold: float = 0.5,
                        max_shingle_df: int | None = 1000) -> DataFrame:
    """Exact shingle-set Jaccard for all pairs sharing ≥1 frequent-enough
    shingle.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.

    ``max_shingle_df`` is the skew guard: the self-join key is the shingle,
    and join output grows with df² per shingle — ONE stop-shingle shared by
    m docs alone emits m(m-1)/2 candidate rows on a single key (the
    quadratic blowup that stalls a reducer at corpus scale). Shingles with
    document frequency above the cap are removed from the shingle SETS
    (sizes and intersections stay consistent — standard stop-shingle
    semantics, like dropping stopwords before Jaccard). A near-dup pair
    shares many shingles, so losing its ultra-common ones barely moves the
    estimate; df ≤ cap bounds any key's join output at cap² rows. The hot
    set is tiny by construction, so it distributes as a broadcast anti-join
    — no extra shuffle of the shingle relation. ``None`` disables the cap.
    """
    # Persist: the self-join would otherwise recompute the whole
    # normalize→shingle→distinct pipeline once per join side.
    sh = doc_shingles(docs, text_col, id_col, k)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    # No broadcast HINT on the sizes joins: sizes is O(corpus docs) rows —
    # tiny here, unbounded at corpus scale, and a forced broadcast would
    # bypass autoBroadcastJoinThreshold and OOM the driver at exactly the
    # scale this operator targets (r6 review). AQE broadcasts it when it
    # actually fits.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round6(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


_EDGES_PER_TASK = 100_000


def _spanning_forest(final: bool):
    """``mapInArrow`` union-find over one partition of ``(a, b)`` edges; it
    imports only numpy and pyarrow, so it ships by value. Roots hook onto
    their smallest neighbouring root (ids ranked by sort order) and
    pointers jump to the roots; a root left a singleton has only smaller
    neighbours next pass, so roots halve every two passes. Emits ``(node,
    root)`` per non-root or self-loop-only node, or per node if ``final``."""

    def solve(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = [rb for rb in batches if rb.num_rows]
        if not batches:
            return
        a, b = pa.Table.from_batches(batches).columns
        ids = pc.unique(pa.chunked_array(a.chunks + b.chunks, a.type))
        ids = ids.take(pc.sort_indices(ids))
        ia, ib = (pc.index_in(c, value_set=ids).to_numpy() for c in (a, b))
        node = np.arange(len(ids))
        parent = node.copy()
        while True:
            ra, rb = parent[ia], parent[ib]
            cross = ra != rb
            if not cross.any():
                break
            ia, ib, ra, rb = ia[cross], ib[cross], ra[cross], rb[cross]
            np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
            jumped = parent[parent]
            while (jumped != parent).any():
                parent, jumped = jumped, jumped[jumped]
        sizes = np.bincount(parent, minlength=len(ids))
        keep = (parent != node) | (sizes == 1) | final
        yield pa.RecordBatch.from_arrays(
            [ids.take(node[keep]), ids.take(parent[keep])], names=["a", "b"]
        )

    return solve


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b") -> DataFrame:
    """Duplicate clusters by spanning-forest reduction: (doc_id, canonical_id
    = min id in component) for every doc in ≥1 pair of one orderable id
    type; a pair with a NULL end is dropped. The eager edges checkpoint is
    the only construction job; its observed count sizes the first round at
    ``P = min(shuffle partitions, edges // 100k + 1)``. A round is
    ``repartition(P, "a")`` plus one :func:`_spanning_forest` task per
    partition, which writes its spanning forest (never more edges than it
    read). ``P`` halves per round and the one-partition round emits every
    node with its root: ``ceil(log2 P) + 1`` lazy rounds at any diameter.
    That task holds the input when ``P`` starts at 1, else the last
    round's ≤ 2 forests: ≤ 2 × (nodes − components) edges."""
    edges = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).dropna()
    n_obs = Observation()
    edges = edges.observe(n_obs, F.expr("count(1) AS n")).localCheckpoint()
    target = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = min(target, n_obs.get["n"] // _EDGES_PER_TASK + 1)
    while True:
        edges = edges.repartition(parts, "a").mapInArrow(
            _spanning_forest(parts == 1), edges.schema
        )
        if parts == 1:
            return edges.selectExpr("a AS doc_id", "b AS canonical_id")
        parts = (parts + 1) // 2


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       k: int = 3, num_hashes: int = 8) -> DataFrame:
    """MinHash signature per doc: column ``m{i}`` = min(md5('s{i}|' || shingle)).

    md5 with a per-seed prefix is a family of independent 'permutations';
    taking the lexicographic min of hex digests is a valid MinHash. One
    groupBy computes all k mins in a single shuffle.
    """
    sh = doc_shingles(docs, text_col, id_col, k)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"s{i}|"), F.col("shingle")))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def signature_bands(
    sig: DataFrame, num_hashes: int, band_size: int
) -> DataFrame:
    """LSH band keys from a MinHash signature relation: (doc_id, band_idx,
    band_key), band_key = md5 of the band's joined signature components.
    Derivable from stored signatures alone — no re-shingling, which is
    what lets a committed dedup index (:func:`corpus_dedup_index`) serve
    band joins forever without touching corpus text. Docs with NULL
    signatures (shorter than the shingle width — they have no shingles)
    contribute NO band rows: concat_ws would otherwise collapse every
    such doc into one md5('') mega-bucket."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"m{i * band_size + j}") for j in range(band_size)]
                    )
                ).alias("band_key"),
            )
            for i in range(n_bands)
        ]
    )
    return (
        sig.filter(F.col("m0").isNotNull())
        .select("doc_id", F.explode(bands).alias("band"))
        .select(
            "doc_id",
            F.col("band.band_idx").alias("band_idx"),
            F.col("band.band_key").alias("band_key"),
        )
    )


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3, num_hashes: int = 8, band_size: int = 2,
                      threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs via LSH banding over MinHash signatures.

    Bands of ``band_size`` signature components are hashed; docs colliding in
    ANY band become candidates (equi-join on (band_idx, band_key) — never a
    cross join); candidates are scored by the fraction of matching signature
    components and filtered by ``threshold``.

    Output: (doc_a, doc_b, est_jaccard), doc_a < doc_b.
    """
    if num_hashes % band_size != 0:
        # A remainder would silently leave the trailing signature
        # components out of every band (candidates lost, no error) while
        # scoring still used them — inconsistent and invisible.
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_size "
            f"({band_size}) so every signature component is banded"
        )
    # Persist: signatures feed the band explode AND the two scoring joins.
    sig = minhash_signatures(docs, text_col, id_col, k, num_hashes).persist()
    # Candidate generation carries ONLY (doc_id, band_idx, band_key): at 100 TB
    # the band self-join shuffles 3 narrow columns, and the distinct collapses
    # multi-band collisions to bare (doc_a, doc_b) pairs BEFORE signatures are
    # re-attached — the wide signature rows never enter the join shuffle.
    banded = signature_bands(sig, num_hashes, band_size)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Score candidates by fraction of equal signature components. Candidates
    # are a tiny fraction of the corpus, so these are skinny equi-joins.
    x = sig.alias("x")
    y = sig.alias("y")
    eqs = sum(
        (F.col(f"x.m{i}") == F.col(f"y.m{i}")).cast("int") for i in range(num_hashes)
    )
    est = eqs / F.lit(float(num_hashes))
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", round6(est).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def corpus_dedup_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """The per-doc dedup STATE a continuous pipeline commits alongside its
    corpus (e.g. through operators/versioned.py): ``(doc_id, fingerprint,
    m0..m{num_hashes-1})``. Exact dedup needs only the md5 content
    fingerprint; near-dup needs only the MinHash signature (band keys are
    re-derivable from it — :func:`signature_bands`) — so future batches
    dedup against an arbitrarily old corpus WITHOUT ever re-reading or
    re-shingling its text. Docs shorter than the shingle width carry NULL
    signature components (they have no shingles, hence no near-dup
    surface) but still carry a fingerprint, so exact duplicates of short/
    empty docs are caught.

    Cost: ONE groupBy over the batch being indexed — O(batch), never
    O(corpus), and join-free: the fingerprint rides the shingle relation
    as a grouping key (functionally dependent on doc_id) instead of being
    joined back on, explode_outer keeps shingle-less docs as a NULL
    shingle row (md5 of NULL is NULL, so their signature components come
    out NULL), and no pre-distinct is needed because MIN is insensitive
    to duplicate shingles — so the only exchange is the map-side-combined
    signature groupBy itself, one combined row per doc per partition."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        doc_fingerprint(text_col).alias("fingerprint"),
        tokens(text_col).alias("__tok"),
    ).select(
        "doc_id",
        "fingerprint",
        F.explode_outer(word_shingles_t("__tok", k)).alias("shingle"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"s{i}|"), F.col("shingle")))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id", "fingerprint").agg(*aggs)


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: verdict per NEW doc against a COMMITTED corpus
    index (:func:`corpus_dedup_index`) — the shape a continuous ingest
    actually runs, where yesterday's 100 TB is already deduped/committed
    and only today's delta needs checking.

    ``new_index``: pass the delta's own :func:`corpus_dedup_index` if the
    caller already built it (e.g. ``corpus.commit_deduped_batch``, which
    needs it again for the commit) — and PERSIST it caller-side when the
    re-shingling matters: the index feeds three probe joins in the
    returned (lazy) plan, and only a cache whose lifetime spans the
    caller's ACTION can dedupe those evaluations. This function does not
    persist internally — a persist it would have to release before
    returning could never cover the caller's action (the bug that
    pattern actually produces is a cache entry that either leaks or
    never gets hit).

    Returns one row per new doc: ``(doc_id, verdict, dup_of,
    est_jaccard)`` with verdict ∈ 'exact_dup' (fingerprint already
    committed; dup_of = smallest matching corpus id), 'near_dup' (LSH
    band collision scored ≥ threshold; dup_of = best match — highest
    est_jaccard, ties to the smallest corpus id), or 'kept'. Exact beats
    near when both hold (est_jaccard is NULL on exact hits: identity
    needs no estimate). Within-batch duplicates are deliberately out of
    scope — run the batch through the ordinary dedup operators first,
    then check survivors against the index.

    Scale shape: the DELTA side is small by construction, so every join
    broadcasts delta-derived relations — new fingerprints into the exact
    probe, new band keys into the candidate join, the candidate pairs
    into the scoring join — and the corpus index only ever streams
    map-side through broadcast hash joins: no index shuffle, no index
    sort, no O(corpus) work beyond one scan of the (narrow) index
    relation."""
    if new_index is None:
        new_index = corpus_dedup_index(new_docs, text_col, id_col, k, num_hashes)
    new_idx = new_index

    c_fps = index.select(F.col("doc_id").alias("c_id"), "fingerprint")
    exact = (
        c_fps.join(
            F.broadcast(new_idx.select("doc_id", "fingerprint")), "fingerprint"
        )
        .groupBy("doc_id")
        .agg(F.min("c_id").alias("x_dup_of"))
    )

    new_bands = signature_bands(new_idx, num_hashes, band_size)
    c_bands = signature_bands(
        index.select("doc_id", *[f"m{i}" for i in range(num_hashes)]),
        num_hashes,
        band_size,
    )
    cand = (
        c_bands.withColumnRenamed("doc_id", "c_id")
        .join(F.broadcast(new_bands), ["band_idx", "band_key"])
        .select("doc_id", "c_id")
        .distinct()
    )
    c_sigs = index.select(
        F.col("doc_id").alias("c_id"),
        *[F.col(f"m{i}").alias(f"cm{i}") for i in range(num_hashes)],
    )
    eqs = sum(
        (F.col(f"m{i}") == F.col(f"cm{i}")).cast("int") for i in range(num_hashes)
    )
    scored = (
        c_sigs.join(F.broadcast(cand.join(F.broadcast(new_idx), "doc_id")), "c_id")
        .select(
            "doc_id", "c_id", round6(eqs / F.lit(float(num_hashes))).alias("est")
        )
        .filter(F.col("est") >= threshold)
    )
    # Best match = (max est, then min corpus id): one struct-max aggregate,
    # no window. The negated id makes the lexicographic struct order
    # express the tie-break.
    near = (
        scored.groupBy("doc_id")
        .agg(F.max(F.struct(F.col("est"), (-F.col("c_id")).alias("neg"))).alias("b"))
        .select("doc_id", F.col("b.est").alias("n_est"), (-F.col("b.neg")).alias("n_dup_of"))
    )

    out = (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(F.broadcast(exact), "doc_id", "left")
        .join(F.broadcast(near), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("x_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("n_dup_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
            F.coalesce("x_dup_of", "n_dup_of").cast("long").alias("dup_of"),
            F.when(F.col("x_dup_of").isNull(), F.col("n_est"))
            .cast("double")
            .alias("est_jaccard"),
        )
    )
    return out


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    min_line_chars: int = 10,
    min_docs: int = 2,
    keep: str = "first",
) -> DataFrame:
    """Cross-corpus line-level exact dedup (the C4/RefinedWeb scrub the
    reference's row-level pipeline has no analogue for): a line that
    appears, trimmed-identical, in >= ``min_docs`` DISTINCT documents is
    boilerplate (nav bars, cookie banners, repeated headers) or a leaked
    duplicate span, and is removed from every document — except, under
    ``keep='first'``, its globally first occurrence (lexicographic
    (doc_id, line_idx)); ``keep='none'`` drops every occurrence.

    Returns ``docs`` with ``text_col`` rewritten in place plus ``n_lines``
    (original line count) and ``n_removed`` appended; all other columns
    pass through. Lines shorter than ``min_line_chars`` after trim (and
    empty lines) are never counted or removed, so short connectives
    survive. NULL text stays NULL with n_lines = n_removed = 0.

    Scale shape: the counting pass explodes a NARROW (id, idx, md5) lines
    projection — document bodies never enter it — and shuffles only the
    16-byte line hash plus two ints per eligible line. Removal coordinates
    come back as a per-doc sorted index array (one narrow doc_id shuffle),
    and the ONLY body movement in the whole plan is the final doc_id join
    of that index relation against the untouched ``docs`` — broadcast
    (zero body shuffle) whenever few documents carry removals, one
    co-partitioning shuffle otherwise, which AQE picks at runtime. The
    rewrite itself is a codegen'd array filter + concat_ws, so no line
    ever moves between executors to be re-assembled.
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    import re as _re

    split_pat = _re.escape(delim)
    arr = F.split(F.col(text_col), split_pat, -1)

    lines = (
        docs.select(F.col(id_col).alias("doc_id"), arr.alias("l"))
        .select("doc_id", F.posexplode_outer("l").alias("idx", "line"))
        .filter(F.length(F.trim(F.col("line"))) >= min_line_chars)
        .select("doc_id", "idx", F.md5(F.trim(F.col("line"))).alias("k"))
    )
    stats = lines.groupBy("k").agg(
        F.count_distinct("doc_id").alias("nd"),
        F.min(F.struct("doc_id", "idx")).alias("first"),
    )
    rm = lines.join(stats.filter(F.col("nd") >= min_docs), "k")
    if keep == "first":
        rm = rm.filter(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("idx") == F.col("first.idx"))
            )
        )
    rm_lists = rm.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("idx")).alias("_rm_idx")
    )

    joined = docs.join(
        rm_lists.withColumnRenamed("doc_id", "_rm_doc"),
        F.col(id_col) == F.col("_rm_doc"),
        "left",
    )
    cleaned = F.when(
        F.col("_rm_idx").isNull(), F.col(text_col)
    ).otherwise(
        F.concat_ws(
            delim,
            F.filter(arr, lambda x, i: ~F.array_contains(F.col("_rm_idx"), i)),
        )
    )
    out_cols = [
        (cleaned.alias(text_col) if c == text_col else F.col(c))
        for c in docs.columns
    ]
    return joined.select(
        *out_cols,
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(arr))
        .cast("long")
        .alias("n_lines"),
        F.coalesce(F.size("_rm_idx"), F.lit(0)).cast("long").alias("n_removed"),
    )
