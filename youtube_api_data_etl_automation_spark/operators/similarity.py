"""Similarity search over embedding columns (north-star op).

Two strategies, both pure DataFrame plans:

- ``brute_force_topk``: broadcast the (small) query set against the corpus,
  score with the JVM-side cosine expression, rank with a window. Exact; the
  corpus never shuffles — only (query × corpus-partition) scoring work.
  This is the correctness baseline.

- ``sign_lsh_topk``: bucket vectors by the sign pattern of their leading
  components (axis-aligned random-hyperplane LSH — deterministic, so the
  DuckDB oracle can reproduce it). Candidates come from an equi-join on the
  bucket key, turning O(N·Q) scoring into O(N·Q/2^bits) expected — the
  100 TB path. Recall is traded for throughput; bits is the knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round6
from ..functions.vectors import cosine_similarity, sql_cosine6
from .versioned import (
    commit_manifest,
    current_version,
    read_manifest,
    version_path,
)


def _rename_query(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )


def _rank_topk(scored: DataFrame, top_k: int) -> DataFrame:
    """Shared top-k ranking over a (query_id, neighbor_id, cosine) scored
    relation: rounded-cosine DESC, neighbor-id ASC tie-break. One
    definition keeps the exact/LSH/IVF strategies' ranking semantics
    provably identical (brute force is the recall oracle for the others,
    so a drifted tie-break would corrupt recall measurements)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.row_number().over(w).cast("int").alias("rank"),
            "cosine",
        )
        .filter(F.col("rank") <= top_k)
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, top_k: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors per query. Output:
    (query_id, neighbor_id, rank, cosine) — self-matches excluded."""
    q = F.broadcast(_rename_query(queries, id_col, vec_col))
    scored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"))
        .join(q, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(sql_cosine6("query_vec", "vec")).alias("cosine"),
        )
    )
    return _rank_topk(scored, top_k)


def sign_bucket(vec_col: str, bits: int = 4) -> F.Column:
    """LSH bucket key: '1'/'0' sign pattern of the first ``bits`` components.

    try_element_at, not element_at: under the session's default ANSI mode
    a single embedding shorter than ``bits`` would otherwise kill the
    whole job with INVALID_ARRAY_INDEX (r6 review); a missing component
    reads as NULL → '0', so ragged rows degrade to a shared bucket
    instead of failing the run."""
    parts = [
        F.when(
            F.try_element_at(F.col(vec_col), F.lit(i + 1)) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for i in range(bits)
    ]
    return F.concat(*parts)


def sign_lsh_topk(corpus: DataFrame, queries: DataFrame, top_k: int = 3, bits: int = 4,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket."""
    q = _rename_query(queries, id_col, vec_col)
    q = F.broadcast(q.select("query_id", "query_vec", sign_bucket("query_vec", bits).alias("bucket")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    scored = c.join(q, "bucket").filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", F.expr(sql_cosine6("query_vec", "vec")).alias("cosine")
    )
    return _rank_topk(scored, top_k)


def name_memo_values(fn):
    """Value-keyed memo for the literal-centroid scorer (r14): the
    expression is a pure function of (vec_col, centroid values); the
    values are driver-side floats, so freezing them into a tuple key
    lets repeated constructs (bench min-of-3, the ivf/sampling/drift
    section passes) reuse one parsed tree instead of re-formatting and
    re-parsing the m*k*d-literal SQL string every time. Only the
    EXPRESSION is cached — never data or results."""
    import functools

    from ..functions.colcache import memo_call

    @functools.wraps(fn)
    def wrapped(vec_col, cvs):
        if not isinstance(vec_col, str):
            return fn(vec_col, cvs)
        key = (vec_col, tuple(tuple(float(x) for x in cv) for cv in cvs))
        return memo_call("similarity._nearest_centroid_struct", key,
                         lambda: fn(vec_col, cvs))
    return wrapped


@name_memo_values
def _nearest_centroid_struct(vec_col: str | F.Column,
                             cvs: list[list[float]]) -> F.Column:
    """``struct(s: double, nj: int)`` of the nearest centroid among the
    literal vectors ``cvs`` (in list order): ``s`` = round6 cosine to the
    winner, ``nj`` = −(winning list index). The argmax is ``array_max``
    over k score structs — struct ordering puts a NULL score below every
    real one and breaks score ties toward the larger ``nj``, i.e. the
    LOWER index — exactly the (cosine, −cluster_id) ``max_by`` ordering
    the former broadcast-join assignment used, including the
    all-scores-NULL edge (zero-norm vector → lowest index wins).

    The row's own ‖v‖ is bound ONCE via a 1-element transform (the CSE
    rule functions/vectors.py documents: higher-order lambdas are
    interpreted with no CSE, so the O(d) norm fold would otherwise
    re-run per centroid).

    Built as ONE parsed SQL string when the vector is named by a
    column name (every current caller): each Column higher-order
    function costs ~13 driver round-trips to build its lambdas, and
    the k-score tree holds ~3k of them — seconds of pure
    plan-construction latency per assignment (guide §7.3). The
    Column fallback below is the same expression tree, kept for
    Column-typed callers."""
    from ..functions.vectors import (
        dot_product,
        l2_norm,
        lit_double_array,
        sql_double_array,
    )

    if isinstance(vec_col, str):
        v = "`" + vec_col.replace("`", "``") + "`"
        vd = f"transform({v}, x -> CAST(x AS DOUBLE))"
        norm = f"sqrt(aggregate({vd}, 0.0D, (acc, v) -> acc + v * v))"
        structs = []
        for j, cv in enumerate(cvs):
            arr = sql_double_array(cv)
            dot = (f"aggregate(zip_with({vd}, {arr}, (a, b) -> a * b), "
                   "0.0D, (acc, v) -> acc + v)")
            cnorm = (f"sqrt(aggregate({arr}, 0.0D, "
                     "(acc, v) -> acc + v * v))")
            score = (f"floor((({dot}) / nullif(nv * {cnorm}, 0.0D))"
                     " * 1000000.0D + 0.5D) / 1000000.0D")
            structs.append(f"named_struct('s', {score}, 'nj', {-j})")
        return F.expr(
            f"element_at(transform(array({norm}), "
            f"nv -> array_max(array({','.join(structs)}))), 1)")

    vec = vec_col

    def pick(nv: F.Column) -> F.Column:
        return F.array_max(F.array(*[
            F.struct(
                round6(
                    dot_product(vec, lit_double_array(cv))
                    / F.nullif(nv * l2_norm(lit_double_array(cv)),
                               F.lit(0.0))
                ).alias("s"),
                F.lit(-j).alias("nj"),
            )
            for j, cv in enumerate(cvs)
        ]))

    return F.element_at(F.transform(F.array(l2_norm(vec)), pick), 1)


def _collect_centroids(centroids: DataFrame, id_col: str,
                       vec_col: str) -> tuple[list, list[list[float]], str]:
    """O(k) control-plane read of a centroid relation (the standing
    k-means-centroid sanction): ids sorted ascending, their vectors
    (exact: float32 widens to the same double the JVM cast produces),
    and the id column's Spark type name for literal casts."""
    rows = centroids.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    ).collect()
    rows.sort(key=lambda r: r["cid"])
    id_dt = centroids.select(F.col(id_col)).schema[0].dataType.simpleString()
    return ([r["cid"] for r in rows],
            [[float(x) for x in r["cv"]] for r in rows], id_dt)


def assign_clusters(corpus: DataFrame, centroids: DataFrame,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF cluster assignment: nearest centroid by cosine (deterministic
    tie-break on centroid id). r14: the centroid relation is an O(k)
    control-plane collect folded into k LITERAL score expressions
    (:func:`_nearest_centroid_struct`) — the assignment is a pure
    map-side projection with NO join and NO exchange [pinned in
    tests/test_scale_plans.py]. The former shape broadcast-joined the
    centroids and re-aggregated with ``groupBy(id).max_by``: the k
    scored copies collapsed map-side, but the final aggregate still
    re-shuffled every corpus row WITH its payload for a merge that had
    nothing left to combine — at 100 TB that exchange was the entire
    cost of the operator. Scoring arithmetic and the
    (cosine, −cluster_id) tie-break are unchanged expression-for-
    expression (the ivf/semantic/kmeans oracle rows pin them).

    Corpus ids are treated as unique (every caller's contract; the old
    groupBy additionally deduplicated them). Output: corpus columns +
    ``cluster_id``."""
    cids, cvs, id_dt = _collect_centroids(centroids, id_col, vec_col)
    payload = [c for c in corpus.columns if c != id_col]
    if not cids:
        # empty centroid relation: the former inner join yielded an
        # empty result — keep that contract
        return corpus.filter(F.lit(False)).select(
            id_col, *payload,
            F.lit(None).cast(id_dt).alias("cluster_id"))
    cid_arr = F.array(*[F.lit(c) for c in cids]).cast(f"array<{id_dt}>")
    best = _nearest_centroid_struct(vec_col, cvs)
    cluster = F.element_at(cid_arr, (F.lit(1) - best["nj"]).cast("int"))
    return corpus.select(id_col, *payload, cluster.alias("cluster_id"))


def probe_cells(queries: DataFrame, centroids: DataFrame, nprobe: int = 1,
                id_col: str = "vec_id", vec_col: str = "embedding",
                keep_rank: str | None = None) -> DataFrame:
    """(query_id, query_vec, cluster_id) for each query's ``nprobe``
    nearest centroid cells — the IVF re-probe list. Cell ranking uses the
    same rounded cosine + lowest-id tie-break as ``assign_clusters``, so
    nprobe=1 reproduces the plain own-cell assignment exactly. The query
    set is small (it broadcasts downstream), so the per-query rank window
    is driver-scale work, not corpus-scale.

    ``keep_rank`` (r15) additionally emits the 1-based cell rank under
    that name: filtering the widest probe list down to ``rank <= m``
    reproduces ``probe_cells(nprobe=m)`` exactly (cell sets are nested
    in rank), which is what lets one scored relation serve a whole
    recall ladder."""
    cent = F.broadcast(
        centroids.select(F.col(id_col).alias("cluster_id"), F.col(vec_col).alias("cv"))
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    scored = qs.join(cent).select(
        "query_id",
        "query_vec",
        "cluster_id",
        F.expr(sql_cosine6("query_vec", "cv")).alias("_csim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_csim"), F.asc("cluster_id")
    )
    ranked = scored.withColumn("_cr", F.row_number().over(w)) \
        .filter(F.col("_cr") <= nprobe)
    if keep_rank is None:
        return ranked.select("query_id", "query_vec", "cluster_id")
    return ranked.select("query_id", "query_vec", "cluster_id",
                         F.col("_cr").alias(keep_rank))


def ivf_scored_candidates(assigned: DataFrame, queries: DataFrame,
                          centroids: DataFrame, *, nprobe: int,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          rank_col: str = "cell_rank") -> DataFrame:
    """One scored candidate relation covering every probe depth up to
    ``nprobe``: ``(query_id, neighbor_id, <rank_col>, cosine)`` over the
    query's ``nprobe`` nearest cells, where ``<rank_col>`` is the rank
    of the candidate's cell in the query's cell ordering (r15).

    Because per-query cell sets are NESTED in cell rank, filtering
    ``rank_col <= m`` and ranking reproduces the ``nprobe=m`` top-k
    exactly for every ``m <= nprobe`` — so a recall ladder scores the
    corpus-side join ONCE instead of once per probed setting (the
    per-arm joins were the dominant replay in the combined IVF row;
    guide §2.4/§5). Scoring arithmetic and the tie-breaks are the
    shared fragments every other path uses."""
    q = probe_cells(queries, centroids, nprobe=nprobe,
                    id_col=id_col, vec_col=vec_col, keep_rank=rank_col)
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"),
        "cluster_id",
    )
    return (
        c.join(F.broadcast(q), "cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", rank_col,
            F.expr(sql_cosine6("query_vec", "vec")).alias("cosine"),
        )
    )


def ivf_recall_report(corpus: DataFrame, queries: DataFrame,
                      centroids: DataFrame, *, top_k: int = 3,
                      nprobes: tuple[int, ...] = (1, 2, 4, 8),
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      assigned: DataFrame | None = None,
                      scored: DataFrame | None = None) -> DataFrame:
    """Recall@k of the IVF index against exact brute force, per nprobe —
    the tuning artifact an ANN operator owes its user: pick the smallest
    nprobe whose recall clears the application bar, since candidate cost
    scales ~linearly with it (a probe touches ~nprobe·N/k vectors per
    query).

    Output: (nprobe, n_hits, n_truth, recall_at_k), one row per probed
    setting, recall rounded at the edge (round6) so the relation is
    engine-portable — a candidate DuckDB-oracle row. Entirely lazy
    DataFrame composition: per-nprobe hit counting is a semi-join with the
    exact top-k, and the hit/total ratio folds through a tag-union global
    aggregate (no crossJoin/BNLJ; the same audit idiom as
    semantic_neardup's summary row). Everything is deterministic given
    fixed centroids, so recall values are exactly reproducible."""
    # Materialize the exact-truth relation once: it is consumed twice per
    # nprobe (semi-join probe side + tag-union denominator), and without
    # it the O(|corpus|·|queries|·d) brute-force pass would replay
    # 2·len(nprobes) times (r6 review finding; r15: persist() instead of
    # an eager localCheckpoint — same run-once materialization, but the
    # brute-force job runs inside the consuming action instead of as a
    # driver-synchronized job at BUILD time).
    truth = brute_force_topk(
        corpus, queries, top_k=top_k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id").persist()
    # ONE scored candidate relation for the whole ladder (r15): the
    # widest probe list joins the assignment once, and each probed
    # setting is a cell-rank filter + rank over the persisted scores —
    # the per-arm corpus joins were the row's dominant replay (the r14
    # shape hoisted the ASSIGNMENT but still re-joined and re-scored
    # per nprobe). Equivalence: per-query cell sets are nested in cell
    # rank, so filter-then-rank reproduces each arm's candidate set and
    # ordering exactly (the oracle and test_ivf_nprobe.py pin the
    # values). A caller that already built the relation passes it in.
    if scored is None:
        if assigned is None:
            assigned = assign_clusters(
                corpus.select(id_col, vec_col), centroids, id_col, vec_col
            )
        scored = ivf_scored_candidates(
            assigned, queries, centroids, nprobe=max(nprobes),
            id_col=id_col, vec_col=vec_col,
        ).persist()
    report = None
    for np_ in nprobes:
        got = _rank_topk(
            scored.filter(F.col("cell_rank") <= np_)
            .select("query_id", "neighbor_id", "cosine"),
            top_k,
        ).select("query_id", "neighbor_id")
        hits = got.join(truth, ["query_id", "neighbor_id"], "left_semi")
        tagged = hits.select(F.lit(1).alias("hit")).unionByName(
            truth.select(F.lit(0).alias("hit"))
        )
        # coalesce: an empty truth relation must report 0 counts, not the
        # NULLs a sum over zero rows yields (recall stays NULL — 0/0 has
        # no meaningful value and callers should branch on n_truth).
        branch = tagged.agg(
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.sum(F.lit(1) - F.col("hit")), F.lit(0))
            .cast("long")
            .alias("n_truth"),
        ).select(
            F.lit(int(np_)).cast("int").alias("nprobe"),
            "n_hits",
            "n_truth",
            round6(F.col("n_hits") / F.col("n_truth")).alias("recall_at_k"),
        )
        report = branch if report is None else report.unionByName(branch)
    return report


def most_similar_pairs(corpus: DataFrame, top_n: int = 5, sample_mod: int = 10,
                       bits: int = 4, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Embedding near-duplicate detection: most-similar pairs within a
    deterministic sample (id % sample_mod == 0). Output: (id_a, id_b,
    cosine) — the embedding-cosine dedup primitive.

    Candidate generation is the sign-LSH bucket EQUI-join — never the
    id_a < id_b theta join, which Spark can only execute as a broadcast
    nested loop: quadratic compute at any corpus size (the r1 scale-killer).
    Only pairs sharing the ``bits``-bit sign bucket are scored, so expected
    candidate volume is Σ_buckets (N_b choose 2) ≈ N²/2^(bits+1) and each
    bucket's pairs hash-join locally. True near-duplicates (cosine → 1)
    agree on every hyperplane sign, so recall for the pairs that matter is
    ~1; distant pairs are the ones sacrificed — exactly the LSH trade.
    tests/test_scale_plans.py pins the no-nested-loop property."""
    sample = corpus.filter(F.col(id_col) % sample_mod == 0)
    a = sample.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    b = sample.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", cosine_similarity("vec_a", "vec_b").alias("cosine")
    )
    return (
        pairs.select("id_a", "id_b", round6(F.col("cosine")).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id_a"), F.asc("id_b"))
        .limit(top_n)
    )


def semantic_neardup(corpus: DataFrame, centroids: DataFrame, *,
                     threshold: float = 0.95, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     cache_assignment: bool = True) -> dict:
    """SemDeDup-shaped semantic deduplication (cluster-scoped cosine
    pairs; the public Abbas et al. 2023 recipe): assign every vector to
    its nearest centroid (broadcast map-side argmax — assign_clusters),
    generate candidate pairs ONLY inside a cluster (equi-join on
    cluster_id, never an all-pairs theta join), and drop the higher-id
    member of every pair with cosine ≥ threshold (min-id survivor — the
    same content-stable rule as exact dedup).

    Returns {"survivors": corpus rows kept, "dup_pairs":
    (cluster_id, id_a, id_b, cosine) above threshold}.

    Scale: the corpus shuffles ONCE (on cluster_id); pair volume is
    Σ_c (N_c choose 2), bounded by clustering granularity — train k so
    cells hold hundreds of vectors (operators/clustering.py::kmeans_lloyd
    provides the centroids; the IVF cell-size trade, not a new one).
    Near-identical vectors land in the same cell with ~certainty, so
    recall on true semantic dups tracks the cluster assignment; pairs
    straddling a cell boundary are the sacrifice — the standard SemDeDup
    trade. Survivor selection is PAIRWISE (a drop needs a ≥threshold pair
    with a lower surviving-or-not id); for transitive-closure groups run
    operators/dedup.py::connected_components over dup_pairs instead.

    ``cache_assignment`` persists the assigned relation: the self-join's
    two sides and the survivors' drop-set all reuse ONE assignment pass
    instead of replaying the broadcast-argmax per consumer (3–6× at plan
    level). Callers composing into a larger cached pipeline can disable
    it and manage persistence themselves."""
    assigned = assign_clusters(
        corpus.select(id_col, vec_col), centroids, id_col, vec_col
    )
    if cache_assignment:
        assigned = assigned.persist()
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "cluster_id"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "cluster_id"
    )
    dup_pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cluster_id",
            "id_a",
            "id_b",
            F.expr(sql_cosine6("vec_a", "vec_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    drops = dup_pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = corpus.join(drops, id_col, "left_anti")
    # Expose the cached assignment so a long-lived session can release it
    # (assignment.unpersist()) after materializing the consumers — without
    # the handle every call would leak one persisted full-corpus relation
    # until clearCache (r6 review finding).
    return {
        "survivors": survivors,
        "dup_pairs": dup_pairs,
        "assignment": assigned,
    }


# ---------------------------------------------------------------------------
# IVF index maintenance: versioned commits, cell-size health, rebalance
# ---------------------------------------------------------------------------
#
# An at-rest IVF index degrades silently: appends under FIXED centroids
# (append_ivf_index_versioned) keep working, but as the corpus drifts the
# cell sizes leave the k ∝ N band that makes probe cost ~nprobe/k of the
# data (SCALE.md's rule — the same one that fixed semantic_neardup's
# super-linear term). These operators close the loop: commit the partitioned
# layout through the versioned-sink CAS (operators/versioned.py) so readers
# are never mid-rewrite, report cell-size skew from partition metadata, and
# retrain/rewrite when the report flags.


def _index_version(spark, base_path: str) -> int:
    """The IVF index's current committed version, or raise."""
    v = current_version(spark, base_path)
    if v is None:
        raise FileNotFoundError(
            f"no committed IVF index under {base_path}; write the initial "
            "index with write_ivf_index_versioned first (appends assign "
            "under its committed centroids)"
        )
    return v


def _write_cells(vectors: DataFrame, centroids: DataFrame, base_path: str,
                  snapshot: int | None, listed: list[str], *, id_col: str,
                  vec_col: str, keep_versions: int) -> int:
    """Assign ``vectors`` under ``centroids`` and commit them as one
    cluster_id-partitioned batch dir of the index read at ``snapshot``:
    the new manifest lists ``listed`` plus that dir, and the grid travels
    with the version as its ``_centroids`` part (copied on append — it is
    k rows). Data dirs live outside the version dirs, so version GC can
    never strand a manifest."""
    assigned = assign_clusters(
        vectors.select(id_col, vec_col), centroids, id_col, vec_col
    )
    grid = centroids.select(
        F.col(id_col).alias("cluster_id"), F.col(vec_col).alias("cv")
    ).coalesce(1)
    return commit_manifest(
        assigned.select(id_col, vec_col, "cluster_id"), base_path, snapshot,
        listed=listed, parts={"_centroids": grid}, partition_by="cluster_id",
        keep_versions=keep_versions,
    )[0]


def write_ivf_index_versioned(corpus: DataFrame, centroids: DataFrame,
                              base_path: str, *, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              keep_versions: int = 2) -> int:
    """Materialize the IVF index AT REST: assign every vector to its cell
    and write the corpus parquet-partitioned BY ``cluster_id``, published
    as a committed version of a manifest sink under ``base_path``
    (operators/versioned.py::commit_manifest — crash-safe, old version
    retained for in-flight readers) whose manifest lists that one data
    dir and whose ``_centroids`` part is the grid. An index whose grid
    travels with it can always be probed, appended to, and health-checked
    without a side channel. Returns the committed version."""
    return _write_cells(
        corpus, centroids, base_path,
        current_version(corpus.sparkSession, base_path), [],
        id_col=id_col, vec_col=vec_col, keep_versions=keep_versions,
    )


def read_ivf_centroids(spark, base_path: str, *, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """The committed index's own centroid grid, shaped like every other
    centroid relation ((id, vector) — assign/probe rename internally)."""
    v = _index_version(spark, base_path)
    cent = spark.read.parquet(version_path(base_path, v) + "/_centroids")
    return cent.select(
        F.col("cluster_id").alias(id_col), F.col("cv").alias(vec_col)
    )


def cell_report_from_counts(
    counts: DataFrame, *, target_cell_size: int | None = None,
    band: tuple[float, float] = (0.5, 2.0),
) -> DataFrame:
    """Band/flag logic of :func:`ivf_cell_report` over an already-built
    per-cell ``(cluster_id, n_vecs)`` relation — shared by the at-rest
    path and any in-memory assignment (the oracle-checked
    `ivf_ann_topk` `cells` section drives this form). ≤k rows; the one
    collect is the 1-row observed-mean target (control plane)."""
    if target_cell_size is None:
        target = counts.agg(
            (F.sum("n_vecs") / F.count(F.lit(1))).alias("t")
        ).collect()[0]["t"]
        if target is None:  # sum over zero rows — empty index
            raise ValueError(
                "cell report over an empty index: no cells to band "
                "(build the index before asking for its health)"
            )
    else:
        target = float(target_cell_size)
    lo, hi = float(band[0]) * target, float(band[1]) * target
    return counts.select(
        F.col("cluster_id").cast("int"),
        F.col("n_vecs").cast("long"),
        F.lit(round(target, 6)).alias("target_cell_size"),
        round6(F.col("n_vecs") / F.lit(target)).alias("ratio"),
        ((F.col("n_vecs") < F.lit(lo)) | (F.col("n_vecs") > F.lit(hi)))
        .alias("flagged"),
    )


def ivf_cell_report(spark, path, *, target_cell_size: int | None = None,
                    band: tuple[float, float] = (0.5, 2.0)) -> DataFrame:
    """Cell-size health of an at-rest IVF index: one row per cell with
    its vector count and its ratio to the target, flagged when outside
    ``band`` (default: anything below half or above twice target). The
    scan projects ONLY the partition column, so the job reads parquet
    row counts/partition values — metadata-weight, never vectors; the
    report relation itself is ≤k rows (control plane).

    ``target_cell_size`` defaults to the observed mean (pure skew
    check); pass the SCALE.md-chosen design size to also catch uniform
    over-fill from appends (every cell 3× target flags, even though
    skew alone would look healthy)."""
    counts = (
        _read_index(spark, path)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    return cell_report_from_counts(
        counts, target_cell_size=target_cell_size, band=band
    )


def train_ivf_grid(corpus: DataFrame, k: int, *, n_iter: int,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """k-cell centroid grid for an IVF index: the k lowest-id vectors
    (deterministic, content-stable; TakeOrdered of k rows) seed
    ``n_iter`` Lloyd iterations (operators/clustering.py — decimal-exact,
    bounded driver state of k·dim). Returns the centroids as
    ``(id_col, vec_col)``."""
    from .clustering import kmeans_lloyd

    init = corpus.orderBy(id_col).limit(k).select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cluster_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    _, cent = kmeans_lloyd(
        corpus.sparkSession, corpus, init, n_iter=n_iter, id_col=id_col,
        vec_col=vec_col, return_centroids=True,
    )
    return cent.select(
        F.col("cluster_id").alias(id_col), F.col("cv").alias(vec_col)
    )


def rebalance_ivf_index(spark, base_path: str, *, target_cell_size: int,
                        n_iter: int = 3, keep_versions: int = 2,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> dict:
    """Retrain the grid to the design cell size and rewrite the index as
    a NEW committed version (readers on the old version are undisturbed;
    the content — the vector set — is unchanged, only the cell layout
    moves, so a full probe returns identical neighbors pre/post). The
    rewrite commits the version after the one it read, so an append that
    lands while the grid trains makes the rebalance raise
    ConcurrentWriteError instead of dropping the appended vectors.

    k is re-derived from the data: ``ceil(n_vectors / target_cell_size)``
    — the k ∝ N rule applied at maintenance time instead of frozen at
    first build — and the grid comes from :func:`train_ivf_grid`.
    Returns ``{"version", "k", "n_vectors"}``."""
    import math

    snapshot = _index_version(spark, base_path)
    corpus = _read_index(
        spark, read_manifest(spark, base_path, snapshot)
    ).select(id_col, vec_col)
    n = corpus.count()
    if n == 0:
        raise ValueError(f"IVF index under {base_path} is empty")
    k = max(1, math.ceil(n / target_cell_size))
    centroids = train_ivf_grid(
        corpus, k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    v = _write_cells(
        corpus, centroids, base_path, snapshot, [], id_col=id_col,
        vec_col=vec_col, keep_versions=keep_versions,
    )
    return {"version": v, "k": k, "n_vectors": n}


def current_ivf_index_dirs(spark, base_path: str) -> list[str]:
    """All cell-partitioned data dirs of the current committed index
    version — the manifest's list (one dir after a full write or
    rebalance; one per append since). Every dir is a
    cluster_id-partitioned parquet layout; feed the list to
    :func:`ivf_cell_report`."""
    return read_manifest(spark, base_path, _index_version(spark, base_path))


def _read_index(spark, path) -> DataFrame:
    """One DataFrame over an index path or list of paths. Multi-dir
    reads union per-dir scans, so a cluster_id membership filter still
    prunes PARTITIONS inside every scan (the filter pushes through the
    union into each arm — same mechanism as the bench section filter)."""
    dirs = [path] if isinstance(path, str) else list(path)
    df = spark.read.parquet(dirs[0])
    for d in dirs[1:]:
        df = df.unionByName(spark.read.parquet(d))
    return df


def append_ivf_index_versioned(batch: DataFrame, base_path: str, *,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               keep_versions: int = 2) -> int:
    """O(delta) append to a versioned IVF index: assign the batch under
    the grid of the version it reads, land it in a writer-private
    cluster_id-partitioned batch dir, and commit the next version whose
    manifest lists the previous dirs plus the new one (the same manifest
    commit as versioned.append_versioned). Write cost is the batch, never
    the index; readers on the old version are undisturbed; a racing
    writer makes it lose cleanly (ConcurrentWriteError, its batch dir
    reclaimed). An empty batch commits nothing. Returns the current
    version after the call.

    Appends keep the grid FIXED, so cell sizes drift as the corpus
    grows — that is exactly what :func:`ivf_cell_report` watches and
    :func:`rebalance_ivf_index` repairs (the rebalance compacts the
    manifest back to one dir; versioned.gc_batches then reclaims batch
    dirs no retained manifest lists)."""
    spark = batch.sparkSession
    snapshot = _index_version(spark, base_path)
    # the grid is read at or after the snapshot: a newer grid means a
    # newer commit owns slot snapshot + 1, and this append then loses
    grid = read_ivf_centroids(spark, base_path, id_col=id_col,
                              vec_col=vec_col)
    return _write_cells(
        batch, grid, base_path, snapshot,
        read_manifest(spark, base_path, snapshot),
        id_col=id_col, vec_col=vec_col, keep_versions=keep_versions,
    )
