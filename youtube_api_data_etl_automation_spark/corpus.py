"""End-to-end corpus curation: the whole operator suite as ONE pipeline.

This is the composition a training-data owner actually runs — the engine's
capstone flow over a raw document table:

    0. markup strip    (optional: HTML → visible text, before any signal)
    1. filter funnel   (C4/Gopher rule chain: length → language → quality)
    2. PII redaction   (map-only scrub, same pass carries the text forward)
    3. exact dedup     (content fingerprint, min-id survivor)
    3b. near dedup     (optional: MinHash-LSH pairs → connected
                        components → min-id survivor per cluster)
    4. decontamination (word-n-gram overlap vs a held-out benchmark)
    5. stratified sampling (optional per-language keep rates, content-stable)
    5b. DSIR selection  (optional: importance resampling toward a target
                         corpus — hashed-n-gram λ, map-side scoring,
                         content-stable Gumbel draw)
    6. sequence packing (concat-and-cut token budgeting into shards)

Every stage is one of the tested operators (operators/, functions/) wired
in its documented 100 TB shape: the funnel + redaction + fingerprint are a
single projection pass over the text; dedup shuffles (fingerprint, id);
decontam broadcasts the benchmark's n-grams; sampling is a map-side
verdict; packing is a per-shard window. Nothing collects to the driver
except the optional audit counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.pii import redact_pii
from .functions.rounding import round6
from .functions.text import (
    doc_fingerprint,
    lang_id_t,
    quality_score_t,
    token_count,
    tokens,
)
from .operators.decontam import ngram_contamination
from .operators.packing import pack_sequences


def _min_id_survivors(feat: DataFrame) -> DataFrame:
    """Exact-dedup survivor selection without shuffling document bodies:
    the aggregate that finds duplicated fingerprints and their min-id
    survivor moves only (fingerprint, id); rows of UNIQUE fingerprints —
    the overwhelming majority of a normal corpus — pass through a
    broadcast anti-join untouched, and duplicated groups keep their min-id
    row via a broadcast semi-join on (fingerprint, id). (A min_by-struct
    aggregate here would ship ~every body through the exchange; this is
    the same two-path hot/cold split as operators/capping.py. If most of
    the corpus IS duplicates, the dup relation outgrows broadcast — flip
    to a plain shuffled semi-join, same result.)

    Fingerprint comparisons are NULL-SAFE (r6): groupBy treats NULL as one
    group but a plain equi-join never matches it, so NULL-fingerprint
    duplicates (text NULL upstream of the funnel) would ALL take the
    unique path and survive — eqNullSafe routes them like any other
    duplicate group, matching capping.py's discipline."""
    fp_stats = (
        feat.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("keep_id"))
    )
    dup_fps = fp_stats.filter(F.col("_n") > 1).select(
        F.col("fingerprint").alias("_dup_fp"), "keep_id"
    )
    uniq = feat.join(
        F.broadcast(dup_fps.select("_dup_fp")),
        feat["fingerprint"].eqNullSafe(F.col("_dup_fp")),
        "left_anti",
    )
    dup_keep = feat.join(
        F.broadcast(dup_fps),
        feat["fingerprint"].eqNullSafe(dup_fps["_dup_fp"])
        & (feat["doc_id"] == dup_fps["keep_id"]),
        "left_semi",
    )
    return uniq.unionByName(dup_keep).select(*feat.columns)


# Ceiling for the inlined BPE merge fold in curate_corpus: each merge adds
# a fixed slab of nested Column expressions to the single feature
# projection, and far past this Catalyst's analyzer hits recursion/stack
# limits with an unactionable error. 64 is measured-safe with headroom;
# bigger merge lists take the two-pass bpe_encode_corpus route.
_MAX_INLINE_BPE_MERGES = 64


def curate_corpus(
    docs: DataFrame,
    *,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 1000,
    quality_min: float = 0.55,
    lang_rates: dict[str, int] | None = None,
    decontam_n: int = 3,
    decontam_bloom_bits: int | None = None,
    decontam_bloom_k: int = 5,
    pack_budget: int = 2048,
    n_shards: int = 16,
    audit: bool = True,
    bpe_merges: list[tuple[str, str]] | None = None,
    strip_html: bool = False,
    normalize_unicode: bool = False,
    neardup_threshold: float | None = None,
    neardup_k: int = 3,
    quality_preset: str | None = None,
    dsir_target: DataFrame | None = None,
    dsir_keep: int | None = None,
    dsir_buckets: int = 256,
    url_col: str = "source",
    robots_rules: DataFrame | None = None,
    robots_agent: str = "*",
    domain_cap: int | None = None,
    psl: DataFrame | None = None,
    ppl_ref: DataFrame | None = None,
    ppl_keep: tuple[str, ...] = ("head", "middle"),
    ppl_approx: int | None = None,
    nl_funnel: bool = True,
) -> dict:
    """Run the full curation pipeline. Returns
    {"documents": packed survivors (id, lang, clean_text, n_tokens,
    fingerprint, shard, token_start, bin_first, bin_last, spans_cut),
    "report": per-stage
    (stage, n_docs) audit DataFrame (None when audit=False)}.

    ``lang_rates``: optional {lang: keep_buckets_of_256} map (the
    stratified-sampling idiom — salt "corpus:" keeps the draw independent
    of other samplers per functions/hashing.py). ``benchmark``: held-out
    eval docs; survivors sharing any ``decontam_n``-gram are dropped.
    ``decontam_bloom_bits``/``decontam_bloom_k`` (r8): route the decontam
    stage through the relational Bloom prefilter — identical drops, less
    traffic into the exact gram join; size per the formulas in
    operators/decontam.py.

    ``bpe_merges``: optional trained merge list (operators/bpe.py::
    train_merges). When given, ``n_tokens`` — the basis for the funnel's
    min/max bounds AND the packer's budget/offsets — is the BPE-encoded
    token count of the redacted text (operators/bpe.py::bpe_encode_t over
    clean_text's whitespace tokens), so shard offsets measure exactly the
    token stream a trained-tokenizer consumer will materialize, not the
    whitespace proxy. The merge fold is inlined into the same single
    feature projection (map-side Column expressions, no extra pass); the
    inline path is HARD-CAPPED at 64 merges (ValueError above that) —
    the expression depth grows with len(merges) and would otherwise die
    deep inside Catalyst. For vocabulary-scale merge lists (thousands),
    pre-encode with bpe_encode_corpus and budget on those counts
    instead.

    ``strip_html`` (late r6): when True, ``functions/markup.py::
    strip_markup`` reduces each document to its visible text BEFORE any
    downstream signal is computed — so the funnel's token/language/quality
    reads, the PII scan, the dedup fingerprint, and the packed output all
    see what a reader sees, and two crawls of the same page with different
    chrome dedup to one document. Folds into the same first projection
    pass (map-only, no extra scan).

    ``normalize_unicode`` (r8): when True, ``functions/unicodefns.py::
    normalize_unicode`` canonicalizes each document's surface form AFTER
    any markup strip (so entity-decoded typographic quotes fold too) and
    BEFORE any downstream signal — mojibake repair, fullwidth→ASCII,
    zero-width deletion, quote/dash/space canonicalization. A document
    and its mis-decoded twin then share one fingerprint and one shingle
    set, so exact AND near dedup see through the damage. Folds into the
    same first projection pass (map-only, no extra scan).

    ``quality_preset`` (r12): any ``+``-combination of ``'c4'``,
    ``'gopher'``, and ``'gopher-rep'`` — the PUBLISHED preset rule chains
    (operators/quality_presets.py) as opt-in stages ahead of the
    generic funnel. ``c4`` rewrites each document to its surviving
    lines (terminal punctuation, ≥5 words, boilerplate dropped) and
    drops pages failing the C4 page rules; ``gopher`` drops documents
    failing any of the seven Gopher App. A1.1 quality rules;
    ``gopher-rep`` drops documents failing the Gopher Table A1
    REPETITION rules (duplicate line/paragraph fractions, top/dup
    n-gram character fractions — the one preset stage that shuffles,
    on hashed gram keys). All run AFTER
    markup/unicode normalization and BEFORE every downstream signal,
    so the funnel, dedup fingerprints, and shards see the preset-
    cleaned text; each adds its own audit stage row. Stage order:
    c4 → gopher → gopher-rep.

    ``neardup_threshold`` (late r6): when set, a NEAR-duplicate stage runs
    after exact dedup — MinHash-LSH candidate pairs over ``clean_text``
    (the text that actually ships) at this estimated-Jaccard threshold,
    clusters assembled by connected components, min-id survivor per
    cluster. The scale shape is the operators' own: banded equi-join
    candidates (never all-pairs), connected components shuffling only
    (id, id) edges, and the final drop-list applied as a broadcast anti-join
    so document bodies never enter an exchange for this stage (the drop
    list is the non-survivors of near-dup clusters — a small fraction of
    any sane corpus; for a pathological mostly-duplicates corpus flip to
    a shuffled anti-join). ``neardup_k`` is the word-shingle width.

    ``dsir_target`` + ``dsir_keep`` (r8): DSIR importance selection
    (operators/dsir.py) toward a small high-quality target corpus — fit
    the hashed-n-gram λ model on (target, survivors), score each
    survivor's clean_text map-side off the literal λ array, keep
    ``dsir_keep`` docs sampled without replacement ∝ exp(log_w) via the
    content-stable Gumbel draw. Runs AFTER dedup/decontam/stratification
    (selection should see the deduplicated pool, per the paper) and
    BEFORE packing. The target goes through the same PII redaction the
    survivors' clean_text did, so both distributions are measured on the
    shipping surface form.

    ``robots_rules`` + ``robots_agent`` (r13, VERDICT r12 item 2): a
    parsed REP rule relation (operators/robots.py::parse_robots, or
    warc_robots_rules straight off the crawl's own robots captures).
    When given, a ``robots`` pre-filter stage runs FIRST — before any
    signal is computed — keeping only documents whose ``url_col`` the
    agent may fetch, with its drop count in the audit report. The
    decision is the operator's map-side fold: rules fold to one array
    row per host and the corpus hash-joins on host — the corpus never
    shuffles for this stage.

    ``domain_cap`` + ``psl`` (r13): cap each registrable domain's
    contribution at ``domain_cap`` docs. The group column is computed
    off ``url_col`` at ingest — EXACT PSL registrable domains when
    ``psl`` (a one-column ``rule`` relation of publicsuffix.org lines)
    is given, the ccSLD heuristic otherwise — so ``*.github.io``-style
    PSL entries keep every subdomain a distinct cap group instead of
    over-merging (the r11 complaint this closes). The cap runs after
    dedup/decontam (capping should see the deduplicated pool) and
    before stratified sampling, via the two-path capping plan
    (operators/capping.py — under-cap groups never sort). ``psl``
    without ``domain_cap`` is an error (it would silently do nothing).

    ``nl_funnel`` (late r14): the lang-ID + quality predicates of the
    funnel stage assume natural-language prose; code corpora
    (:func:`code_files_to_documents` / :func:`repo_archive_to_code_
    documents`, which already applied the The-Stack STRUCTURAL
    funnel) set ``nl_funnel=False`` to keep only the token bounds and
    take ``lang`` from the INPUT's lang column (the extension-routed
    language), so per-language caps, stratified sampling, and the
    perplexity stage group on real code languages. Everything
    downstream — dedup, near-dup, decontam, capping, sampling,
    packing — applies to code unchanged.

    ``ppl_ref`` + ``ppl_keep`` (late r14): CCNet's perplexity stage —
    train the bigram LM on the reference corpus (CCNet uses
    Wikipedia), score the DEDUPLICATED pool's ``clean_text``, bucket
    head/middle/tail per language (operators/lm.py::
    perplexity_buckets), and keep only the ``ppl_keep`` buckets
    (default drops the tail, CCNet's convention). Docs without bigram
    evidence always keep. ``ppl_approx`` switches the thresholds to
    the one-pass approx_percentile sketch — the 100 TB path.
    """
    spark = docs.sparkSession
    if psl is not None and domain_cap is None:
        raise ValueError(
            "psl= is only consumed by the domain_cap stage; pass "
            "domain_cap= too (a PSL with nothing to group for would "
            "silently do nothing)")
    stages: list[tuple[str, int]] = []
    cached: list[DataFrame] = []

    def checkpoint(stage: str, df: DataFrame) -> DataFrame:
        # audit mode persists each stage so its count (and every later
        # stage) reads the materialized frame instead of replaying the
        # whole lineage per stage — without this the interpreted
        # tokenization re-runs ~once per stage. audit=False keeps the
        # pipeline a single lazy plan with zero extra jobs. Once this
        # stage is materialized (the count), the PREVIOUS stage's cache
        # has no remaining consumer — release it so repeated invocations
        # in a long-lived session don't accumulate cached relations;
        # only the final (packed) frame stays cached for the caller.
        if audit:
            df = df.persist()
            stages.append((stage, df.count()))
            if cached:
                cached.pop().unpersist()
            cached.append(df)
        return df

    need_url = robots_rules is not None or domain_cap is not None
    # code corpora (nl_funnel=False) carry their INPUT lang column
    # (codedocs routes it from the file extension) instead of the
    # natural-language marker heuristic
    carry_lang = (not nl_funnel) and ("lang" in docs.columns)
    base_cols = [F.col(id_col).alias("doc_id"),
                 F.col(text_col).alias("text")]
    if need_url:
        if url_col not in docs.columns:
            raise ValueError(
                f"robots_rules/domain_cap need url_col={url_col!r} in "
                "the input (e.g. a crawl document's 'source' URI)")
        base_cols.append(F.col(url_col).alias("__url"))
    if carry_lang:
        base_cols.append(F.col("lang").alias("__lang"))
    base = docs.select(*base_cols)
    if strip_html or normalize_unicode:
        txt = F.col("text")
        if strip_html:
            from .functions.markup import strip_markup

            txt = strip_markup(txt)
        if normalize_unicode:
            from .functions.unicodefns import normalize_unicode as _nu

            txt = _nu(txt)
        base = base.select("doc_id", txt.alias("text"),
                           *(["__url"] if need_url else []),
                           *(["__lang"] if carry_lang else []))
    checkpoint("input", base)

    # r13: REP compliance pre-filter — FIRST, before any signal: an
    # opted-out document must not even contribute to dedup fingerprints
    # or DSIR statistics.
    if robots_rules is not None:
        from .operators.robots import filter_robots_allowed

        base = filter_robots_allowed(base, robots_rules,
                                     agent=robots_agent,
                                     url_col="__url")
        base = checkpoint("robots", base)

    # r13: the cap/stratification group column, computed ONCE map-side
    # off the URL (exact PSL when given, ccSLD heuristic otherwise) and
    # carried as a plain column; the URL itself is no longer needed.
    extra_cols: list[str] = []
    if domain_cap is not None:
        if psl is not None:
            from .functions.urls import registrable_domain_psl

            base = registrable_domain_psl(
                base, psl, url_col="__url", out_col="__domain")
        else:
            from .functions.urls import registrable_domain

            base = base.withColumn(
                "__domain", F.expr(registrable_domain("__url")))
        extra_cols = ["__domain"]
    if carry_lang:
        extra_cols = extra_cols + ["__lang"]
    if need_url:
        base = base.drop("__url")

    if quality_preset:
        parts = set(quality_preset.split("+"))
        unknown = parts - {"gopher", "c4", "gopher-rep"}
        if unknown:
            raise ValueError(
                f"quality_preset parts {sorted(unknown)} unknown; "
                "combine 'gopher', 'gopher-rep', and 'c4' with '+'"
            )
        if "c4" in parts:
            from .operators.quality_presets import c4_clean

            base = (
                c4_clean(base, text_col="text")
                .filter(F.col("c4_pass"))
                .select("doc_id", F.col("c4_text").alias("text"),
                        *extra_cols)
            )
            base = checkpoint("c4", base)
        if "gopher" in parts:
            from .operators.quality_presets import gopher_flags

            base = (
                gopher_flags(base, text_col="text")
                .filter(F.col("gopher_pass"))
                .select("doc_id", "text", *extra_cols)
            )
            base = checkpoint("gopher", base)
        if "gopher-rep" in parts:
            from .operators.quality_presets import (
                gopher_repetition_flags,
            )

            base = (
                gopher_repetition_flags(base, text_col="text")
                .filter(F.col("gopher_rep_pass"))
                .select("doc_id", "text", *extra_cols)
            )
            base = checkpoint("gopher_rep", base)

    # 1+2+3a: one pass computes the funnel features, the redacted text,
    # and the content fingerprint. n_tokens is counted on the REDACTED
    # text — that is the token stream the packer budgets and the shards
    # materialize, so offsets stay exact even when redaction changes the
    # token count (e.g. a spaced phone number collapsing to one [PHONE]).
    toks = base.select(
        "doc_id", "text", redact_pii(F.col("text")).alias("clean_text"),
        *extra_cols
    ).withColumn("tok", F.expr(tokens("text")))
    if bpe_merges is None:
        n_tokens_expr = F.expr(token_count("clean_text"))
    else:
        if len(bpe_merges) > _MAX_INLINE_BPE_MERGES:
            # Fail explicitly at the API edge: past this depth the inlined
            # merge fold stops being a win and eventually dies inside
            # Catalyst as an analysis/stack error with no actionable
            # message. Vocabulary-scale merge lists belong in the
            # dedicated two-pass path.
            raise ValueError(
                f"bpe_merges has {len(bpe_merges)} merges; the inline "
                f"fold is capped at {_MAX_INLINE_BPE_MERGES} (expression "
                "depth grows per merge). Pre-encode with "
                "operators/bpe.py::bpe_encode_corpus and budget on those "
                "counts instead."
            )
        from .operators.bpe import bpe_encode_t

        encoded = bpe_encode_t(F.expr(tokens("clean_text")), bpe_merges)
        n_tokens_expr = F.coalesce(F.size(encoded), F.lit(0)).cast("int")
    if nl_funnel:
        lang_expr = F.expr(lang_id_t("tok"))
    elif carry_lang:
        lang_expr = F.coalesce(F.col("__lang"), F.lit("und"))
    else:
        # input without a lang column: everything is 'und' (r14
        # review fix — referencing the never-selected __lang crashed)
        lang_expr = F.lit("und")
    feat = toks.select(
        "doc_id",
        lang_expr.alias("lang"),
        n_tokens_expr.alias("n_tokens"),
        F.expr(f"{quality_score_t('text', 'tok')} AS quality"),
        "clean_text",
        F.expr(f"{doc_fingerprint('text')} AS fingerprint"),
        *[c for c in extra_cols if c != "__lang"],
    )
    funnel_pred = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
    )
    if nl_funnel:
        funnel_pred = funnel_pred \
            & (F.col("lang") != "und") \
            & (F.col("quality") >= quality_min)
    kept = feat.filter(funnel_pred)
    kept = checkpoint("funnel", kept)

    # 3b: exact dedup — deterministic min-id survivor per fingerprint.
    survivors = checkpoint("exact_dedup", _min_id_survivors(kept))

    # 3b': optional CCNet perplexity stage (late r14) — score the
    # DEDUPLICATED pool against a reference-corpus bigram LM (CCNet
    # scores after dedup), bucket head/middle/tail per language, keep
    # the configured buckets. Docs without bigram evidence ('none')
    # always keep — absence of signal is not low quality.
    if ppl_ref is not None:
        bad = set(ppl_keep) - {"head", "middle", "tail"}
        if bad:
            raise ValueError(
                f"ppl_keep buckets {sorted(bad)} unknown; choose "
                "among 'head', 'middle', 'tail'")
        from .operators.lm import (
            perplexity_buckets,
            score_docs,
            train_bigram_lm,
        )

        # one token projection for BOTH of train_bigram_lm's passes
        # (tokens() is interpreted and not CSE'd — r14 review fix)
        ref = ppl_ref.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
        ).withColumn("tok", F.expr(tokens("text")))
        lm = train_bigram_lm(ref, k=0.5, tok_col="tok")
        sc = score_docs(
            survivors.select("doc_id",
                             F.col("clean_text").alias("text")),
            lm,
        ).select("doc_id", "avg_logp")
        # persist: perplexity_buckets consumes this twice (threshold
        # aggregate + bucket join) — without it the LM-scoring
        # lineage executes twice (r14 review fix, the lang_quality
        # convention); released after the audit materializes
        scored = survivors.join(sc, "doc_id", "left").persist()
        survivors = perplexity_buckets(
            scored, group_col="lang", approx=ppl_approx,
        ).filter(
            F.col("ppl_bucket").isin(*ppl_keep, "none")
        ).drop("avg_logp", "ppl_bucket")
        survivors = checkpoint("ppl_bucket", survivors)
        if audit:
            scored.unpersist()

    # 3c: optional near-dup dedup (MinHash-LSH pairs → connected
    # components → min-id survivor) on the shipping text.
    if neardup_threshold is not None:
        from .operators.dedup import connected_components, minhash_lsh_pairs

        pairs = minhash_lsh_pairs(
            survivors.select("doc_id", F.col("clean_text").alias("text")),
            k=neardup_k,
            threshold=neardup_threshold,
        )
        drop = connected_components(pairs).filter(
            F.col("doc_id") != F.col("canonical_id")
        ).select("doc_id")
        survivors = survivors.join(F.broadcast(drop), "doc_id", "left_anti")
        survivors = checkpoint("near_dedup", survivors)

    # 4: benchmark decontamination (skip when no benchmark given).
    if benchmark is not None:
        # The benchmark goes through the SAME redaction: comparing
        # scrubbed corpus text against raw benchmark text would let any
        # overlap spanning a redacted span escape detection.
        bench = benchmark.select(
            F.col(id_col).alias("doc_id"),
            redact_pii(F.col(text_col)).alias("text"),
        )
        hits = ngram_contamination(
            survivors.select("doc_id", F.col("clean_text").alias("text")),
            bench,
            n=decontam_n,
            # result-identical Bloom prefilter for benchmark-gram sets too
            # big to broadcast as strings (operators/decontam.py)
            bloom_bits=decontam_bloom_bits,
            bloom_k=decontam_bloom_k,
        )
        clean_ids = hits.filter(F.col("contaminated") == 0).select("doc_id")
        survivors = survivors.join(clean_ids, "doc_id", "left_semi")
        survivors = checkpoint("decontam", survivors)

    # 4b (r13): per-registrable-domain cap on the deduplicated,
    # decontaminated pool — the two-path plan (under-cap groups never
    # sort); the group column was computed map-side at ingest.
    if domain_cap is not None:
        from .operators.capping import cap_per_group

        survivors = cap_per_group(
            survivors, group_col="__domain", id_col="doc_id",
            cap=domain_cap)
        survivors = checkpoint("domain_cap", survivors)

    # 5: optional content-stable stratified sampling by language.
    if lang_rates is not None:
        from .functions.hashing import md5_bucket

        thr = None
        for lang, buckets in lang_rates.items():
            cond = F.when(F.col("lang") == lang, buckets)
            thr = cond if thr is None else thr.when(F.col("lang") == lang, buckets)
        thr = (thr.otherwise(256) if thr is not None else F.lit(256))
        survivors = survivors.filter(
            F.expr(md5_bucket("doc_id", salt="corpus:")) < thr)
        survivors = checkpoint("stratified_sample", survivors)

    # 5b: optional DSIR importance selection toward a target corpus.
    if dsir_target is not None and dsir_keep is not None:
        from .operators.dsir import (
            bucket_logratios,
            collect_logratios,
            dsir_log_weights,
            gumbel_select,
        )

        tgt = dsir_target.select(redact_pii(F.col(text_col)).alias("clean_text"))
        lam = collect_logratios(
            bucket_logratios(
                tgt, survivors, text_col="clean_text", buckets=dsir_buckets
            ),
            buckets=dsir_buckets,
        )
        weighted = dsir_log_weights(survivors, lam, text_col="clean_text")
        survivors = gumbel_select(weighted, dsir_keep).drop(
            "log_w", "key", "rank"
        )
        survivors = checkpoint("dsir_select", survivors)

    # 6: pack into token-budgeted shards.
    packed = pack_sequences(
        survivors.select("doc_id", "lang", "clean_text", "n_tokens", "fingerprint"),
        token_col="n_tokens",
        id_col="doc_id",
        budget=pack_budget,
        n_shards=n_shards,
    )
    packed = checkpoint("packed", packed)

    report = (
        spark.createDataFrame(stages, "stage string, n_docs long")
        if audit
        else None
    )
    return {"documents": packed, "report": report}


def code_files_to_documents(
    files: DataFrame,
    *,
    path_col: str = "path",
    text_col: str = "text",
    min_chars: int = 1,
    apply_filter: bool = True,
) -> DataFrame:
    """Source-file table ``(path, text)`` → ``documents``-shaped rows
    (late r14) — the code-corpus front door. ``lang`` is filled from
    the file extension (:func:`operators.code_quality.lang_from_path`),
    so the per-language caps / stratified-sampling machinery inside
    :func:`curate_corpus` keys on it directly; with ``apply_filter``
    (default) files failing the The-Stack-style structural funnel
    (:func:`~operators.code_quality.stack_filter` defaults) drop —
    run ``stack_filter`` separately when the verdict population
    matters. ``doc_id`` is ``xxhash64`` of the path — stable across
    re-ingestion. Entirely Column math: zero Python, zero shuffles,
    map-only at any scale."""
    from .operators.code_quality import lang_from_path, stack_filter

    out = files
    if apply_filter:
        out = stack_filter(files, text_col=text_col).filter(
            F.col("cq_verdict") == "keep")
    return (
        out.select(
            F.xxhash64(F.col(path_col)).alias("doc_id"),
            F.col(text_col).alias("text"),
            lang_from_path(path_col).alias("lang"),
            F.concat(F.lit("code:"), F.col(path_col)).alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
        .filter(F.col("n_chars") >= min_chars)
    )


def repo_archive_to_code_documents(
    blobs: DataFrame,
    *,
    strip_components: int = 1,
    min_chars: int = 1,
    apply_filter: bool = True,
) -> DataFrame:
    """Repository archive payloads (the tarball/zip a code host
    serves per repo — The-Stack-style ingestion) → ``documents``-
    shaped rows (late r14): :func:`operators.archives.
    archive_members` fans each archive out to members in-partition,
    members whose extension maps to a known language keep (the
    binary-asset mass never decodes), bodies decode utf-8-replace in
    one Arrow batch pass, ``strip_components`` drops the
    ``repo-name-sha/`` prefix code hosts prepend, and the
    The-Stack structural funnel prunes the survivors (module:
    operators/code_quality.py; disable via ``apply_filter=False``).

    ``doc_id`` is ``xxhash64(archive doc_id, stripped path,
    member_idx)`` — stable across re-ingestion (member order is the
    archive's own), unique across repos whose trees share paths, AND
    unique when two members collapse to one stripped path (tar
    append semantics, sibling top-level dirs). ``source`` is ``repo:<archive id>/<path>`` and
    ``lang`` the routed language, so per-language caps and
    leakage-safe grouped splits (group = the archive id prefix) work
    downstream. Two mapInPandas passes and otherwise pure Column
    math — no shuffle anywhere."""
    import pandas as pd

    from .operators.archives import archive_members
    from .operators.code_quality import lang_from_path, stack_filter

    members = archive_members(blobs).filter(
        F.col("error").isNull() & F.col("body").isNotNull()
        & (F.col("size") > 0)
    )
    path = F.col("name")
    if strip_components > 0:
        parts = F.split(F.col("name"), "/")
        path = F.when(
            F.size(parts) > strip_components,
            F.array_join(
                F.slice(parts, strip_components + 1,
                        2_147_483_647), "/"),
        )  # members shallower than the strip depth drop (NULL path)
    cand = members.select(
        F.col("doc_id").alias("archive_id"),
        F.col("member_idx"),
        path.alias("path"),
        "body",
    ).filter(
        F.col("path").isNotNull()
        & lang_from_path("path").isNotNull()
    )

    def decode(it):
        for pdf in it:
            yield pd.DataFrame({
                "archive_id": pdf["archive_id"],
                "member_idx": pdf["member_idx"],
                "path": pdf["path"],
                "text": [
                    (bytes(b).decode("utf-8", errors="replace")
                     if b is not None else "")
                    for b in pdf["body"]
                ],
            })

    files = cand.mapInPandas(
        decode,
        "archive_id bigint, member_idx int, path string, text string")
    if apply_filter:
        files = stack_filter(files).filter(
            F.col("cq_verdict") == "keep")
    return (
        files.select(
            # member_idx joins the hash so two members that collapse
            # to one stripped path (tar append semantics, sibling
            # top-level dirs) keep DISTINCT ids (r14 review fix); the
            # member order of a given archive is deterministic, so
            # ids stay stable across re-ingestion
            F.xxhash64(F.col("archive_id"), F.col("path"),
                       F.col("member_idx"))
            .alias("doc_id"),
            F.col("text"),
            lang_from_path("path").alias("lang"),
            F.concat(F.lit("repo:"),
                     F.col("archive_id").cast("string"),
                     F.lit("/"), F.col("path")).alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
        .filter(F.col("n_chars") >= min_chars)
    )


def write_training_shards(packed: DataFrame, path: str,
                          compression: str = "zstd") -> None:
    """Materialize curate_corpus output as training shards: one directory
    per shard (partition pruning = shard addressing), rows within each
    file ordered by token_start so a sequential reader replays the
    concatenated token stream exactly as the packer laid it out. One
    shuffle (repartition by shard), ~one file per shard."""
    (
        packed.repartition("shard")
        .sortWithinPartitions("shard", "token_start")
        .write.partitionBy("shard")
        .option("compression", compression)
        .mode("overwrite")
        .parquet(path)
    )


def shard_report(spark, path: str) -> DataFrame:
    """Audit a :func:`write_training_shards` sink: one row per shard —
    ``(shard, n_docs, n_tokens, first_offset, last_end, n_gaps,
    tokens_vs_mean)`` — answering the two questions a training run asks
    before it starts: is every shard's token stream CONTIGUOUS from 0
    (``n_gaps = 0`` and ``first_offset = 0`` ⇒ a sequential reader
    replays exactly the packed stream; any other value names the broken
    shard), and are shards BALANCED (``tokens_vs_mean`` — straggler
    shards stretch epoch wall-clock by their excess).

    One column-pruned scan (shard, token_start, n_tokens — stored text is
    never read), one window + aggregate sharing the shard partitioning;
    the k-row mean join broadcasts. Scale: work ∝ docs, result ∝ shards."""
    from pyspark.sql import Window

    rows = spark.read.parquet(path).select("shard", "token_start", "n_tokens")
    w = Window.partitionBy("shard").orderBy("token_start")
    gap = (
        F.col("token_start")
        != F.coalesce(
            F.lag(F.col("token_start") + F.col("n_tokens")).over(w),
            F.col("token_start"),  # first row in the shard: not a gap here
        )
    ).cast("long")
    per = (
        rows.withColumn("_gap", gap)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("token_start").cast("long").alias("first_offset"),
            F.max(F.col("token_start") + F.col("n_tokens"))
            .cast("long")
            .alias("last_end"),
            F.sum("_gap").cast("long").alias("n_gaps"),
        )
    )
    mean = per.agg(F.avg("n_tokens").alias("_mean"))
    return (
        per.crossJoin(F.broadcast(mean))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "first_offset",
            "last_end",
            "n_gaps",
            round6(F.col("n_tokens") / F.nullif(F.col("_mean"), F.lit(0.0))).alias(
                "tokens_vs_mean"
            ),
        )
        .orderBy("shard")
    )


def commit_deduped_batch(
    new_docs: DataFrame,
    base_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
    keep_versions: int = 2,
) -> dict:
    """Continuous-ingest commit: dedup a new batch against everything the
    sink has EVER committed, then append only the novel docs — together
    with their dedup-index columns — as one atomic, reader-safe version
    (operators/versioned.py::append_versioned).

    The sink holds ONE relation per doc: the doc's own columns plus
    ``fingerprint`` and the MinHash signature ``m0..m{num_hashes-1}``
    (operators/dedup.py::corpus_dedup_index). Storing the index inline
    rather than in a sibling sink keeps the commit atomic (no docs/index
    ordering window where a crash strands one side) and costs nothing at
    probe time: the index read projects only the narrow columns, so
    parquet column pruning never touches stored text.

    Dedup order: within-batch EXACT dedup first (canonical = min id per
    fingerprint — a batch that contains its own duplicate must not land
    twice), then verdicts against the committed index via
    dedup_against_index (exact fingerprint hit, LSH near-dup ≥ threshold,
    or kept). Within-batch NEAR-dup is deliberately out of scope here —
    run the batch through :func:`curate_corpus` first when that matters.

    Returns a report dict: n_in, n_within_exact (dropped as within-batch
    copies), n_exact_dup / n_near_dup (dropped against committed state),
    n_committed (rows actually appended — 0 on a full-duplicate or
    replayed batch), version (the version this call committed, or the
    snapshot it read when it committed nothing). The counts are O(1)
    driver scalars off one verdict aggregate; nothing O(batch) collects.

    Concurrency: the snapshot is resolved ONCE; the verdicts, the id-keyed
    anti-join and the commit (versioned.append_versioned →
    commit_manifest) all use it, so
    an ingest that commits in between makes this call lose with
    ConcurrentWriteError instead of landing docs judged against a state
    that no longer exists. On ConcurrentWriteError, retry: the retry
    judges against the racer's docs too.
    """
    from .operators.dedup import corpus_dedup_index, dedup_against_index
    from .operators.versioned import (
        append_versioned,
        current_version,
        read_appended,
    )

    spark = new_docs.sparkSession
    reserved = {"fingerprint", *(f"m{i}" for i in range(num_hashes))}
    clash = sorted(reserved & set(new_docs.columns))
    if clash:
        # the sink row is doc columns + these index columns; a silent
        # duplicate column name would poison every later read
        raise ValueError(
            f"new_docs columns {clash} collide with the sink's dedup-index "
            "columns; rename them before committing"
        )
    n_in = new_docs.count()
    batch_idx = corpus_dedup_index(
        new_docs, text_col, id_col, k, num_hashes
    ).persist()
    # unpersist on EVERY exit — a ConcurrentWriteError from the
    # append must not leak the delta-index cache entries
    verdicts = None
    survivor_idx = None
    try:
        canon = batch_idx.groupBy("fingerprint").agg(
            F.min("doc_id").alias("__canon_id")
        ).withColumnRenamed("fingerprint", "__canon_fp")
        survivor_idx = (
            batch_idx.join(
                F.broadcast(canon),
                (batch_idx["fingerprint"] == canon["__canon_fp"])
                & (batch_idx["doc_id"] == canon["__canon_id"]),
            )
            .select(batch_idx["*"])
            .persist()
        )
        n_within = n_in - survivor_idx.count()

        sig_cols = [f"m{i}" for i in range(num_hashes)]
        snapshot = current_version(spark, base_path)
        if snapshot is not None:
            committed_index = read_appended(spark, base_path, snapshot).select(
                "doc_id", "fingerprint", *sig_cols
            )
            survivors_docs = new_docs.join(
                F.broadcast(survivor_idx.select("doc_id")),
                new_docs[id_col] == survivor_idx["doc_id"],
            ).select(new_docs["*"])
            verdicts = dedup_against_index(
                survivors_docs,
                committed_index,
                text_col=text_col,
                id_col=id_col,
                k=k,
                num_hashes=num_hashes,
                band_size=band_size,
                threshold=threshold,
                new_index=survivor_idx,
            ).persist()
            counts = {
                r["verdict"]: r["n"]
                for r in verdicts.groupBy("verdict")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            keep_ids = verdicts.filter(F.col("verdict") == "kept").select("doc_id")
        else:
            counts = {}
            keep_ids = survivor_idx.select("doc_id")

        rows = (
            new_docs.alias("d")
            .join(
                survivor_idx.select("doc_id", "fingerprint", *sig_cols).alias("i"),
                F.col(f"d.{id_col}") == F.col("i.doc_id"),
            )
            .join(F.broadcast(keep_ids.alias("kp")), F.col("i.doc_id") == F.col("kp.doc_id"))
            .select("d.*", "i.fingerprint", *[f"i.{c}" for c in sig_cols])
        )
        version, n_committed = append_versioned(
            rows, base_path, snapshot, key=id_col,
            keep_versions=keep_versions)
        return {
            "n_in": n_in,
            "n_within_exact": n_within,
            "n_exact_dup": counts.get("exact_dup", 0),
            "n_near_dup": counts.get("near_dup", 0),
            "n_committed": n_committed,
            "version": version,
        }
    finally:
        if verdicts is not None:
            verdicts.unpersist()
        if survivor_idx is not None:
            survivor_idx.unpersist()
        batch_idx.unpersist()
