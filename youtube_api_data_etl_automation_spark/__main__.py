"""CLI entry point — the drop-in replacement for the reference's script run.

The reference runs `python fetch_youtube_data.py` from a daily cron
(`.github/workflows/daily_etl.yml:5-7`); this module makes the engine
invocable the same way:

    python -m youtube_api_data_etl_automation_spark etl \
        --channels UCabc,UCdef --warehouse /data/wh --transport https

    python -m youtube_api_data_etl_automation_spark curate \
        --input /data/docs.parquet --output /data/shards \
        --benchmark /data/eval_docs.parquet

    python -m youtube_api_data_etl_automation_spark drift \
        --sink /data/wh/video_stats   # exit 2 + flagged metrics on drift

    python -m youtube_api_data_etl_automation_spark profile \
        --input /data/docs.parquet --hist n_chars:0:10000:20 \
        --not-null doc_id --unique doc_id --satisfies "n_chars >= 0"

Each subcommand prints ONE JSON line of counters on success (the
reference's log counters for `etl`; the per-stage audit for `curate`), so
cron logs stay grep-able and a scheduler can assert on the output.
Exit code is non-zero on any failure — a cron that ignores output still
notices.
"""

from __future__ import annotations

import argparse
import json
import sys


def _cmd_events(args: argparse.Namespace) -> int:
    """Behavioral analytics over an event table from the command line:
    the greedy-earliest funnel for --steps and (optionally) the cohort
    retention matrix — one JSON line, the dashboard numbers without a
    dashboard. Exit 0 always (this is a readout, not a gate).

    ``--state-dir`` switches to the r9 incremental mode: ``--input`` +
    ``--batch-id`` folds the batch into the committed per-user funnel
    state (and, with --retention, the activity state in a sibling
    subdir) exactly once — replayed batch ids fold nothing — and the
    rollups print OFF THE STATE, zero rescans of prior events;
    ``--report`` (no --input) is the pure dashboard read."""
    from .operators.funnel import funnel, retention_cohorts
    from .session import get_spark

    steps = [s for s in args.steps.split(",") if s]
    if len(steps) < 1 or len(set(steps)) != len(steps):
        print(json.dumps({"status": "error",
                          "error": "--steps needs distinct comma-separated "
                          "event types"}))
        return 1
    if not args.input and not args.state_dir:
        print(json.dumps({"status": "error",
                          "error": "--input is required (except with "
                          "--state-dir --report)"}))
        return 1
    spark = get_spark("events-analytics", master=args.master)
    if args.state_dir:
        return _events_state_mode(args, spark, steps)
    ev = spark.read.parquet(args.input)
    out: dict = {
        "status": "ok",
        "funnel": [
            r.asDict()
            for r in funnel(
                ev, steps,
                user_col=args.user_col, type_col=args.type_col,
                ts_col=args.ts_col, within_sec=args.within_sec,
            ).orderBy("step").collect()
        ],
    }
    if args.retention:
        out["retention"] = [
            r.asDict()
            for r in retention_cohorts(
                ev, user_col=args.user_col, ts_col=args.ts_col,
                max_offset_days=args.max_offset_days,
            ).orderBy("cohort_day", "offset_days").collect()
        ]
    print(json.dumps(out, default=str))
    return 0


def _events_state_mode(args, spark, steps) -> int:
    from .operators.funnel import (
        fold_funnel_state,
        fold_retention_state,
        funnel_from_state,
        retention_from_state,
    )
    from .operators.versioned import (
        incremental_state_versioned,
        read_agg_state,
    )

    fdir = args.state_dir.rstrip("/") + "/funnel"
    rdir = args.state_dir.rstrip("/") + "/retention"
    folded = False
    if args.input:
        if not args.batch_id:
            print(json.dumps({"status": "error",
                              "error": "--state-dir with --input requires "
                              "--batch-id"}))
            return 1
        ev = spark.read.parquet(args.input)
        incremental_state_versioned(
            ev, fdir, args.batch_id,
            lambda old, delta: fold_funnel_state(
                old, delta, steps, user_col=args.user_col,
                type_col=args.type_col, ts_col=args.ts_col,
            ),
        )
        if args.retention:
            incremental_state_versioned(
                ev, rdir, args.batch_id,
                lambda old, delta: fold_retention_state(
                    old, delta, user_col=args.user_col, ts_col=args.ts_col
                ),
            )
        folded = True
    try:
        fstate = read_agg_state(spark, fdir)
    except FileNotFoundError:
        print(json.dumps({"status": "error",
                          "error": f"no committed funnel state under {fdir}; "
                          "fold a batch first (--input --batch-id)"}))
        return 1
    out: dict = {
        "status": "ok",
        "folded": folded,
        "funnel": [
            r.asDict()
            for r in funnel_from_state(fstate, steps)
            .orderBy("step").collect()
        ],
    }
    if args.retention:
        try:
            rstate = read_agg_state(spark, rdir)
        except FileNotFoundError:
            rstate = None
        if rstate is not None:
            out["retention"] = [
                r.asDict()
                for r in retention_from_state(
                    rstate, max_offset_days=args.max_offset_days
                ).orderBy("cohort_day", "offset_days").collect()
            ]
    print(json.dumps(out, default=str))
    return 0


def _cmd_ivf(args: argparse.Namespace) -> int:
    """IVF index maintenance from the command line: --report prints
    per-cell size health off partition metadata (exit 2 when any cell is
    out of band — a gate, like drift), --append folds a batch in at
    O(delta), --rebalance retrains the grid to the design cell size and
    compacts, --gc reclaims unreferenced batch dirs, --init builds the
    first version (centroids = k-means from the k lowest-id vectors)."""
    from .session import get_spark

    spark = get_spark("ivf-maintenance", master=args.master)
    from .operators.similarity import (
        append_ivf_index_versioned,
        current_ivf_index_dirs,
        ivf_cell_report,
        rebalance_ivf_index,
        train_ivf_grid,
        write_ivf_index_versioned,
    )
    from .operators.versioned import gc_batches

    try:
        if args.init:
            if not args.input or not args.k:
                raise ValueError("--init requires --input and --k")
            corpus = spark.read.parquet(args.input).select(
                args.id_col, args.vec_col
            )
            v = write_ivf_index_versioned(
                corpus,
                train_ivf_grid(corpus, args.k, n_iter=args.n_iter,
                               id_col=args.id_col, vec_col=args.vec_col),
                args.base, id_col=args.id_col, vec_col=args.vec_col,
            )
            print(json.dumps({"status": "ok", "action": "init",
                              "version": v, "k": args.k}))
            return 0
        if args.append:
            if not args.input:
                raise ValueError("--append requires --input")
            v = append_ivf_index_versioned(
                spark.read.parquet(args.input), args.base,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            print(json.dumps({"status": "ok", "action": "append",
                              "version": v}))
            return 0
        if args.rebalance:
            if not args.target_cell_size:
                raise ValueError("--rebalance requires --target-cell-size")
            out = rebalance_ivf_index(
                spark, args.base, target_cell_size=args.target_cell_size,
                n_iter=args.n_iter, id_col=args.id_col, vec_col=args.vec_col,
            )
            print(json.dumps({"status": "ok", "action": "rebalance", **out}))
            return 0
        if args.gc:
            deleted = gc_batches(spark, args.base)
            print(json.dumps({"status": "ok", "action": "gc",
                              "deleted": deleted}))
            return 0
        # default: --report
        lo, _, hi = (args.band or "0.5:2.0").partition(":")
        dirs = current_ivf_index_dirs(spark, args.base)
        rows = [
            r.asDict()
            for r in ivf_cell_report(
                spark, dirs, target_cell_size=args.target_cell_size,
                band=(float(lo), float(hi)),
            ).orderBy("cluster_id").collect()
        ]
        flagged = [r["cluster_id"] for r in rows if r["flagged"]]
        print(json.dumps({
            "status": "flagged" if flagged else "ok", "action": "report",
            "n_dirs": len(dirs), "cells": rows, "flagged_cells": flagged,
        }, default=str))
        return 2 if flagged else 0
    except (FileNotFoundError, ValueError) as e:
        print(json.dumps({"status": "error", "error": str(e)}))
        return 1


def _cmd_etl(args: argparse.Namespace) -> int:
    from .pipeline import run_etl
    from .session import get_spark

    spark = get_spark("youtube-etl", master=args.master)
    counts = run_etl(
        spark,
        channel_ids=[c for c in args.channels.split(",") if c],
        warehouse=args.warehouse,
        transport=args.transport,
        seed=args.seed,
    )
    print(json.dumps({"status": "ok", **counts}))
    return 0


def _cmd_curate(args: argparse.Namespace) -> int:
    from .corpus import curate_corpus, write_training_shards
    from .session import get_spark

    # Usage errors die before a Spark session spins up (the drift
    # subcommand's parse-time discipline).
    if (args.dsir_target is None) != (args.dsir_keep is None):
        print(
            json.dumps(
                {
                    "status": "error",
                    "error": "--dsir-target and --dsir-keep must be given together",
                }
            )
        )
        return 2
    if args.ppl_ref is None and (args.ppl_keep is not None
                                 or args.ppl_approx is not None):
        print(json.dumps({
            "status": "error",
            "error": "--ppl-keep/--ppl-approx are only consumed by "
                     "the perplexity stage; pass --ppl-ref too",
        }))
        return 2
    ppl_keep = tuple(
        b.strip() for b in (args.ppl_keep or "head,middle").split(",")
        if b.strip())
    if args.ppl_ref is not None and not ppl_keep:
        print(json.dumps({
            "status": "error",
            "error": "--ppl-keep must name at least one bucket",
        }))
        return 2
    if args.psl_file and args.domain_cap is None:
        print(json.dumps({
            "status": "error",
            "error": "--psl-file is only consumed by --domain-cap; "
                     "pass both",
        }))
        return 2
    spark = get_spark("corpus-curate", master=args.master)
    docs = spark.read.parquet(args.input)
    benchmark = spark.read.parquet(args.benchmark) if args.benchmark else None
    if (args.robots or args.domain_cap is not None) \
            and args.url_col not in docs.columns:
        print(json.dumps({
            "status": "error",
            "error": f"--robots/--domain-cap need column "
                     f"{args.url_col!r} in the input (see --url-col)",
        }))
        return 2
    robots_rules = None
    if args.robots:
        from .operators.robots import parse_robots

        robots_rules = parse_robots(spark.read.parquet(args.robots))
    psl = None
    if args.psl_file:
        psl = spark.read.text(args.psl_file).withColumnRenamed(
            "value", "rule")
    dsir_target = (
        spark.read.parquet(args.dsir_target) if args.dsir_target else None
    )
    ppl_ref = spark.read.parquet(args.ppl_ref) if args.ppl_ref else None
    lang_rates = None
    if args.lang_rates:
        lang_rates = {
            lang: int(rate)
            for lang, rate in (kv.split("=") for kv in args.lang_rates.split(","))
        }
    out = curate_corpus(
        docs,
        benchmark=benchmark,
        id_col=args.id_col,
        text_col=args.text_col,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        quality_min=args.quality_min,
        lang_rates=lang_rates,
        pack_budget=args.pack_budget,
        n_shards=args.shards,
        audit=True,
        strip_html=args.strip_html,
        normalize_unicode=args.normalize_unicode,
        neardup_threshold=args.neardup_threshold,
        quality_preset=args.quality_preset,
        dsir_target=dsir_target,
        dsir_keep=args.dsir_keep,
        url_col=args.url_col,
        robots_rules=robots_rules,
        robots_agent=args.robots_agent,
        domain_cap=args.domain_cap,
        psl=psl,
        ppl_ref=ppl_ref,
        ppl_keep=ppl_keep,
        ppl_approx=args.ppl_approx,
        nl_funnel=not args.no_nl_funnel,
    )
    write_training_shards(out["documents"], args.output)
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    print(json.dumps({"status": "ok", "output": args.output, "stages": report}))
    return 0


def _cmd_frontier(args: argparse.Namespace) -> int:
    from .operators.robots import (
        crawl_frontier,
        parse_robots,
        warc_robots_rules,
    )
    from .session import get_spark

    if (args.robots is None) == (args.warc is None):
        print(json.dumps({
            "status": "error",
            "error": "give exactly one of --robots (host,payload "
                     "captures) or --warc (crawl payloads with "
                     "robots.txt responses)",
        }))
        return 2
    spark = get_spark("crawl-frontier", master=args.master)
    if args.robots is not None:
        rules = parse_robots(spark.read.parquet(args.robots))
    else:
        rules = warc_robots_rules(spark.read.parquet(args.warc))
    fetches = spark.read.parquet(args.sitemaps)
    seen = spark.read.parquet(args.seen) if args.seen else None
    frontier = crawl_frontier(rules, fetches, agent=args.agent,
                              seen=seen, url_col=args.url_col)
    if args.schedule_slots:
        from .operators.robots import schedule_fetches

        frontier = schedule_fetches(
            frontier, args.schedule_slots,
            default_delay_sec=args.default_delay)
    frontier.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    n = out.count()
    n_hosts = out.select("host").distinct().count()
    print(json.dumps({"status": "ok", "output": args.output,
                      "n_urls": n, "n_hosts": n_hosts}))
    return 0


def _cmd_ingest(args: argparse.Namespace) -> int:
    from .corpus import commit_deduped_batch
    from .session import get_spark

    spark = get_spark("corpus-ingest", master=args.master)
    batch = spark.read.parquet(args.input)
    report = commit_deduped_batch(
        batch,
        args.sink,
        id_col=args.id_col,
        text_col=args.text_col,
        threshold=args.neardup_threshold,
        keep_versions=args.keep_versions,
    )
    print(json.dumps({"status": "ok", **report}))
    # cron-friendly: 3 = the whole batch was duplicates (nothing landed,
    # not an error — but a pipeline may want to notice a fully-stale feed)
    return 3 if report["n_committed"] == 0 else 0


def _cmd_codedocs(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .corpus import code_files_to_documents
    from .session import get_spark

    spark = get_spark("code-docs", master=args.master)
    files = spark.read.parquet(args.input)
    if args.archives:
        from .corpus import repo_archive_to_code_documents

        docs = repo_archive_to_code_documents(
            files,
            strip_components=args.strip_components,
            min_chars=args.min_chars,
            apply_filter=not args.no_filter,
        )
    else:
        docs = code_files_to_documents(
            files,
            path_col=args.path_col,
            text_col=args.text_col,
            min_chars=args.min_chars,
            apply_filter=not args.no_filter,
        )
    docs.write.mode("overwrite").parquet(args.output)
    docs = spark.read.parquet(args.output)  # summarize the sink
    n_in = files.count()
    n_out = docs.count()
    by_lang = {
        str(r["lang"]): r["n"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    summary = {"status": "ok", "n_documents": n_out,
               "by_lang": by_lang, "output": args.output}
    if args.archives:
        # input rows are archives, outputs are member files — a
        # files-minus-documents drop count would be negative nonsense
        summary["n_archives"] = n_in
    else:
        summary["n_files"] = n_in
        summary["n_dropped"] = n_in - n_out
    print(json.dumps(summary))
    return 0


def _version_pair(s: str) -> tuple[int, int]:
    """argparse type for PREV:CUR — malformed specs (including
    semantically invalid ones like PREV == CUR) die as clean usage
    errors, not tracebacks after a Spark session already spun up."""
    try:
        a, b = s.split(":")
        pair = int(a), int(b)
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expected PREV:CUR (two integers), got {s!r}"
        ) from None
    if pair[0] == pair[1]:
        raise argparse.ArgumentTypeError(
            f"PREV and CUR must differ, got {s!r}"
        )
    return pair


def _psi_spec(s: str) -> tuple[str, float, float, int]:
    """argparse type for COL:LO:HI:BINS — grid semantics (hi > lo,
    bins > 0) are validated here too, so an invalid grid is a usage
    error, not a post-session ValueError traceback."""
    try:
        col, lo_s, hi_s, bins_s = s.split(":")
        lo, hi, bins = float(lo_s), float(hi_s), int(bins_s)
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expected COL:LO:HI:BINS, got {s!r}"
        ) from None
    if bins <= 0:
        raise argparse.ArgumentTypeError(
            f"BINS must be positive, got {s!r}"
        )
    if not hi > lo:
        raise argparse.ArgumentTypeError(
            f"need HI > LO, got {s!r}"
        )
    return col, lo, hi, bins


def _profile_state_mode(args, spark, df, cols) -> int:
    """`profile --state-dir`: the O(delta) nightly profile. Drift-check the
    incoming batch against the committed cumulative state (k-row compare,
    zero historical rescans), then fold it in exactly once
    (operators/versioned.py::incremental_profile_versioned) — unless
    --gate-drift and the batch flagged, in which case the state stays
    clean and the exit code quarantines the batch. Exit 2 on drift."""
    from .operators.profile import stats_from_state
    from .operators.versioned import (
        current_version,
        drift_vs_profile_state,
        incremental_profile_versioned,
    )

    if not args.batch_id:
        print(json.dumps({"status": "error",
                          "error": "--state-dir requires --batch-id"}))
        return 1
    from pyspark.sql import functions as F

    flags: list[dict] = []
    if current_version(spark, args.state_dir) is not None:
        drift = drift_vs_profile_state(
            df, args.state_dir, cols,
            null_rate_jump=args.null_rate_jump,
            distinct_drop=args.distinct_drop,
            mean_shift=args.mean_shift,
        )
        flags = [
            r.asDict() for r in drift.filter(F.col("flagged")).collect()
        ]
        if args.hist:
            # shape gate: PSI of the batch vs the committed histogram
            # state (grid read off the state, so it can't drift)
            from .operators.versioned import psi_vs_hist_state

            try:
                psi_row = psi_vs_hist_state(
                    df, args.state_dir, args.hist[0],
                    psi_threshold=args.psi_threshold,
                ).collect()[0]
            except FileNotFoundError:
                psi_row = None  # moment-only history; tracking starts now
            except (KeyError, ValueError) as e:
                # --hist names a column the committed hist state doesn't
                # track (KeyError: operator retargeted between runs) or
                # the state holds colliding grids (ValueError). Honor the
                # JSON error contract, not a traceback.
                print(json.dumps({"status": "error", "error": str(e)}))
                return 1
            if psi_row is not None and psi_row["flagged"]:
                flags.append({
                    "column_name": args.hist[0], "metric": "psi",
                    "prev_value": float(psi_row["prev_total"]),
                    "cur_value": float(psi_row["cur_total"]),
                    "delta": psi_row["psi"], "flagged": True,
                })
    folded = not (flags and args.gate_drift)
    hist_specs = [tuple(args.hist)] if args.hist else None
    topk_specs = None
    if args.track_topk:
        topk_specs = []
        for spec in args.track_topk:
            col_name, _, kt = spec.partition(":")
            topk_specs.append((col_name, int(kt) if kt else 100))
    if folded:
        try:
            state = incremental_profile_versioned(
                df, args.state_dir, cols, batch_id=args.batch_id,
                hist_specs=hist_specs, topk_specs=topk_specs,
            )
        except ValueError as e:
            # hist/topk drop-protection: folding this batch without the
            # previously-tracked hist/topk specs would silently lose
            # committed sketch history. JSON error contract, exit 1.
            print(json.dumps({"status": "error", "error": str(e)}))
            return 1
    else:
        from .operators.versioned import read_agg_state

        state = read_agg_state(spark, args.state_dir)
    cumulative = [r.asDict() for r in stats_from_state(state).collect()]
    print(json.dumps({
        "status": "drift_flagged" if flags else "ok",
        "batch_id": args.batch_id,
        "folded": folded,
        "drift_flags": flags,
        "cumulative_profile": [
            {k: v for k, v in r.items() if v is not None} for r in cumulative
        ],
    }, default=str))
    return 2 if flags else 0


def _profile_report_mode(args, spark) -> int:
    """`profile --state-dir --report`: the dashboard read — cumulative
    stats (plus quantiles off the committed shape and the heavy-hitter
    bounds, where tracked) straight from the committed state, ZERO scans
    of any data. No --input, no fold, exit 0."""
    from .operators.profile import (
        merge_topk_states,
        quantiles_from_state,
        stats_from_state,
        topk_from_state,
    )
    from .operators.versioned import read_agg_state, read_state_part

    state = read_agg_state(spark, args.state_dir)
    out: dict = {
        "status": "ok",
        "cumulative_profile": [
            {k: v for k, v in r.asDict().items() if v is not None}
            for r in stats_from_state(state).collect()
        ],
    }
    try:
        hist = read_state_part(spark, args.state_dir, "hist")
        tracked = [
            r["column_name"]
            for r in hist.select("column_name").distinct().collect()
        ]
        quantiles: dict = {}
        for c in sorted(tracked):
            try:
                quantiles[c] = {
                    str(r["q"]): r["value"]
                    for r in quantiles_from_state(
                        hist, c, [0.5, 0.9, 0.99]
                    ).collect()
                }
            except ValueError as e:
                # grid changed mid-history for this column — surface the
                # refusal per-column instead of a traceback, keep the
                # rest of the report usable
                quantiles[c] = {"error": str(e)}
        out["quantiles"] = quantiles
    except FileNotFoundError:
        pass
    try:
        topk = merge_topk_states(
            read_state_part(spark, args.state_dir, "topk")
        )
        cols = [
            r["column_name"]
            for r in topk.select("column_name").distinct().collect()
        ]
        out["top_values"] = {
            c: [
                r.asDict()
                for r in topk_from_state(topk, c, k=args.k).collect()
            ]
            for c in sorted(cols)
        }
    except FileNotFoundError:
        pass
    print(json.dumps(out, default=str))
    return 0


def _cmd_profile(args: argparse.Namespace) -> int:
    """One-scan table profile (+ optional histogram / top-k / contract
    checks) straight from the command line — the triage pass every
    ingest starts with, printable into cron logs. Exit 2 when any
    declared check fails (a contract violation is drift-grade news)."""
    from .operators.profile import fused_profile, numeric_histogram, top_values
    from .session import get_spark

    if args.report and not args.state_dir:
        print(json.dumps({"status": "error",
                          "error": "--report requires --state-dir"}))
        return 1
    if not args.input and not (args.state_dir and args.report):
        print(json.dumps({"status": "error",
                          "error": "--input is required (except with "
                          "--state-dir --report)"}))
        return 1
    spark = get_spark("table-profile", master=args.master)
    if args.report:
        return _profile_report_mode(args, spark)
    df = spark.read.parquet(args.input)
    cols = [c for c in (args.columns or "").split(",") if c] or None
    if args.state_dir:
        return _profile_state_mode(args, spark, df, cols)
    checks = []
    for spec in args.not_null or []:
        from .operators.expectations import not_null

        checks.append(not_null(spec))
    for spec in args.unique or []:
        from .operators.expectations import unique

        checks.append(unique(spec))
    for spec in args.satisfies or []:
        from .operators.expectations import satisfies

        checks.append(satisfies(spec))
    prof = fused_profile(
        df, cols, checks=checks, exact_distinct=not args.approx_distinct
    )
    rows = [r.asDict() for r in prof.collect()]
    if args.hist:
        col, lo, hi, bins = args.hist
        rows += [
            {"section": "hist", "column_name": col, **r.asDict()}
            for r in numeric_histogram(df, col, lo, hi, bins).collect()
        ]
    if args.topk:
        rows += [
            {"section": "topk", "column_name": args.topk, **r.asDict()}
            for r in top_values(df, args.topk, k=args.k).collect()
        ]
    failed = [
        r["check"]
        for r in rows
        if r.get("section") == "checks" and r.get("passed") is False
    ]
    out = {
        "status": "check_failed" if failed else "ok",
        "n_rows": next(
            (r["n_rows"] for r in rows if r.get("section") == "stats"), 0
        ),
        "failed_checks": failed,
        "profile": [
            {k: v for k, v in r.items() if v is not None} for r in rows
        ],
    }
    print(json.dumps(out))
    return 2 if failed else 0


def _cmd_shards(args: argparse.Namespace) -> int:
    """Certify a training-shard sink before a run: per-shard token
    totals, contiguity-from-0 gap count, and balance-vs-mean. Exit 2
    when any shard is broken (a gap or a nonzero first offset means a
    sequential reader will NOT replay the packed stream)."""
    from .corpus import shard_report
    from .session import get_spark

    spark = get_spark("shard-report", master=args.master)
    rows = [r.asDict() for r in shard_report(spark, args.input).collect()]
    broken = [
        r["shard"] for r in rows if r["n_gaps"] != 0 or r["first_offset"] != 0
    ]
    print(
        json.dumps(
            {
                "status": "broken_shards" if broken else "ok",
                "n_shards": len(rows),
                "broken_shards": broken,
                "shards": rows,
            }
        )
    )
    return 2 if broken else 0


def _cmd_drift(args: argparse.Namespace) -> int:
    from .operators.versioned import (
        drift_between_versions,
        resolve_version_pair,
        schema_diff_between_versions,
    )
    from .session import get_spark

    spark = get_spark("sink-drift", master=args.master)
    cols = [c for c in (args.columns or "").split(",") if c] or None
    # Resolve the (prev, cur) pair ONCE and pass it explicitly to every
    # section below — otherwise a commit landing between the value-drift,
    # schema-diff, and PSI calls would make the sections of one report
    # describe different version pairs.
    versions = resolve_version_pair(spark, args.sink, args.versions)
    rows = drift_between_versions(
        spark,
        args.sink,
        cols,
        versions=versions,
        null_rate_jump=args.null_rate_jump,
        distinct_drop=args.distinct_drop,
        mean_shift=args.mean_shift,
    ).collect()
    flagged = [
        {
            "column": r["column_name"],
            "metric": r["metric"],
            "prev": r["prev_value"],
            "cur": r["cur_value"],
            "delta": r["delta"],
        }
        for r in rows
        if r["flagged"]
    ]
    # Value drift above runs over the SHARED columns only
    # (profile_drift diffs schemas explicitly, not through drift
    # arithmetic) — this is that explicit diff: a dropped/retyped
    # column is a BREAKING change and must flag the run even though
    # no value metric can see it.
    schema_rows = schema_diff_between_versions(
        spark, args.sink, versions=versions
    ).collect()
    schema_changes = [
        {
            "column": r["column_name"],
            "change": r["change"],
            "prev_type": r["prev_type"],
            "cur_type": r["cur_type"],
            "breaking": r["breaking"],
        }
        for r in schema_rows
    ]
    breaking = any(c["breaking"] for c in schema_changes)
    out = {
        "status": "ok",
        "prev_version": versions[0],
        "cur_version": versions[1],
        "n_metrics": len(rows),
        "flagged": flagged,
        "schema_changes": schema_changes,
    }
    if args.psi:
        from .operators.versioned import psi_between_versions

        col, lo, hi, bins = args.psi
        psi = psi_between_versions(
            spark,
            args.sink,
            col,
            lo,
            hi,
            bins,
            versions=versions,
            psi_threshold=args.psi_threshold,
        ).collect()[0]
        out["psi"] = {
            "column": psi["column_name"],
            "psi": psi["psi"],
            "flagged": psi["flagged"],
        }
        if psi["flagged"]:
            # Same key shape as the moment-drift entries, so consumers can
            # index flagged[i]['delta'] regardless of which metric fired
            # (prev/cur are the two distribution masses' totals; the PSI
            # value itself is the drift magnitude).
            flagged.append(
                {
                    "column": psi["column_name"],
                    "metric": "psi",
                    "prev": psi["prev_total"],
                    "cur": psi["cur_total"],
                    "delta": psi["psi"],
                }
            )
    out["status"] = "drift" if (flagged or breaking) else "ok"
    print(json.dumps(out))
    # a cron that only checks exit codes still notices drift — including
    # a breaking schema change no value metric can see
    return 2 if (flagged or breaking) else 0


def _cmd_media(args: argparse.Namespace) -> int:
    """Run one media operator over a parquet of binary payloads from the
    command line (r10): header probes, real decodes, the probe-first
    triage router, EXIF, and embedded tags. Input needs a binary
    ``payload`` column and an id column (``doc_id``, or ``payload_id``
    which is renamed). Prints ONE JSON summary line (row count + the
    per-format / per-route / per-error_kind breakdowns); ``--output``
    additionally writes the full per-payload result parquet. Exit 1 on
    unusable input, 2 when any payload quarantined (a cron that only
    checks exit codes still notices a corrupt batch), else 0."""
    from pyspark.sql import functions as F

    from .operators import (
        archives,
        imagehash,
        latex,
        mail,
        markdown,
        mediameta,
        notebooks,
        pdf,
        rtf,
        subtitles,
        tiff,
    )
    from .operators.multimodal import (
        audio_subband_features,
        decode_audio,
        decode_image,
    )
    from .session import get_spark

    spark = get_spark("media-ops", master=args.master)
    try:
        blobs = spark.read.parquet(args.input)
    except Exception as e:
        print(json.dumps({"status": "error", "error": str(e)}))
        return 1
    if "payload_id" in blobs.columns and "doc_id" not in blobs.columns:
        blobs = blobs.withColumnRenamed("payload_id", "doc_id")
    if "doc_id" not in blobs.columns or "payload" not in blobs.columns:
        print(json.dumps({"status": "error",
                          "error": "input needs doc_id (or payload_id) "
                          "and payload columns"}))
        return 1
    blobs = blobs.select("doc_id", "payload")
    ops = {
        "probe": mediameta.image_meta,
        "decode": decode_image,
        "audio": decode_audio,
        "audiometa": mediameta.audio_meta,
        "video": mediameta.video_meta,
        "triage": lambda b: mediameta.triage_decode_images(
            b, max_pixels=args.max_pixels),
        "exif": mediameta.image_exif,
        "tags": mediameta.audio_tags,
        "audiotriage": mediameta.triage_decode_audio,
        "archive": archives.archive_meta,
        "warc": archives.warc_records,
        "keyframe": mediameta.video_keyframe_features,
        "subband": audio_subband_features,
        "pdftext": pdf.pdf_text,
        "pdfmeta": pdf.pdf_meta,
        "pdfimages": pdf.pdf_images,
        "sniff": mediameta.sniff_format,
        "imagehash": imagehash.image_hashes,
        "members": archives.archive_members,
        "exifstrip": mediameta.strip_exif,
        "docxtext": archives.docx_text,
        "pptxtext": archives.pptx_text,
        "xlsxtext": archives.xlsx_text,
        "odftext": archives.odf_text,
        "epubtext": archives.epub_text,
        "emltext": mail.eml_text,
        "rtftext": rtf.rtf_text,
        "latextext": latex.latex_text,
        "mdtext": markdown.markdown_text,
        "ipynbtext": notebooks.ipynb_text,
        "mboxsplit": mail.mbox_split,
        "thumbnail": imagehash.image_thumbnails,
        "subtitles": subtitles.subtitles_text,
        "tiffpages": tiff.tiff_page_images,
    }
    out = ops[args.op](blobs)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)  # summarize the sink
    group_col = next(
        (c for c in ("route", "format", "brand", "container",
                     "sniff_family")
         if c in out.columns), None
    )
    summary = {"status": "ok", "op": args.op, "n": out.count()}
    if group_col is not None:
        summary["by_" + group_col] = {
            str(r[group_col]): r["n"]
            for r in out.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
    n_bad = 0
    if "error_kind" in out.columns:
        kinds = {
            str(r["error_kind"]): r["n"]
            for r in out.filter(F.col("error_kind").isNotNull())
            .groupBy("error_kind").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        summary["by_error_kind"] = kinds
        n_bad = sum(kinds.values())
    if args.output:
        summary["output"] = args.output
    if n_bad:
        summary["status"] = "quarantined_payloads"
    print(json.dumps(summary))
    return 2 if n_bad else 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m youtube_api_data_etl_automation_spark",
        description=__doc__.split("\n\n")[0],
    )
    p.add_argument("--master", default=None, help="Spark master (default: local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="command", required=True)

    med = sub.add_parser(
        "media",
        help="media ops over a payload parquet: probe/decode/triage/"
             "exif/tags (r10)",
    )
    med.add_argument("--input", required=True,
                     help="parquet with doc_id (or payload_id) + payload")
    med.add_argument(
        "--op", required=True,
        choices=["probe", "decode", "audio", "audiometa", "video",
                 "triage", "exif", "tags", "audiotriage", "keyframe",
                 "subband", "archive", "warc", "pdftext", "pdfmeta",
                 "pdfimages", "imagehash", "members", "exifstrip",
                 "docxtext", "pptxtext", "xlsxtext", "odftext",
                 "epubtext", "emltext", "mboxsplit", "rtftext",
                 "latextext", "ipynbtext", "mdtext",
                 "thumbnail", "subtitles", "sniff", "tiffpages"],
        help="probe=image headers, decode=image pixels, audio=samples, "
             "audiometa=MP3/FLAC/WAV headers, video=MP4/MKV containers, "
             "triage=probe-then-decode router (audiotriage=the audio "
             "twin), keyframe=AVI-MJPEG/GIF first-frame features, "
             "subband=MPEG-1 Layer I/II essence stats, exif=JPEG APP1, "
             "tags=ID3/Vorbis/LIST-INFO",
    )
    med.add_argument("--output", default=None,
                     help="write the per-payload result parquet here")
    med.add_argument("--max-pixels", type=int, default=4_000_000,
                     help="triage pixel budget (default 4 Mpx)")
    med.set_defaults(fn=_cmd_media)

    etl = sub.add_parser("etl", help="one incremental ETL run (the reference's daily job)")
    etl.add_argument("--channels", required=True, help="comma-separated channel ids")
    etl.add_argument("--warehouse", required=True, help="sink directory (video_stats/ + channel_stats/)")
    etl.add_argument(
        "--transport",
        default="https",
        choices=["https", "fake"],
        help="https = real YouTube Data API v3 (YOUTUBE_API_KEY env); fake = hermetic deterministic transport",
    )
    etl.add_argument("--seed", type=int, default=42, help="fake-transport seed")
    etl.set_defaults(fn=_cmd_etl)

    cur = sub.add_parser("curate", help="full corpus curation + training-shard write")
    cur.add_argument("--input", required=True, help="documents parquet path")
    cur.add_argument("--output", required=True, help="training-shards output dir")
    cur.add_argument("--benchmark", default=None, help="eval-set parquet for decontamination")
    cur.add_argument("--id-col", default="doc_id")
    cur.add_argument("--text-col", default="text")
    cur.add_argument("--min-tokens", type=int, default=10)
    cur.add_argument("--max-tokens", type=int, default=1000)
    cur.add_argument("--quality-min", type=float, default=0.55)
    cur.add_argument(
        "--lang-rates",
        default=None,
        help="per-language keep-rates out of 256, e.g. en=128,fr=64 (default: keep all)",
    )
    cur.add_argument("--pack-budget", type=int, default=2048)
    cur.add_argument("--shards", type=int, default=16)
    cur.add_argument(
        "--strip-html",
        action="store_true",
        help="reduce documents to visible text (markup strip) before curation",
    )
    cur.add_argument(
        "--normalize-unicode",
        action="store_true",
        help="canonicalize unicode (mojibake repair, fullwidth fold, "
        "zero-width strip) before curation signals",
    )
    cur.add_argument(
        "--ppl-ref", default=None,
        help="reference-corpus parquet for the CCNet perplexity "
        "stage (bigram LM trained on it; tail bucket drops)")
    cur.add_argument(
        "--ppl-keep", default=None,
        help="perplexity buckets to keep, comma-joined (default "
        "head,middle; requires --ppl-ref)")
    cur.add_argument(
        "--ppl-approx", type=int, default=None,
        help="approx_percentile accuracy for the bucket thresholds "
        "(default exact; set for very large corpora; requires "
        "--ppl-ref)")
    cur.add_argument(
        "--no-nl-funnel", action="store_true",
        help="skip the natural-language lang/quality gate (keep the "
        "token bounds) and take lang from the input's lang column — "
        "for code corpora minted by codedocs, which already applied "
        "the structural funnel")
    cur.add_argument(
        "--neardup-threshold",
        type=float,
        default=None,
        help="enable MinHash-LSH near-dup dedup at this estimated-Jaccard "
        "threshold (default: exact dedup only)",
    )
    cur.add_argument(
        "--quality-preset",
        default=None,
        help="apply published quality rule chains ahead of the generic "
        "funnel: any '+'-combination of 'gopher' (quality rules), "
        "'gopher-rep' (repetition rules), and 'c4' (line filter), "
        "e.g. 'gopher+gopher-rep+c4' (operators/quality_presets.py)",
    )
    cur.add_argument(
        "--dsir-target",
        default=None,
        help="parquet path of a high-quality target corpus: enable DSIR "
        "importance selection of the survivors toward its hashed-n-gram "
        "distribution (requires --dsir-keep)",
    )
    cur.add_argument(
        "--dsir-keep",
        type=int,
        default=None,
        help="number of docs the DSIR stage keeps (sampled without "
        "replacement proportional to importance weight)",
    )
    cur.add_argument(
        "--robots",
        default=None,
        help="parquet path of per-host robots.txt captures (host, "
        "payload): enable the REP compliance pre-filter — documents "
        "whose URL the agent may not fetch are dropped before any "
        "signal is computed (operators/robots.py)",
    )
    cur.add_argument(
        "--robots-agent",
        default="*",
        help="user-agent the REP decision is made for (default '*')",
    )
    cur.add_argument(
        "--domain-cap",
        type=int,
        default=None,
        help="cap each registrable domain's contribution at N docs "
        "(two-path capping after dedup/decontam; group = exact PSL "
        "domain with --psl-file, ccSLD heuristic otherwise)",
    )
    cur.add_argument(
        "--psl-file",
        default=None,
        help="Public Suffix List text file (publicsuffix.org format, "
        "parses as-is): exact registrable domains for --domain-cap",
    )
    cur.add_argument(
        "--url-col",
        default="source",
        help="column carrying each document's URL (default 'source', "
        "the crawl URI of WARC-sourced documents)",
    )
    cur.set_defaults(fn=_cmd_curate)

    fro = sub.add_parser(
        "frontier",
        help="provenance-complete crawl seed list: robots Sitemap "
        "pointers -> fetched sitemap payloads -> REP-filtered "
        "canonical URLs minus already-ingested (operators/robots.py"
        "::crawl_frontier)",
    )
    fro.add_argument(
        "--robots", default=None,
        help="parquet of per-host robots.txt captures (host, payload)")
    fro.add_argument(
        "--warc", default=None,
        help="parquet of WARC payloads: use the crawl's own "
        "/robots.txt captures (warc_robots_rules)")
    fro.add_argument(
        "--sitemaps", required=True,
        help="parquet fetch table of sitemap payloads (url, payload)")
    fro.add_argument(
        "--seen", default=None,
        help="parquet of already-ingested URLs to subtract "
        "(column named by --url-col)")
    fro.add_argument("--agent", default="*",
                     help="crawling user-agent for the REP decision")
    fro.add_argument("--url-col", default="url")
    fro.add_argument(
        "--schedule-slots", type=int, default=0,
        help="if >0, emit a politeness-aware fetch plan instead of "
        "the bare frontier: slot (host-sticky worker), seq, and "
        "not_before_sec honoring each host's Crawl-delay "
        "(operators/robots.py::schedule_fetches)")
    fro.add_argument(
        "--default-delay", type=float, default=1.0,
        help="not_before_sec spacing for hosts with no Crawl-delay")
    fro.add_argument("--output", required=True,
                     help="frontier parquet output dir")
    fro.set_defaults(fn=_cmd_frontier)

    ing = sub.add_parser(
        "ingest",
        help="dedup a new batch against a committed corpus sink and "
        "atomically append only novel docs (+ their dedup index); "
        "exit 3 when the whole batch was duplicates",
    )
    ing.add_argument("--input", required=True, help="new-batch parquet path")
    ing.add_argument("--sink", required=True, help="versioned corpus sink dir")
    ing.add_argument("--id-col", default="doc_id")
    ing.add_argument("--text-col", default="text")
    ing.add_argument(
        "--neardup-threshold",
        type=float,
        default=0.5,
        help="estimated-Jaccard threshold for near-dup drops vs committed "
        "state (exact fingerprint dups always drop)",
    )
    ing.add_argument(
        "--keep-versions", type=int, default=2,
        help="retained manifest versions (batch data itself is never GC'd "
        "while listed)",
    )
    ing.set_defaults(fn=_cmd_ingest)

    cod = sub.add_parser(
        "codedocs",
        help="source-file table (path, text) -> documents-shaped "
        "parquet: language routed from the extension, files failing "
        "the The-Stack structural funnel dropped (late r14)",
    )
    cod.add_argument("--input", required=True,
                     help="parquet with path + text columns")
    cod.add_argument("--output", required=True,
                     help="documents-shaped parquet sink")
    cod.add_argument("--path-col", default="path")
    cod.add_argument("--text-col", default="text")
    cod.add_argument("--min-chars", type=int, default=1)
    cod.add_argument(
        "--no-filter", action="store_true",
        help="skip the structural funnel (keep every non-empty file)")
    cod.add_argument(
        "--archives", action="store_true",
        help="--input is an archive payload table (doc_id, payload): "
        "repository tarballs/zips fan out to member files first")
    cod.add_argument(
        "--strip-components", type=int, default=1,
        help="leading path components to drop in archive mode (the "
        "repo-name-sha/ prefix code hosts prepend)")
    cod.set_defaults(fn=_cmd_codedocs)

    pr_ = sub.add_parser(
        "profile",
        help="one-scan table profile + optional histogram/top-k/contract "
        "checks (exit 2 on any failed check)",
    )
    pr_.add_argument(
        "--input", default=None,
        help="parquet path to profile (required except with "
        "--state-dir --report)",
    )
    pr_.add_argument(
        "--report", action="store_true",
        help="with --state-dir: print the cumulative profile (plus "
        "quantiles and heavy-hitter bounds where tracked) from the "
        "committed state — zero data scans, no fold",
    )
    pr_.add_argument(
        "--columns", default=None, help="comma-separated columns (default: all)"
    )
    pr_.add_argument(
        "--approx-distinct",
        action="store_true",
        help="HyperLogLog distinct counts (the 100 TB mode: no Expand, "
        "mergeable partials) instead of exact COUNT(DISTINCT)",
    )
    pr_.add_argument(
        "--hist",
        default=None,
        type=_psi_spec,
        metavar="COL:LO:HI:BINS",
        help="also emit a fixed-grid histogram of this numeric column",
    )
    pr_.add_argument(
        "--topk", default=None, help="also emit top-k frequent values of this column"
    )
    pr_.add_argument("--k", type=int, default=10, help="k for --topk")
    pr_.add_argument(
        "--not-null", action="append", default=None, metavar="COL",
        help="contract: COL must be non-null (repeatable)",
    )
    pr_.add_argument(
        "--unique", action="append", default=None, metavar="COL",
        help="contract: COL must be unique (repeatable)",
    )
    pr_.add_argument(
        "--satisfies", action="append", default=None, metavar="EXPR",
        help="contract: SQL boolean over any columns must not be FALSE "
        "(repeatable; NULL evaluations skip)",
    )
    pr_.add_argument(
        "--state-dir", default=None, metavar="DIR",
        help="incremental mode: treat --input as ONE ingest batch — drift-"
        "check it against DIR's committed cumulative profile state, then "
        "fold it in exactly once (requires --batch-id; exit 2 on drift)",
    )
    pr_.add_argument(
        "--batch-id", default=None,
        help="idempotency key for --state-dir (a replayed batch id folds "
        "nothing)",
    )
    pr_.add_argument(
        "--gate-drift", action="store_true",
        help="with --state-dir: do NOT fold a batch that flags drift "
        "(circuit breaker — the state stays clean for the next batch)",
    )
    pr_.add_argument(
        "--track-topk", action="append", default=None, metavar="COL[:K]",
        help="state mode: also maintain per-batch heavy-hitter state for "
        "COL (track top K per batch, default 100; repeatable) — read "
        "back with --report",
    )
    pr_.add_argument(
        "--psi-threshold", type=float, default=0.2,
        help="state mode: PSI flag level for the --hist column's shape "
        "vs the committed histogram state",
    )
    pr_.add_argument("--null-rate-jump", type=float, default=0.05)
    pr_.add_argument(
        "--distinct-drop", type=float, default=0.0,
        help="cardinality-collapse threshold; defaults OFF in state mode "
        "(a small delta always has fewer distincts than the history)",
    )
    pr_.add_argument("--mean-shift", type=float, default=0.25)
    pr_.set_defaults(fn=_cmd_profile)

    evp = sub.add_parser(
        "events",
        help="behavioral analytics over an event table: funnel "
        "conversion for --steps, optional cohort retention matrix",
    )
    evp.add_argument("--input", default=None, help="events parquet path")
    evp.add_argument(
        "--steps", required=True,
        help="comma-separated ordered event types (e.g. signup,click,buy)",
    )
    evp.add_argument("--user-col", default="user_id")
    evp.add_argument("--type-col", default="event_type")
    evp.add_argument("--ts-col", default="ts")
    evp.add_argument(
        "--within-sec", type=int, default=None,
        help="bound the whole journey to this many seconds from step 1",
    )
    evp.add_argument(
        "--retention", action="store_true",
        help="also emit the cohort retention matrix",
    )
    evp.add_argument("--max-offset-days", type=int, default=None)
    evp.add_argument(
        "--state-dir", default=None,
        help="incremental mode: fold --input into the committed funnel "
        "state (exactly-once by --batch-id) and report off the state",
    )
    evp.add_argument("--batch-id", default=None)
    evp.add_argument(
        "--report", action="store_true",
        help="with --state-dir and no --input: pure state readout",
    )
    evp.set_defaults(fn=_cmd_events)

    ivf = sub.add_parser(
        "ivf",
        help="IVF index maintenance: cell-size report (exit 2 on "
        "out-of-band cells), O(delta) append, rebalance, batch GC, init",
    )
    ivf.add_argument("--base", required=True, help="versioned index root")
    ivf.add_argument("--init", action="store_true")
    ivf.add_argument("--append", action="store_true")
    ivf.add_argument("--rebalance", action="store_true")
    ivf.add_argument("--gc", action="store_true")
    ivf.add_argument("--input", default=None,
                     help="corpus (--init) or batch (--append) parquet")
    ivf.add_argument("--k", type=int, default=None, help="cells for --init")
    ivf.add_argument("--target-cell-size", type=int, default=None)
    ivf.add_argument("--n-iter", type=int, default=3)
    ivf.add_argument("--band", default=None,
                     help="report band as LO:HI of target (default 0.5:2.0)")
    ivf.add_argument("--id-col", default="vec_id")
    ivf.add_argument("--vec-col", default="embedding")
    ivf.set_defaults(fn=_cmd_ivf)

    sh = sub.add_parser(
        "shards",
        help="certify a training-shard sink: per-shard contiguity + "
        "balance (exit 2 on any broken shard)",
    )
    sh.add_argument(
        "--input", required=True, help="write_training_shards output path"
    )
    sh.set_defaults(fn=_cmd_shards)

    dr = sub.add_parser(
        "drift",
        help="profile-drift report between two committed sink versions "
        "(exit 2 when drift is flagged)",
    )
    dr.add_argument("--sink", required=True, help="versioned sink base path")
    dr.add_argument(
        "--columns", default=None, help="comma-separated columns (default: all)"
    )
    dr.add_argument(
        "--versions",
        default=None,
        type=_version_pair,
        help="explicit PREV:CUR committed version pair (default: "
        "predecessor vs current)",
    )
    dr.add_argument("--null-rate-jump", type=float, default=0.05)
    dr.add_argument("--distinct-drop", type=float, default=0.5)
    dr.add_argument("--mean-shift", type=float, default=0.25)
    dr.add_argument(
        "--psi",
        default=None,
        type=_psi_spec,
        metavar="COL:LO:HI:BINS",
        help="also compute the Population Stability Index of this numeric "
        "column over a fixed histogram grid (distribution drift the "
        "moment checks can't see)",
    )
    dr.add_argument("--psi-threshold", type=float, default=0.2)
    dr.set_defaults(fn=_cmd_drift)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
