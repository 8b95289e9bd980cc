"""Physical-plan audit: one summary row per registered query → PLANS.md.

Complements tests/test_scale_plans.py (which pins specific shapes): this
reports EVERY query's plan vitals so a reviewer can scan for scale smells —
exchange counts, join strategies, nested-loop joins, scan pushdowns —
without running .explain() by hand 50 times.

Usage: python tools/plan_report.py [sf_dir]   (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youtube_api_data_etl_automation_spark.plans import QUERIES
from youtube_api_data_etl_automation_spark.session import get_spark

# Streaming queries build their own bounded runs; executedPlan on the
# returned batch-shaped DataFrame is still meaningful for the batch ones.

# Queries whose nested-loop join is the INTENDED plan: a broadcast of a
# tiny fixed-size relation scored against every corpus row (the corpus side
# never shuffles; compute is O(N·k) by definition of the operator). These
# are not scale smells — the scale smell is a nested loop between two
# DATA-sized relations, which test_scale_plans pins to zero.
SANCTIONED_BNLJ = {
    "ann_topk_methods": "exact section: query batch broadcast vs corpus",
    "ivf_ann_topk": "centroid assignment: k centroids broadcast vs vectors",
    "kmeans_embeddings": "Lloyd assignment: k centroids broadcast vs vectors",
    "semantic_neardup": "cluster assignment: 8 centroids broadcast vs vectors",
    "profile_drift_report": (
        "semantic section: 8 fixture centroids broadcast vs both "
        "occupancy sides (clustering.embedding_drift)"
    ),
    "mixing_temperature": "rate table: 1-row total-weight broadcast vs source counts",
    "sampling_audits": (
        "diversity section: 8 fixture centroids broadcast vs vectors "
        "(operators/diversity.py assignment — the kmeans pattern)"
    ),
    "term_stats_tfidf_pmi": (
        "vocab section: 1-row corpus-total broadcast, plus the rank<=V "
        "theta join of the <=max(V)-row type table against the 4-row "
        "vocab-size relation (operators/vocab.py — bounded rows by "
        "construction, never data)"
    ),
    "url_compliance_docs": (
        "PSL rule map: 1-row suffix->bitmask map broadcast vs corpus "
        "(functions/urls.py registrable_domain_psl; r13: the section "
        "moved here off "
        "lang_cap_docs). The folded ivf recall section's sanctioned "
        "k-centroid broadcasts live under ivf_ann_topk"
    ),
}


_PREFIX = re.compile(r"^[\s:+|-]*")


def dedup_plan_text(plan: str) -> str:
    """Reduce the printed plan to its EXECUTABLE topology before counting:

    - a persisted relation's lineage is printed again under every
      InMemoryTableScan consumer (with fresh expr ids per branch), but the
      exchanges in it run exactly once, at materialization — keep the
      first print of each cached plan (keyed by its expr-id-normalized
      header) and drop repeats;
    - an already-executed AdaptiveSparkPlan prints BOTH '== Final Plan =='
      and '== Initial Plan ==' — the initial plan never runs; drop it.

    Without this, a query like lang_quality_docs (1 cached projection,
    3 consumers) reports 10 round-robin exchanges for a plan that
    executes one (VERDICT r4 item 6)."""
    out: list[str] = []
    seen_caches: set[str] = set()
    skip_from: int | None = None
    for line in plan.split("\n"):
        depth = _PREFIX.match(line).end()
        if skip_from is not None:
            # block children print at depth >= the block header (bare
            # lines like 'ResultQueryStage 1' sit at EQUAL depth); both
            # skipped blocks are the last sibling in their subtree, so
            # the first shallower line ends the block.
            if depth >= skip_from and line.strip():
                continue
            skip_from = None
        if "== Initial Plan ==" in line:
            skip_from = depth
            continue
        if "InMemoryRelation" in line:
            # identity = expr-id-normalized content AFTER the tree prefix
            key = re.sub(r"#\d+", "#", line[depth:])
            if key in seen_caches:
                skip_from = depth + 1  # keep nothing of the repeat
                continue
            seen_caches.add(key)
        out.append(line)
    return "\n".join(out)


def vitals(plan: str) -> dict[str, object]:
    plan = dedup_plan_text(plan)
    return {
        "hash_ex": len(re.findall(r"Exchange hashpartitioning", plan)),
        "rr_ex": len(re.findall(r"Exchange RoundRobinPartitioning", plan)),
        "range_ex": len(re.findall(r"Exchange rangepartitioning", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        # Any non-empty pushed-filter list counts (not just ones that happen
        # to start with IsNotNull/GreaterThan).
        "pushed": re.search(r"PushedFilters: \[(?!\])", plan) is not None,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-report")
    rows = []
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            v = vitals(plan)
            rows.append((name, v, None))
        except Exception as exc:  # report, don't die — audit must be total
            rows.append((name, None, f"{type(exc).__name__}: {exc}"[:100]))
    out = [
        "# PLANS — physical-plan vitals for every registered query",
        "",
        f"Generated by `python tools/plan_report.py {sf_dir}`. Columns:",
        "hash/rr/range exchanges, broadcast-hash / sort-merge /",
        "broadcast-nested-loop / cartesian joins, parquet filter pushdown",
        "present (codegen spans aren't visible pre-execution under AQE).",
        "Counts are EXECUTABLE topology: a persisted relation's lineage",
        "(re-printed under every consumer) is counted once — it runs once,",
        "at materialization — and AQE '== Initial Plan ==' sections (never",
        "executed) are excluded. Scale smells to scan for: any",
        "`bnlj`/`cart` > 0, unexpectedly high `hash_ex`, `pushdown` false on",
        "a filtered scan.",
        "",
        "| query | hash_ex | rr_ex | range_ex | bhj | smj | bnlj | cart | pushdown |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, v, err in rows:
        if err:
            out.append(f"| {name} | — | — | — | — | — | — | — | ERR: {err} |")
        else:
            out.append(
                f"| {name} | {v['hash_ex']} | {v['rr_ex']} | {v['range_ex']} "
                f"| {v['bhj']} | {v['smj']} | {v['bnlj']} | {v['cartesian']} "
                f"| {'yes' if v['pushed'] else '—'} |"
            )
    flagged = [
        name
        for name, v, err in rows
        if v and (v["bnlj"] or v["cartesian"]) and name not in SANCTIONED_BNLJ
    ]
    sanctioned = [
        f"{name} ({why})"
        for name, why in SANCTIONED_BNLJ.items()
        if any(n == name and v and (v["bnlj"] or v["cartesian"]) for n, v, _ in rows)
    ]
    out += [
        "",
        "Sanctioned broadcast-tiny-side nested loops (intended plans — a "
        "fixed-size broadcast scored against the corpus; the corpus never "
        "shuffles): " + ("none" if not sanctioned else "; ".join(sanctioned)) + ".",
        "",
        "UNSANCTIONED nested-loop/cartesian joins: "
        + ("NONE" if not flagged else ", ".join(flagged))
        + ".",
        "",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(
        f"wrote PLANS.md ({len(rows)} queries; unsanctioned nested-loop: "
        f"{flagged or 'none'})"
    )


if __name__ == "__main__":
    main()
