"""Axiom gates for the round-11 extra-tier families (edit-distance join,
nDCG ranking eval, IPW/stratified ATE). Engine parity is adjudicated by
the DuckDB oracles in tests/test_extra_queries.py; these pin the
SEMANTICS against independent replays and invariants the oracle form
cannot express (rearrangement inequality, brute pair-set equality,
weighted-rollup consistency)."""

from __future__ import annotations

from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES


def _brute_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_join_equals_brute(spark, sf_dir):
    """The banded/threshold-pruned plan emits EXACTLY the brute-force
    pair set over distinct names (pruning is an optimization, never a
    semantic), with correct distances and multiplicities."""
    import itertools

    import pandas as pd

    rows = {**QUERIES, **EXTRA_QUERIES}["dedup_edit_distance_join"](spark, sf_dir).collect()
    got = {(r["name_a"], r["name_b"]): (r["dist"], r["n_row_pairs"]) for r in rows}
    names = (
        pd.read_parquet(f"{sf_dir}/part.parquet")["p_name"]
        .value_counts()
        .to_dict()
    )
    want = {}
    for a, b in itertools.combinations(sorted(names), 2):
        d = _brute_lev(a, b)
        if d <= 3:
            want[(a, b)] = (d, names[a] * names[b])
    assert got == want
    assert all(1 <= d <= 3 for d, _ in got.values())


def test_ndcg_rearrangement_inequality(spark, sf_dir):
    """DCG under the model ranking can never exceed DCG under the ideal
    (relevance-sorted) ranking — the rearrangement inequality; and
    ndcg_ppm is in [0, 1e6]."""
    rows = EXTRA_QUERIES["q_ndcg_ranking"](spark, sf_dir).collect()
    assert rows, "no users evaluated"
    for r in rows:
        assert r["dcg_micro"] <= r["idcg_micro"]
        if r["ndcg_ppm"] is not None:
            assert 0 <= r["ndcg_ppm"] <= 1_000_000


def test_ipw_overall_is_weighted_stratum_average(spark, sf_dir):
    """The stratum = -1 row must equal the n-weighted half-up average of
    the per-stratum snapped effects over both-arm strata, and counts must
    be internally consistent (n = n_t + n_c, rollup sums the kept
    strata)."""
    rows = {**QUERIES, **EXTRA_QUERIES}["q_ipw_ate"](spark, sf_dir).collect()
    strata = [r for r in rows if r["stratum"] >= 0]
    overall = [r for r in rows if r["stratum"] == -1]
    assert len(overall) == 1
    o = overall[0]
    kept = [r for r in strata if r["effect_milli"] is not None]
    assert all(r["n"] == r["n_t"] + r["n_c"] for r in strata)
    if not kept:
        # tiny-SF degenerate case (every stratum single-armed): the
        # rollup row must be all-NULL in both engines, not fabricated
        assert o["effect_milli"] is None and o["n"] is None
        return
    assert o["n"] == sum(r["n"] for r in kept)
    num = sum(r["n"] * r["effect_milli"] for r in kept)
    den = sum(r["n"] for r in kept)
    assert o["effect_milli"] == (2 * num + den) // (2 * den)


def test_facility_location_submodularity(spark, sf_dir):
    """Greedy facility-location must exhibit diminishing returns: the
    picked marginal gains are non-increasing across rounds (submodularity
    of the coverage objective), strictly positive only while coverage
    still improves, and the 5 picks are distinct pool members."""
    rows = sorted(
        {**QUERIES, **EXTRA_QUERIES}["sim_facility_location"](spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == [1, 2, 3, 4, 5]
    gains = [r["marginal_gain"] for r in rows]
    assert all(a >= b for a, b in zip(gains, gains[1:])), gains
    picks = [r["vec_id"] for r in rows]
    assert len(set(picks)) == 5 and all(p < 32 for p in picks)
    assert gains[0] > 0


def test_rendezvous_minimal_disruption(spark, sf_dir):
    """HRW's minimal-disruption theorem on real data: every key that
    moves when the cluster grows 8 -> 9 moves TO the new node (adding a
    node cannot reorder the existing nodes' weights), and the moved
    fraction sits near 1/9 while modulo sits near 8/9."""
    rows = {
        r["strategy"]: r
        for r in EXTRA_QUERIES["q_rendezvous_resharding"](spark, sf_dir).collect()
    }
    hrw, mod = rows["rendezvous"], rows["modulo"]
    assert hrw["n_moved"] == hrw["n_moved_to_new"]  # the theorem
    assert hrw["n_docs"] == mod["n_docs"]
    # 1/9 = 111_111 ppm; 8/9 = 888_889 ppm — allow sampling slack
    assert 60_000 <= hrw["moved_ppm"] <= 170_000, hrw["moved_ppm"]
    assert 830_000 <= mod["moved_ppm"] <= 940_000, mod["moved_ppm"]
    assert mod["n_moved"] > 5 * hrw["n_moved"]


def test_sprt_matches_walk_replay(spark, sf_dir):
    """q_sprt_sequential equals a pure-Python replay of the integer LLR
    walk (same snapped increments), and the Wald stopping rule holds:
    |llr| >= A exactly at the decision index and < A strictly before."""
    import pandas as pd

    from prefect_flow_arc_alto_to_json_spark.plans.clean_queries import (
        _SPRT_A,
        _SPRT_F,
        _SPRT_S,
    )

    rows = {
        r["experiment"]: r
        for r in EXTRA_QUERIES["q_sprt_sequential"](spark, sf_dir).collect()
    }
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["event_type", "ts", "event_id", "value"]
    ].sort_values(["event_type", "ts", "event_id"])
    for t, grp in ev.groupby("event_type"):
        incs = [(_SPRT_S if v >= 10 else _SPRT_F) for v in grp["value"]]
        llr, n_dec, llr_dec = 0, None, None
        for i, inc in enumerate(incs, 1):
            llr += inc
            if n_dec is None and abs(llr) >= _SPRT_A:
                n_dec, llr_dec = i, llr
        r = rows[t]
        assert r["n_total"] == len(incs)
        assert r["n_at_decision"] == n_dec
        if n_dec is None:
            assert r["decision"] == "continue" and r["llr_micro"] == llr
        else:
            assert r["llr_micro"] == llr_dec
            assert r["decision"] == (
                "accept_h1" if llr_dec >= _SPRT_A else "accept_h0"
            )


def test_heaps_law_sublinear_and_monotone(spark, sf_dir):
    """Heaps fit invariants: vocabulary is monotone non-decreasing in
    the prefix, the OLS slope is strictly sub-linear (0 < beta < 1),
    and the fit matches a pure-Python OLS over the emitted (x, y)."""
    rows = sorted(
        EXTRA_QUERIES["text_heaps_law"](spark, sf_dir).collect(),
        key=lambda r: r["k"],
    )
    vocabs = [r["vocab"] for r in rows]
    assert all(a <= b for a, b in zip(vocabs, vocabs[1:]))
    r0 = rows[0]
    assert 0 < r0["beta_num"] / r0["beta_den"] < 1
    m = len(rows)
    sx = sum(r["x_micro"] for r in rows)
    sy = sum(r["y_micro"] for r in rows)
    sxy = sum(r["x_micro"] * r["y_micro"] for r in rows)
    sxx = sum(r["x_micro"] ** 2 for r in rows)
    assert r0["beta_num"] == m * sxy - sx * sy
    assert r0["beta_den"] == m * sxx - sx * sx


def test_set_cover_matches_greedy_replay(spark, sf_dir):
    """q_set_cover_greedy equals a pure-Python greedy replay over the
    same per-doc shingle sets, with non-increasing marginal gains
    (submodularity) and a consistent cumulative-coverage column."""
    from prefect_flow_arc_alto_to_json_spark.plans.corpus_queries import (
        _SET_COVER_K,
    )
    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    rows = sorted(
        EXTRA_QUERIES["q_set_cover_greedy"](spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    gains = [r["gain"] for r in rows]
    assert all(a >= b for a, b in zip(gains, gains[1:]))
    cum = 0
    for r in rows:
        cum += r["gain"]
        assert r["covered"] == cum

    from prefect_flow_arc_alto_to_json_spark.operators.dedup import shingles
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", shingles("text").alias("sh")
    )
    sets = {r["doc_id"]: set(r["sh"]) for r in docs.collect()}
    covered: set = set()
    want = []
    for k in range(1, _SET_COVER_K + 1):
        best = min(
            sets,
            key=lambda d: (-len(sets[d] - covered), d),
        )
        g = len(sets[best] - covered)
        covered |= sets[best]
        want.append((k, best, g, len(covered)))
    assert [tuple(r) for r in rows] == want


def test_quantile_normalize_aligns_sources(spark, sf_dir):
    """The defining property: equal-size sources receive EXACTLY the
    same normalized multiset; within a source the mapping is monotone
    (higher src_rank -> qn_value never decreases); target ranks stay in
    [1, N]."""
    from collections import Counter

    rows = EXTRA_QUERIES["q_quantile_normalize"](spark, sf_dir).collect()
    n_total = len(rows)
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
        assert 1 <= r["target_rank"] <= n_total
    sizes = {s: len(v) for s, v in by_src.items()}
    multisets = {
        s: Counter(r["qn_value"] for r in v) for s, v in by_src.items()
    }
    ref_by_size: dict = {}
    for s, n in sizes.items():
        if n in ref_by_size:
            assert multisets[s] == multisets[ref_by_size[n]], (
                s,
                ref_by_size[n],
            )
        else:
            ref_by_size[n] = s
    for v in by_src.values():
        v.sort(key=lambda r: r["src_rank"])
        qs = [r["qn_value"] for r in v]
        assert all(a <= b for a, b in zip(qs, qs[1:]))


def test_fairness_audit_consistency(spark, sf_dir):
    """Per-group counts must roll up exactly to the ALL row; every rate
    is the half-up ppm of its own counts; rates live in [0, 1e6]."""
    rows = {r["grp"]: r for r in EXTRA_QUERIES["q_fairness_audit"](spark, sf_dir).collect()}
    alln = rows.pop("ALL")
    assert alln["n"] == sum(r["n"] for r in rows.values())
    assert alln["n_label"] == sum(r["n_label"] for r in rows.values())
    assert alln["n_pred"] == sum(r["n_pred"] for r in rows.values())
    for r in list(rows.values()) + [alln]:
        assert r["pred_rate_ppm"] == (2 * r["n_pred"] * 1_000_000 + r["n"]) // (2 * r["n"])
        for c in ("pred_rate_ppm", "tpr_ppm", "fpr_ppm"):
            if r[c] is not None:
                assert 0 <= r[c] <= 1_000_000
        if r["n_label"] == 0:
            assert r["tpr_ppm"] is None
        if r["n"] - r["n_label"] == 0:
            assert r["fpr_ppm"] is None


def test_soundex_blocking_matches_python_replay(spark, sf_dir):
    """The phonetic key and block pairs equal an independent pure-Python
    replay of the documented simplified-soundex rule."""
    import re as _re

    import pandas as pd

    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES
    from prefect_flow_arc_alto_to_json_spark.plans.dedup_queries import (
        _PHONETIC_CODES,
    )

    def pkey(name: str) -> str:
        w = _re.sub(r"[^a-z]", "", name.lower())
        d = "".join(_PHONETIC_CODES[ord(c) - 97] for c in w)
        d = _re.sub(r"(\d)\1+", r"\1", d)
        tail = d[1:] if _PHONETIC_CODES[ord(w[0]) - 97] != "0" else d
        return w[0].upper() + (tail.replace("0", "") + "000")[:3]

    names = sorted(
        set(
            pd.read_parquet(f"{sf_dir}/part.parquet")["p_name"].tolist()
        )
    )
    want = set()
    by_key: dict = {}
    for nm in names:
        by_key.setdefault(pkey(nm), []).append(nm)
    for k, blk in by_key.items():
        for i in range(len(blk)):
            for j in range(i + 1, len(blk)):
                want.add((k, blk[i], blk[j]))
    got = {
        (r["pkey"], r["name_a"], r["name_b"])
        for r in EXTRA_QUERIES["q_soundex_blocking"](spark, sf_dir).collect()
    }
    assert got == want
    assert got, "no phonetic blocks — vacuous fixture"


def test_ams_f2_merge_property(spark, sf_dir):
    """AMS dots are MERGEABLE: the dot over the full corpus equals the
    sum of dots over any disjoint split (here: by doc_id parity) — the
    property that makes the sketch shuffle-free at scale. Also: the
    median estimator is one of the five, and est = dot^2."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.functions.scalar import (
        stable_hash_p31,
        token_array,
    )
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES
    from prefect_flow_arc_alto_to_json_spark.plans.skew_queries import (
        _AMS_SALT,
    )
    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    rows = EXTRA_QUERIES["q_ams_f2_moment"](spark, sf_dir).collect()
    assert len(rows) == 5
    ests = sorted(r["est"] for r in rows)
    assert all(r["est"] == r["dot"] * r["dot"] for r in rows)
    assert rows[0]["median_est"] == ests[2]
    # mergeability for estimator j=1: split the corpus by doc parity and
    # recompute signed dots per half; token counts add, so dots add
    docs = load_table(spark, sf_dir, "documents")
    halves = []
    for par in (0, 1):
        cnt = (
            docs.where(F.col("doc_id") % 2 == par)
            .select(F.explode(token_array("text")).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        sign = F.when(
            stable_hash_p31(
                F.concat(F.lit(_AMS_SALT), F.lit("1"), F.lit(":"), F.col("tok"))
            )
            % 2
            == 0,
            F.col("c"),
        ).otherwise(-F.col("c"))
        halves.append(cnt.agg(F.sum(sign)).collect()[0][0])
    full = next(r["dot"] for r in rows if r["j"] == 1)
    assert halves[0] + halves[1] == full
