"""PageRank operator invariants (operators/graph.py) beyond the unrolled
SQL oracle of text_textrank_keywords: probability-mass conservation,
positivity, and re-run determinism (the localCheckpoint loop must not
introduce any run-to-run variation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prefect_flow_arc_alto_to_json_spark.operators.graph import NANO, pagerank


def _edges(spark):
    rows = [
        (0, 1, 3), (0, 2, 1), (1, 2, 2), (2, 0, 5), (2, 3, 1),
        (3, 0, 1), (3, 4, 4), (4, 3, 2),
    ]
    return spark.createDataFrame(rows, "src long, dst long, w long")

def test_pagerank_mass_and_determinism(spark):
    r1 = {r["node"]: r["rank_nano"] for r in pagerank(_edges(spark), 4).collect()}
    # every node ranked, all positive
    assert set(r1) == {0, 1, 2, 3, 4}
    assert all(v > 0 for v in r1.values())
    # total mass stays ~1.0: per-term nano snapping can drift at most
    # ~(edges + nodes) nano per iteration
    assert abs(sum(r1.values()) - NANO) < 1000
    # high in-weight nodes outrank leaves (0 receives w=5+1, 1 only w=3)
    assert r1[0] > r1[1]
    r2 = {r["node"]: r["rank_nano"] for r in pagerank(_edges(spark), 4).collect()}
    assert r1 == r2  # bit-identical re-run


def test_pagerank_dangling_mass_documented_drop(spark):
    """A sink node (no out-edges) absorbs rank it never redistributes —
    the documented simplification: total mass DECREASES by exactly the
    sink's damped contribution, never corrupts other ranks."""
    rows = [(0, 1, 1), (1, 2, 1)]  # 2 is a dangling sink
    e = spark.createDataFrame(rows, "src long, dst long, w long")
    r = {x["node"]: x["rank_nano"] for x in pagerank(e, 2).collect()}
    assert set(r) == {0, 1, 2}
    assert sum(r.values()) < NANO  # leaked mass, by design
    assert all(v > 0 for v in r.values())


def test_pagerank_matches_numpy_reference_fuzz(spark):
    """Spark PageRank vs an independent dense NumPy power iteration with
    the SAME nano-snapping recurrence, on random weighted digraphs — the
    distributed join/agg loop must agree exactly (the snapping makes the
    comparison integer equality, not approximate)."""
    import random

    import numpy as np

    from prefect_flow_arc_alto_to_json_spark.operators.graph import NANO, pagerank

    rng = random.Random(99)
    for trial in range(3):
        n = rng.randint(4, 9)
        edges = []
        for u in range(n):
            for v in range(n):
                if u != v and rng.random() < 0.5:
                    edges.append((u, v, rng.randint(1, 9)))
        if not edges:
            continue
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {r["node"]: r["rank_nano"] for r in pagerank(df, 3).collect()}

        nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
        idx = {v: i for i, v in enumerate(nodes)}
        out_w = {}
        for u, _, w in edges:
            out_w[u] = out_w.get(u, 0) + w
        nn = len(nodes)
        base = int(0.15 * NANO / nn + 0.5)
        r = np.full(nn, int(NANO / nn + 0.5), dtype=np.int64)
        for _ in range(3):
            nxt = np.full(nn, base, dtype=np.int64)
            for u, v, w in edges:
                c = float(r[idx[u]]) * 0.85 * w / out_w[u]
                nxt[idx[v]] += int(np.floor(c + 0.5))
            r = nxt
        want = {v: int(r[idx[v]]) for v in nodes}
        assert got == want, f"trial {trial} diverged: {got} vs {want}"
