"""Iterative graph algorithms as DataFrame loops — weighted PageRank.

Companion to the min-label-propagation connected components in
operators/dedup.py: components answers "which near-dups belong together",
PageRank answers "which nodes matter" — the centrality/link-analysis
primitive (source authority weighting, citation ranking, dedup-cluster
representative choice by importance instead of min-id).

Determinism contract (what makes an ITERATIVE float algorithm
hash-checkable cross-engine): ranks live as integer NANO-units; each
edge's contribution is snapped to a long BEFORE the per-node sum
(``round(rank * d * w / out_w)`` — one identical left-to-right double
expression), so no floating-point summation order ever matters and an
N-iteration unrolled SQL replay is bit-exact. The same device as the
micro-unit snapping in textstats.unigram_logprob, applied per iteration.

Scale: each iteration is one join (ranks x edges, shuffled on src — or
exchange-free if edges are bucketed by src) + one groupBy(dst) partial
agg; ``localCheckpoint`` truncates lineage per iteration exactly like
dedup.connected_components, so the plan doesn't grow with iteration
count. Dangling mass (nodes with no out-edges) is dropped, the standard
simplification — the oracle replays the same rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scale import loop_ckpt_lazy, loop_rounds

NANO = 1_000_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank over ``edges`` (src, dst, w — w a positive long).

    Returns (node, rank_nano): integer nano-unit ranks after
    ``iterations`` synchronous updates of
    ``r'(v) = (1-d)/N + d * Σ_{u→v} r(u) * w_uv / out_w(u)``.

    Fixed iteration count (not convergence-tested) keeps the operator a
    deterministic, replayable relation; callers wanting convergence loop
    externally on the returned relation's delta.
    """
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    # materialize the edge/out-weight relation and the node set ONCE:
    # they feed every iteration's eager localCheckpoint job, and without
    # truncation each iteration re-executes the caller's whole edge
    # derivation (a fact join or a corpus tokenisation) several times
    e = (
        edges.join(out_w, "src")
        .select("src", "dst", "w", "out_w")
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()  # one small driver scalar, like components' flag
    if n == 0:
        # empty graph: an empty (node, rank_nano) relation, not a
        # ZeroDivisionError on the driver
        return nodes.withColumn("rank_nano", F.lit(0).cast("long"))
    # half-AWAY rounding (int(x+0.5), positive x), matching SQL ROUND —
    # Python's round() is half-even and would silently diverge
    base = int((1.0 - damping) * NANO / n + 0.5)
    ranks = nodes.withColumn(
        "rank_nano", F.lit(int(NANO / n + 0.5)).cast("long")
    )
    for _ in range(loop_rounds(iterations)):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.col("rank_nano") * damping * F.col("w") / F.col("out_w"),
                    0,
                )
                .cast("long")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_nano"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("in_nano"), F.lit(0)))
                .cast("long")
                .alias("rank_nano"),
            )
            .transform(loop_ckpt_lazy)
        )
    return ranks
