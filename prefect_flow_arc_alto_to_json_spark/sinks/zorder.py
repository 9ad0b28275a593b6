"""Z-order (Morton-curve) multi-dimensional layout — the at-rest file
layout that makes MULTI-column range predicates prunable.

Partitioning/bucketing (``partitionBy``, sinks/bucketed.py) cluster
on ONE key; a filter on a second dimension still touches every file. The
space-filling curve fixes that: bucket each dimension to ``bits`` bits,
interleave the bits into one Morton code, range-partition + sort the data
by that code, and write. Rows close in ALL dimensions land in the same
few files, so parquet footer min/max stats (and any file-level skipping
index) prune a k-dimensional box filter to a near-minimal file set.

The interleave is generated as ONE arithmetic SQL expression (shifts and
masks — no UDF), and the exact same generated text runs in DuckDB, which
is how ``q_zorder_index`` carries a full value-hash oracle for the code
computation itself; the file-skipping effect is asserted by
tests/test_layout_pruning.py (z-layout touches a small fraction of files
for a 2-D box, single-column layout touches ~all of them).

Scale: the write is one repartitionByRange shuffle (sampling the z-code
for balanced output files) + a local sort — the standard one-time layout
cost amortized over every subsequent pruned scan, exactly like the
bucketed layout. OPTIMIZE ... ZORDER BY in lakehouse table formats is
this same computation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_sql(bucket_cols: list[str], bits: int = 8) -> str:
    """One arithmetic SQL expression interleaving ``bits`` bits of each
    (already bucketed, in [0, 2^bits)) column into a Morton code —
    engine-portable text: bit k of column j lands at output bit
    ``k * n_cols + j``."""
    n = len(bucket_cols)
    terms = [
        f"((({c} >> {k}) & 1) * {1 << (k * n + j)})"
        for j, c in enumerate(bucket_cols)
        for k in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def bucketize(col: Column, lo: Column, hi: Column, bits: int = 8) -> Column:
    """Scale a value with known [lo, hi] bounds onto [0, 2^bits) integer
    buckets — pure integer/long arithmetic after one exact subtraction, so
    the result replays in any engine. hi must be >= lo; values outside the
    bounds clamp."""
    n_buckets = 1 << bits
    span = (hi - lo + 1).cast("long")
    # integer floor division (non-negative operands), NOT float-divide-
    # then-cast: DuckDB CAST(double AS BIGINT) rounds while Spark's
    # truncates — the SQL twin is `((col - lo) * N) // span`
    b = F.call_function("div", (col - lo).cast("long") * n_buckets, span)
    return F.greatest(F.lit(0), F.least(F.lit(n_buckets - 1), b))


def write_zordered(
    df: DataFrame,
    path: str,
    z_col: str = "__z",
    n_files: int = 16,
) -> None:
    """Range-partition on the precomputed Morton code and write ``n_files``
    z-locality-clustered parquet files (footer stats per file then prune
    multi-dim box filters). The code column itself is persisted too — it
    doubles as a cheap coarse filter (``z BETWEEN ...`` for a query box's
    curve ranges)."""
    (
        df.repartitionByRange(n_files, F.col(z_col))
        .sortWithinPartitions(z_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def hilbert_rounds(bits: int = 4) -> list[dict[str, str]]:
    """Per-round (d, x, y) SQL expression strings for the Hilbert xy→d
    transform on a 2^bits x 2^bits grid — the SAME text drives Spark
    (a selectExpr chain) and the DuckDB oracle (nested subqueries), the
    morton_sql engine-portability device extended to a STAGED expression
    (Hilbert's rotate/reflect is a loop-carried rewrite of (x, y); fully
    inlining 4 rounds would blow the text up 3^4x, so each round is one
    projection instead).

    Why Hilbert next to Z-order: both linearize the grid for min/max
    file skipping, but Z's bit-interleave takes long diagonal jumps, so
    a box query's cells scatter into many curve RUNS (= files touched);
    Hilbert moves to an adjacent cell every step and provably visits any
    aligned box in few runs. q_hilbert_vs_zorder measures exactly that.

    Algorithm (standard xy2d): per round s = 2^(bits-1-t): quadrant
    digit (3*rx XOR ry) scales by s², then the lower bits rotate/reflect
    into the quadrant's frame. The XOR folds to arithmetic
    (3*rx + ry - 2*rx*ry on {0,1} flags); x/y are pre-masked to [0, s)
    so every intermediate stays in range (no negative & semantics to
    worry about cross-engine).
    """
    rounds = []
    for t in range(bits):
        s = 1 << (bits - 1 - t)
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        m = s - 1
        rounds.append(
            {
                "d": f"(d + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry}))",
                "x": (
                    f"(CASE WHEN {ry} = 1 THEN (x & {m}) "
                    f"WHEN {rx} = 1 THEN {m} - (y & {m}) "
                    f"ELSE (y & {m}) END)"
                ),
                "y": (
                    f"(CASE WHEN {ry} = 1 THEN (y & {m}) "
                    f"WHEN {rx} = 1 THEN {m} - (x & {m}) "
                    f"ELSE (x & {m}) END)"
                ),
            }
        )
    return rounds


def hilbert_index(df: DataFrame, x_col: str, y_col: str, bits: int = 4) -> DataFrame:
    """Append ``hilbert`` to ``df`` from integer grid coords in
    [0, 2^bits) — the staged selectExpr chain over
    :func:`hilbert_rounds` (narrow projections, no shuffle)."""
    out = df.selectExpr("*", f"CAST({x_col} AS BIGINT) AS x",
                        f"CAST({y_col} AS BIGINT) AS y", "CAST(0 AS BIGINT) AS d")
    for r in hilbert_rounds(bits):
        out = out.selectExpr(
            *[c for c in df.columns],
            f"{r['d']} AS d",
            f"{r['x']} AS x",
            f"{r['y']} AS y",
        )
    return out.select(*df.columns, F.col("d").alias("hilbert"))


def hilbert_sql_nested(inner: str, bits: int = 4) -> str:
    """DuckDB twin of :func:`hilbert_index`: wrap ``inner`` (a subquery
    providing x, y and the carried columns) in one nested SELECT per
    round — the identical per-round expression text."""
    sql = f"(SELECT *, CAST(0 AS BIGINT) AS d FROM {inner})"
    for r in hilbert_rounds(bits):
        sql = (
            f"(SELECT * EXCLUDE (d, x, y), {r['d']} AS d, {r['x']} AS x, "
            f"{r['y']} AS y FROM {sql})"
        )
    return f"(SELECT * EXCLUDE (d, x, y), d AS hilbert FROM {sql})"
