"""Corpus-assembly queries (operators/corpus.py): stratified sampling,
epoch-weighted mixing, and concat-chunk sequence packing over the
``documents`` table — the sampling/layout stage of a training-data
pipeline, each with a full row-level DuckDB oracle (the hash draws and
window sums are pure integer arithmetic both engines compute identically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scale import fan_out
from ..operators.corpus import (
    MICRO,
    chunk_pack,
    pack_bins,
    sql_frac_micro,
    stratified_sample,
    weighted_mix,
)
from ..sources import load_table
from .registry import query
from .text_queries import _SQL_TOKS

#: per-language keep fractions for the sample query (rebalancing an
#: en-heavy crawl); micro-exact values so both engines compare integers
_SAMPLE_FRACS = {"en": 0.25, "zh": 1.0, "es": 0.5, "de": 0.5, "fr": 0.75}

#: per-language epoch weights for the mix query (oversample scarce
#: languages, downsample the dominant one)
_MIX_WEIGHTS = {"en": 0.5, "zh": 2.5, "es": 1.0, "de": 2.0, "fr": 1.25}

_PACK_BUDGET = 2048


def _sql_case(col: str, mapping: dict[str, float], default: float) -> str:
    arms = " ".join(
        f"WHEN '{k}' THEN {int(round(v * MICRO))}" for k, v in mapping.items()
    )
    return f"CASE {col} {arms} ELSE {int(round(default * MICRO))} END"


@query(
    "text_stratified_sample",
    extra=True,
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {sql_frac_micro("sample-v1", "doc_id")}
          < {_sql_case("lang", _SAMPLE_FRACS, 0.0)}
    """,
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language down-sampling (operators/corpus.py:
    stratified_sample) — the row SET is hash-derived, so the oracle
    checks exact membership, not just counts. No shuffle: a narrow
    predicate in the scan stage."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", _SAMPLE_FRACS).select("doc_id", "lang")


@query(
    "text_weighted_mix",
    extra=True,
    oracle=f"""
    SELECT doc_id, lang,
           CAST(unnest(range(repeats)) AS INTEGER) AS copy_idx
    FROM (
      SELECT doc_id, lang,
             ({_sql_case("lang", _MIX_WEIGHTS, 1.0)} // {MICRO})
             + CASE WHEN {sql_frac_micro("mix-v1", "doc_id")}
                         < ({_sql_case("lang", _MIX_WEIGHTS, 1.0)} % {MICRO})
                    THEN 1 ELSE 0 END AS repeats
      FROM documents
    )
    WHERE repeats > 0
    """,
)
def text_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted corpus mixing (operators/corpus.py:weighted_mix):
    integer repeats + deterministic fractional remainder, one output row
    per copy. The oracle regenerates every copy row via ``range(repeats)``
    — row-level verification of the whole mix."""
    docs = load_table(spark, sf_dir, "documents")
    out = weighted_mix(docs, "lang", _MIX_WEIGHTS)
    return out.select("doc_id", "lang", F.col("copy_idx").cast("int").alias("copy_idx"))


@query(
    "text_pack_chunks",
    extra=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      -- DuckDB SUM(BIGINT) is HUGEINT; cast back per the registry rule so
      -- start_off/pack_id/pack_spans stay BIGINT like the Spark side.
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS BIGINT) AS start_off
      FROM toks
    )
    SELECT doc_id, source, n_tokens, start_off,
           start_off // {_PACK_BUDGET} AS pack_id,
           GREATEST(start_off + n_tokens - 1, start_off) // {_PACK_BUDGET}
             - start_off // {_PACK_BUDGET} + 1 AS pack_spans
    FROM packed
    """,
)
def text_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (operators/corpus.py:
    chunk_pack), sharded by ``source`` so the window parallelizes across
    shards — per document: its token start offset in the shard stream,
    the {budget}-token window holding that offset, and how many windows
    it straddles. One shuffle (the shard window); the token count is the
    same whitespace tokenizer text_token_counts already oracles."""
    from ..operators.textstats import token_count

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    return chunk_pack(toks, _PACK_BUDGET, "n_tokens", "source")


_BIN_BUDGET = 1024

#: same-bin rule, shared verbatim between both CASE arms of the oracle's
#: recursive step: the next doc stays in the bin when it fits, or when the
#: bin is still empty (an oversized doc occupies its own bin, it is never
#: preceded by an empty one).
_SQL_BIN_FITS = (
    f"p.bin_off + p.n_tokens + t.n_tokens <= {_BIN_BUDGET}"
    " OR p.bin_off + p.n_tokens = 0"
)


@query(
    "text_pack_bins",
    extra=True,
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_id, CAST(0 AS BIGINT) AS bin_off
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.n_tokens, t.rn,
             CASE WHEN {_SQL_BIN_FITS}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN {_SQL_BIN_FITS}
                  THEN p.bin_off + p.n_tokens ELSE CAST(0 AS BIGINT) END
      FROM toks t JOIN packed p ON t.source = p.source AND t.rn = p.rn + 1
    )
    SELECT doc_id, source, n_tokens, bin_id, bin_off FROM packed
    """,
)
def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy no-straddle bin packing (operators/corpus.py:pack_bins),
    sharded by ``source``: every document's (bin_id, bin_off) under the
    walk-in-id-order greedy rule. The oracle replays the IDENTICAL
    sequential recurrence as a DuckDB recursive CTE (one iteration per
    document rank, all shards advancing in lockstep) — a row-level check
    of the whole packing, not just aggregate bin counts. Token counts come
    from the same whitespace tokenizer text_token_counts oracles."""
    from ..operators.textstats import token_count

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    return pack_bins(toks, _BIN_BUDGET, "n_tokens", "source")


@query(
    "text_group_sample",
    extra=True,
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, lang, n_chars,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5_number_lower('gsample-v1:' || CAST(doc_id AS VARCHAR))
                          % 2147483647 ASC,
                        doc_id ASC
             ) AS INTEGER) AS sample_rank
      FROM documents
    )
    SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars,
           sample_rank
    FROM ranked WHERE sample_rank <= 5
    """,
)
def text_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-per-source uniform sample
    (operators/corpus.py:group_sample) — the distributed replacement for a
    per-group reservoir: salted-hash rank inside each group, keep the 5
    smallest, doc_id tiebreak. Row-level oracle (the exact sampled ids,
    not just counts) because the hash ranking is replayed verbatim in SQL.

    Scale: WindowGroupLimit pre-cuts every partition to its local top-5
    before the single group-key Exchange — the shuffle carries
    O(groups * k * partitions) rows regardless of corpus size.
    """
    from ..operators.corpus import group_sample

    docs = load_table(spark, sf_dir, "documents")
    return group_sample(docs, "source", "doc_id", 5).select(
        "doc_id",
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("sample_rank").cast("int").alias("sample_rank"),
    )


@query(
    "corpus_shard_plan",
    extra=True,
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, n_chars, (rk - 1) % 8 AS shard_id FROM ranked
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY shard_id
    """,
)
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export sharding: assign every document to one of 8
    output shards by SIZE-RANKED round-robin (largest docs dealt out
    first, shard = rank mod 8) — the striped-LPT export plan whose
    imbalance is provably bounded by one document size per stripe,
    without the order-dependent state a greedy bin-filler needs. This
    is the file-level complement of text_pack_bins (batch-level): pack
    decides what goes in a training batch, the shard plan decides what
    goes in each output file of the exported dataset.

    Scale: the global size rank uses the dense-ids device
    (operators/ids.py:assign_dense_ids — repartitionByRange + per-range
    local ranks offset by broadcast range counts), so NO single-partition
    window exists anywhere in the plan; descending size order is encoded
    as ascending -n_chars. The oracle's plain ROW_NUMBER is equivalent by
    construction (total order via the doc_id tiebreak).
    """
    from ..operators.ids import assign_dense_ids

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .withColumn("neg_chars", -F.col("n_chars"))
    )
    ranked = assign_dense_ids(docs, ["neg_chars", "doc_id"], "rk0")
    assigned = ranked.select(
        "n_chars", (F.col("rk0") % 8).alias("shard_id")
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    ).select(
        F.col("shard_id").cast("long").alias("shard_id"),
        "n_docs",
        "total_chars",
    )


@query(
    "text_temperature_mix",
    extra=True,
    oracle=f"""
    WITH c AS (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY 1),
    m AS (SELECT MIN(n_total) AS n_min FROM c),
    r AS (
      SELECT source, n_total,
             CAST(ROUND(POW(n_min::DOUBLE / n_total, 0.5) * {MICRO}) AS BIGINT)
               AS rate_micro
      FROM c, m
    ),
    k AS (
      SELECT d.source, COUNT(*) AS n_kept
      FROM documents d JOIN r ON r.source = d.source
      WHERE {sql_frac_micro("temp-v1", "d.doc_id")} < r.rate_micro
      GROUP BY 1
    )
    SELECT r.source, r.n_total, COALESCE(k.n_kept, 0) AS n_kept,
           ROUND(rate_micro / {MICRO}.0, 6) AS rate
    FROM r LEFT JOIN k USING (source)
    """,
)
def text_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing (operators/corpus.py:
    temperature_sample, alpha=0.5): keep rates DERIVED from the corpus
    (share of kept mix proportional to sqrt(n_s), smallest source keeps
    all), deterministic hash draw, reported per source as
    (n_total, n_kept, rate). The oracle recomputes the rate derivation
    AND replays every per-doc draw, so both the aggregate recipe and the
    exact kept set are verified."""
    from ..operators.corpus import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_sample(docs, "source", alpha=0.5)
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    # rate re-derived from totals (mirrors the operator's formula) so a
    # source whose every draw failed still reports its nonzero rate
    nmin = totals.agg(F.min("n_total").alias("n_min"))
    rates = totals.crossJoin(F.broadcast(nmin)).select(
        "source",
        "n_total",
        F.round(
            F.pow(F.col("n_min").cast("double") / F.col("n_total"), F.lit(0.5))
            * MICRO,
            0,
        )
        .cast("long")
        .alias("rate_micro"),
    )
    kept_c = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        # both report sides are |sources|-rows; without the hint the
        # planner SMJs two post-agg relations (measured round 8)
        rates.join(F.broadcast(kept_c), "source", "left")
        .select(
            "source",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.round(F.col("rate_micro") / float(MICRO), 6).alias("rate"),
        )
    )


@query(
    "corpus_shuffle_order",
    extra=True,
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5_number_lower('shuf-v1:' || CAST(doc_id AS VARCHAR))
               % 2147483647 AS hv
      FROM documents
    ),
    p AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
      FROM h
    )
    SELECT doc_id, pos,
           CAST(pos % 8 AS INTEGER) AS shard,
           pos // 8 AS shard_pos
    FROM p
    """,
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle + round-robin epoch
    sharding: order = stable hash of a version-tagged doc id (reshuffle =
    bump the tag), global position WITHOUT a single-partition window
    (operators/ids.py:assign_dense_ids over the hash order), sample i ->
    shard i mod 8 at in-shard offset i div 8 — the striped assignment a
    W-worker data loader consumes directly. The oracle is the plain
    ROW_NUMBER-over-hash definition, pinning the distributed rank to the
    textbook semantics.

    Scale: one range exchange on the hash (uniform by construction — a
    hash order cannot skew), per-partition local ranking; complements
    corpus_shard_plan (size-balanced LPT) with the order-randomizing
    variant."""
    from ..functions.scalar import stable_hash_p31
    from ..operators.ids import assign_dense_ids

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = docs.withColumn(
        "hv",
        stable_hash_p31(
            F.concat(F.lit("shuf-v1:"), F.col("doc_id").cast("string"))
        ),
    )
    ranked = assign_dense_ids(h, ["hv", "doc_id"], "pos")
    return ranked.select(
        "doc_id",
        "pos",
        F.pmod("pos", F.lit(8)).cast("int").alias("shard"),
        F.expr("pos DIV 8").alias("shard_pos"),
    )


@query(
    "corpus_weighted_sample",
    extra=True,
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             GREATEST(LENGTH(text), 1) AS w,
             CAST(md5_number_lower('res-v1:' || CAST(doc_id AS VARCHAR))
                  % 4294967296 AS BIGINT) AS h
      FROM documents
    )
    SELECT doc_id, CAST(w AS BIGINT) AS w, h
    FROM keyed
    ORDER BY CAST(h AS DOUBLE) / w, doc_id
    LIMIT 50
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic document sample (operators/corpus.py:
    weighted_priority_sample): 50 winners of the uniform-over-weight
    race, longer documents proportionally likelier. The sampling shape
    every mixture builder needs upstream of temperature mixing; the
    docstring records why the race key is a single IEEE division rather
    than the ES -ln(u)/w (cross-engine ln is not bit-deterministic; a
    division is). Plans as TakeOrderedAndProject — per-partition local
    top-k, k rows per partition to the merge, no global sort.
    """
    from ..operators.corpus import weighted_priority_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_priority_sample(docs, F.length("text"), k=50)


def _hrw_oracle() -> str:
    def hashes(n_nodes, pfx):
        return ", ".join(
            f"md5_number_lower('hrw-v1:' || CAST(doc_id AS VARCHAR) || ':{n}')"
            f" % 2147483647 AS {pfx}{n}"
            for n in range(n_nodes)
        )

    def argmax(n_nodes, pfx):
        great = f"GREATEST({', '.join(f'{pfx}{n}' for n in range(n_nodes))})"
        cases = " ".join(
            f"WHEN {pfx}{n} = {great} THEN {n}" for n in range(n_nodes)
        )
        return f"CASE {cases} END"

    return f"""
    WITH h AS (
      SELECT doc_id, {hashes(9, 'h')} FROM documents
    ),
    assign AS (
      SELECT doc_id,
        {argmax(8, 'h')} AS hrw8,
        {argmax(9, 'h')} AS hrw9,
        md5_number_lower('hrw-v1:' || CAST(doc_id AS VARCHAR))
          % 2147483647 % 8 AS mod8,
        md5_number_lower('hrw-v1:' || CAST(doc_id AS VARCHAR))
          % 2147483647 % 9 AS mod9
      FROM h
    )
    SELECT 'rendezvous' AS strategy,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN hrw8 <> hrw9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
      CAST(SUM(CASE WHEN hrw8 <> hrw9 AND hrw9 = 8 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_moved_to_new,
      CAST((2 * SUM(CASE WHEN hrw8 <> hrw9 THEN 1 ELSE 0 END) * 1000000
            + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS moved_ppm
    FROM assign
    UNION ALL
    SELECT 'modulo' AS strategy,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
      CAST(SUM(CASE WHEN mod8 <> mod9 AND mod9 = 8 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_moved_to_new,
      CAST((2 * SUM(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) * 1000000
            + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS moved_ppm
    FROM assign
    """


@query("q_rendezvous_resharding", extra=True, oracle=_hrw_oracle())
def q_rendezvous_resharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-PLACEMENT STABILITY under cluster resize — rendezvous (HRW,
    highest-random-weight) sharding vs modulo sharding when the shard
    count grows 8 -> 9. The 100 TB operational question this answers:
    how much data MOVES on reshard. Modulo reassigns ~(N)/(N+1) of all
    keys; rendezvous provably moves ONLY the keys whose new argmax is
    the new node (~1/(N+1)), because adding a node cannot change the
    relative order of the existing nodes' weights — the minimal-
    disruption property, emitted here as the checkable column
    n_moved_to_new (== n_moved for HRW by the theorem; gate-tested).
    Weights are the shared md5 residue of 'hrw-v1:doc:node', so both
    engines replay identical assignments; ties break to the smallest
    node id in both (first match of the GREATEST case chain).

    Scale: pure narrow per-row expressions (9 md5s per key) + one
    map-side-partial 2-row rollup — no shuffle, no state; this IS the
    production shard-router expression, evaluable at the scan.
    """
    from ..functions.scalar import stable_hash_p31

    def h(node: int):
        return stable_hash_p31(
            F.concat(
                F.lit("hrw-v1:"), F.col("doc_id").cast("string"), F.lit(f":{node}")
            )
        )

    def argmax(n_nodes):
        cols = [h(n) for n in range(n_nodes)]
        great = F.greatest(*cols)
        e = F.lit(None).cast("int")
        for n in reversed(range(n_nodes)):
            e = F.when(cols[n] == great, F.lit(n)).otherwise(e)
        return e

    base_h = stable_hash_p31(
        F.concat(F.lit("hrw-v1:"), F.col("doc_id").cast("string"))
    )
    assign = fan_out(load_table(spark, sf_dir, "documents")).select(
        argmax(8).alias("hrw8"),
        argmax(9).alias("hrw9"),
        (base_h % 8).alias("mod8"),
        (base_h % 9).alias("mod9"),
    )
    d = F.call_function

    def roll(name, a, b):
        moved = (F.col(a) != F.col(b)).cast("long")
        to_new = ((F.col(a) != F.col(b)) & (F.col(b) == 8)).cast("long")
        return assign.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(moved).cast("long").alias("n_moved"),
            F.sum(to_new).cast("long").alias("n_moved_to_new"),
            d(
                "div",
                2 * F.sum(moved).cast("long") * 1_000_000
                + F.count(F.lit(1)).cast("long"),
                2 * F.count(F.lit(1)).cast("long"),
            ).alias("moved_ppm"),
        )

    return roll("rendezvous", "hrw8", "hrw9").unionByName(
        roll("modulo", "mod8", "mod9")
    )


from .dedup_queries import _SQL_SHINGLES as _SC_SHINGLES  # noqa: E402
from .text_queries import _SQL_TOKS as _SC_TOKS  # noqa: E402

_SET_COVER_K = 8  # greedy rounds (coverage-curve length)


def _set_cover_oracle() -> str:
    head = f"""
    WITH shg AS (
      SELECT doc_id, {_SC_SHINGLES} AS sh
      FROM (SELECT doc_id, {_SC_TOKS} AS toks FROM documents)
    ),
    p AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest(sh) AS g FROM shg
    ),
    cov0 AS (SELECT CAST(NULL AS VARCHAR) AS g WHERE FALSE),
    sel0 AS (SELECT CAST(NULL AS INT) AS round, CAST(NULL AS BIGINT) AS doc_id,
             CAST(NULL AS BIGINT) AS gain, CAST(NULL AS BIGINT) AS covered
             WHERE FALSE)"""
    rnd = """,
    unc{R} AS MATERIALIZED (
      SELECT doc_id, g FROM p
      WHERE g NOT IN (SELECT g FROM cov{P} WHERE g IS NOT NULL)
    ),
    pick{R} AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM unc{R} GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1
    ),
    cov{R} AS MATERIALIZED (
      SELECT g FROM cov{P}
      UNION
      SELECT u.g FROM unc{R} u JOIN pick{R} k ON u.doc_id = k.doc_id
    ),
    sel{R} AS MATERIALIZED (
      SELECT * FROM sel{P}
      UNION ALL
      SELECT CAST({R} AS INT), doc_id, gain,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cov{R})
      FROM pick{R}
    )"""
    body = "".join(
        rnd.format(R=r, P=r - 1) for r in range(1, _SET_COVER_K + 1)
    )
    return (
        head
        + body
        + f"""
    SELECT round, doc_id, gain, covered FROM sel{_SET_COVER_K}
    """
    )


@query("q_set_cover_greedy", extra=True, oracle=_set_cover_oracle())
def q_set_cover_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY SET COVER — coverage-maximizing document selection, the
    set-system dual of sim_facility_location (that maximizes similarity
    coverage over vectors; this maximizes ELEMENT coverage over the
    3-gram shingle vocabulary — pick the {_SET_COVER_K} documents that
    together cover the most distinct shingles, the classic
    (1 - 1/e)-guaranteed greedy of corpus curation: "which docs teach
    the tokenizer the most new strings"). Each round counts every doc's
    UNCOVERED shingles, admits the argmax under a total order
    (gain DESC, doc_id), and folds its shingles into the covered set;
    the emitted relation is the coverage curve (round, doc, marginal
    gain, cumulative covered). Submodularity's diminishing gains and a
    pure-Python greedy replay are gate-tested.

    Scale: the posting relation (doc, shingle) is built once
    (reduce-to-vocabulary explode); each round is one anti-join against
    the covered set + a map-side-combining per-doc count + a 1-row
    argmax; the covered set is vocabulary-bounded, broadcastable at any
    corpus size (at open-vocabulary scale: a bloom/bucketed covered set,
    same rounds).
    """
    from ..operators.dedup import shingles

    docs = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    p = (
        docs.select("doc_id", F.explode(shingles("text")).alias("g"))
        .distinct()
        .localCheckpoint()  # every round's anti-join reads it
    )
    spark_ = spark
    covered = p.select("g").where(F.lit(False))
    out = None
    from ..functions.scale import literal_df, loop_ckpt_lazy, loop_rounds

    for r in range(1, loop_rounds(_SET_COVER_K) + 1):
        unc = p.join(F.broadcast(covered), "g", "anti")
        picks = (
            unc.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("gain"))
            .orderBy(F.col("gain").desc(), "doc_id")
            .limit(1)
            .collect()
        )
        if not picks:
            # Vocabulary fully covered before K rounds: emit the same
            # truncated coverage curve the oracle's recursive CTE does.
            break
        pick = picks[0]
        newly = unc.where(F.col("doc_id") == int(pick["doc_id"])).select("g")
        covered = loop_ckpt_lazy(covered.unionByName(newly).distinct())
        n_cov = covered.count()
        # literal_df, not createDataFrame (Python-RDD backing re-spawns
        # Python workers per action over the accumulated union - round-13)
        row = literal_df(
            spark_,
            "round int, doc_id long, gain long, covered long",
            [(r, int(pick["doc_id"]), int(pick["gain"]), int(n_cov))],
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Learned domain-mixture weights (round 12)
# ---------------------------------------------------------------------------

# Exponentiated-gradient mixture reweighting (the DoReMi-family update
# rule w_t[d] ~ w_0[d] * exp(t * eta * loss[d]), domains = sources).
# The per-domain loss is the mean token surprisal under the GLOBAL
# unigram LM plus a PLANTED per-domain difficulty ramp (the corpus is
# homogeneous, so without planting all weights would idle at ~1/20);
# with it, mass must visibly migrate to the
# high-index domains over the rounds.
_DM_ROUNDS = 3
_DM_PLANT_MICRO = 20000  # planted difficulty step per source index


def _doremi_oracle() -> str:
    return """
    WITH t AS (
      SELECT source, unnest({TOKS}) AS tok FROM documents
    ),
    v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM v),
    surp AS (
      SELECT v.tok,
        CAST(ROUND(1e6 * LN(CAST(nn.n AS DOUBLE) / v.c)) AS BIGINT) AS s
      FROM v CROSS JOIN nn
    ),
    dc AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM t GROUP BY 1, 2
    ),
    dl AS (
      SELECT dc.source,
        CAST((2 * SUM(dc.c * surp.s) + SUM(dc.c)) // (2 * SUM(dc.c))
             AS BIGINT)
        + {PLANT} * CAST(substr(dc.source, 4) AS BIGINT) AS loss_micro
      FROM dc JOIN surp ON surp.tok = dc.tok
      GROUP BY dc.source
    ),
    rounds AS (SELECT unnest([1, 2, 3]) AS round),
    e AS (
      SELECT r.round, dl.source, dl.loss_micro,
        CAST(ROUND(1e6 * EXP(r.round * CAST(dl.loss_micro AS DOUBLE) / 1e6
                             - r.round * 4.0)) AS BIGINT) AS exp_micro
      FROM dl CROSS JOIN rounds r
    ),
    z AS (SELECT round, CAST(SUM(exp_micro) AS BIGINT) AS z FROM e GROUP BY 1)
    SELECT e.round, e.source, e.loss_micro, e.exp_micro,
      CAST((2 * e.exp_micro * 1000000 + z.z) // (2 * z.z) AS BIGINT)
        AS weight_ppm
    FROM e JOIN z ON z.round = e.round
    """.replace("{TOKS}", _SC_TOKS).replace("{PLANT}", str(_DM_PLANT_MICRO))


@query("q_doremi_mixture", extra=True, oracle=_doremi_oracle())
def q_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED DOMAIN-MIXTURE WEIGHTS — the optimization member of the
    data-mixing family (text_temperature_mix and text_weighted_mix apply
    FIXED formulas; the DoReMi-style recipe LEARNS the mixture by
    exponentiated gradient on per-domain excess loss: harder domains
    earn weight). Domain loss = mean token surprisal under the global
    unigram LM (micro-snapped ln — the Adamic-Adar discipline) plus the
    documented planted difficulty ramp; the emitted trajectory is the
    per-round (loss, exp term, normalized ppm weight) for every domain,
    with mass migrating to high-index sources over the 3 rounds
    (tests/test_corpus.py pins monotonicity and the ppm simplex).

    Determinism: surprisals and domain losses are snapped integers; the
    exp term subtracts a shared recentring constant (round * 4.0 — keeps
    the doubles in a comfortable range, cancels in the normalization)
    and is micro-snapped; weights are half-up ppm over the SNAPPED
    terms, so the simplex normalization is exact integer arithmetic.

    Scale: corpus touched twice map-side (global vocab count, per-domain
    token count); the vocabulary join is broadcast; rounds run on the
    |domains|-row relation. The update is embarrassingly mergeable —
    per-shard domain sums add.
    """
    from ..functions.scalar import half_up_units, token_array

    t = fan_out(load_table(spark, sf_dir, "documents")).select(
        "source", F.explode(token_array("text")).alias("tok")
    ).localCheckpoint()  # global vocab + per-domain counts read it
    v = t.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nn = v.agg(F.sum("c").cast("long").alias("n"))
    surp = v.crossJoin(F.broadcast(nn)).select(
        "tok",
        F.round(
            F.lit(1e6)
            * F.log(F.col("n").cast("double") / F.col("c")),
            0,
        )
        .cast("long")
        .alias("s"),
    )
    dc = t.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dl = (
        dc.join(F.broadcast(surp), "tok")
        .groupBy("source")
        .agg(
            (
                half_up_units(
                    F.sum(F.col("c") * F.col("s")).cast("long"),
                    F.sum("c").cast("long"),
                    1,
                )
                + F.lit(_DM_PLANT_MICRO).cast("long")
                * F.substring(F.col("source"), 4, 10).cast("long")
            ).alias("loss_micro")
        )
    )
    rounds = F.explode(
        F.array(*[F.lit(i) for i in range(1, _DM_ROUNDS + 1)])
    ).alias("round")
    e = dl.select("source", "loss_micro", rounds).select(
        "round",
        "source",
        "loss_micro",
        F.round(
            F.lit(1e6)
            * F.exp(
                F.col("round") * F.col("loss_micro").cast("double") / F.lit(1e6)
                - F.col("round") * F.lit(4.0)
            ),
            0,
        )
        .cast("long")
        .alias("exp_micro"),
    ).localCheckpoint()  # z rollup + final join read it
    z = e.groupBy("round").agg(F.sum("exp_micro").cast("long").alias("z"))
    return e.join(F.broadcast(z), "round").select(
        "round",
        "source",
        "loss_micro",
        "exp_micro",
        F.call_function(
            "div",
            2 * F.col("exp_micro") * F.lit(1000000).cast("long") + F.col("z"),
            2 * F.col("z"),
        ).alias("weight_ppm"),
    )
