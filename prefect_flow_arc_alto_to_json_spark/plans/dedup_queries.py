"""Dedup operators as driver-checked queries over ``documents``.

Every hash in operators/dedup.py derives from md5, so the DuckDB oracles
reproduce signatures, band hashes and pair sets value-for-value
(md5_number_lower ≡ functions.scalar.stable_hash64). The synthetic corpus
contains 25 planted near-duplicate pairs (3-gram jaccard ≥ 0.8) — all the
pair queries are non-vacuous.

The exact-dup query plants duplicates itself (documents has none): a
whitespace/case-mangled copy of every 20th doc, built identically in Spark
and SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    MINHASH_BANDS,
    MINHASH_PARAMS,
    MINHASH_PRIME,
    MINHASH_ROWS,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    prefix_jaccard_pairs,
    simhash_pairs,
    with_minhash,
    with_simhash,
)
from ..functions.scale import fan_out, scoped_persist
from ..sources import load_table
from .registry import query

# ---- shared SQL fragments (DuckDB) ----------------------------------------

_SQL_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '')"
)
_SQL_SHINGLES = (
    "list_distinct(CASE WHEN len(toks) >= 3 THEN "
    "[array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] "
    "ELSE [] END)"
)
_SQL_SHINGLE_HASHES = (
    f"list_transform(sh, s -> md5_number_lower(s) % {MINHASH_PRIME})"
)
_SQL_SIG_ELEMS = ", ".join(
    f"COALESCE(list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_PRIME})), {MINHASH_PRIME})"
    for a, b in MINHASH_PARAMS
)

def _sql_docs_with_sig(src: str = "documents") -> str:
    """CTE chain text → tokens → shingles → md5 hashes → 32-minhash sig,
    parameterized on the source relation (so capped variants can plant
    boilerplate in a ``corpus`` CTE first)."""
    return f"""
  toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM {src}),
  shg  AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
  hsh  AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
  docs AS (SELECT doc_id, [{_SQL_SIG_ELEMS}] AS sig FROM hsh)
"""


_SQL_DOCS_WITH_SIG = _sql_docs_with_sig()


@query(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             '  ' || upper(text) || '   '
      FROM documents WHERE doc_id % 20 = 0
    )
    SELECT
      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
      MIN(doc_id) AS keeper_id,
      COUNT(*) AS n_dups
    FROM corpus
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after normalization (lowercase/trim/ws-collapse).

    The corpus plants a mangled copy of every 20th doc; those groups must
    come back with n_dups=2 and the original id as keeper.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = (
        docs.where(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text"), F.lit("   ")).alias("text"),
        )
    )
    corpus = docs.unionByName(mangled)
    groups = exact_dedup_groups(corpus)
    return groups.select(
        F.col("text_hash").cast("string").alias("text_hash"),
        "keeper_id",
        "n_dups",
    )


@query(
    "dedup_minhash_signature",
    extra=True,
    oracle=f"""
    WITH {_SQL_DOCS_WITH_SIG}
    SELECT h.doc_id,
           len(s.sh) AS n_shingles,
           CAST(d.sig[1] AS BIGINT) AS mh0,
           CAST(d.sig[2] AS BIGINT) AS mh1,
           CAST(d.sig[3] AS BIGINT) AS mh2,
           CAST(d.sig[32] AS BIGINT) AS mh31
    FROM hsh h JOIN shg s USING (doc_id) JOIN docs d USING (doc_id)
    """,
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash machinery parity: per-doc shingle count + probe points of the
    32-element signature, value-matched against SQL-recomputed md5 minhashes.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = with_minhash(docs)
    from ..operators.dedup import shingles

    return sigs.select(
        "doc_id",
        F.size(shingles("text", 3)).alias("n_shingles"),
        F.element_at("minhash", 1).alias("mh0"),
        F.element_at("minhash", 2).alias("mh1"),
        F.element_at("minhash", 3).alias("mh2"),
        F.element_at("minhash", 32).alias("mh31"),
    )


_SQL_BANDS = ", ".join(
    f"md5_number_lower('{j}' || ',' || array_to_string(sig[{j * MINHASH_ROWS + 1}:{j * MINHASH_ROWS + MINHASH_ROWS}], ',')) % 4294967296"
    for j in range(MINHASH_BANDS)
)


@query(
    "dedup_minhash_pairs",
    oracle=f"""
    WITH {_SQL_DOCS_WITH_SIG},
    bands AS (
      SELECT doc_id, u.j, [{_SQL_BANDS}][u.j + 1] AS bh
      FROM docs, (SELECT unnest(range(0, {MINHASH_BANDS})) AS j) u
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh
      WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT id_a, id_b,
        ROUND(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) / 32.0, 6)
          AS est_jaccard
      FROM cand JOIN docs sa ON sa.doc_id = id_a JOIN docs sb ON sb.doc_id = id_b
    ) WHERE est_jaccard >= 0.5
    """,
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs (est jaccard ≥ 0.5) — the full
    candidate-generation + verification path, value-matched against a SQL
    re-implementation of the same bands."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_lsh_pairs(docs, threshold=0.5)


@query(
    "dedup_ngram_jaccard",
    # Rotated to the extra tier in round 7 (see dedup_simhash_pairs note):
    # near-dup pair generation stays graded via dedup_minhash_pairs.
    extra=True,
    oracle=f"""
    WITH
      toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
      shg  AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
      hsh  AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
      -- posting-list join (linear in shared shingles, like the Spark plan)
      -- instead of the quadratic all-pairs list_intersect
      post AS (SELECT doc_id, unnest(hs) AS h FROM hsh),
      sizes AS (SELECT doc_id, len(hs) AS n_sh FROM hsh),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
    SELECT id_a, id_b,
      ROUND(n_common / (sa.n_sh + sb.n_sh - n_common)::DOUBLE, 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(n_common / (sa.n_sh + sb.n_sh - n_common)::DOUBLE, 6) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard pairs ≥ 0.8 (the 25 planted near-dup
    pairs at sf0.01). Spark computes via shingle-posting join (linear in
    shared shingles); the oracle brute-forces — same set either way."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_jaccard_pairs(docs, threshold=0.8)


#: Boilerplate sentence planted on 30% of docs by the capped query — the
#: pathological shared-shingle case the posting-frequency cap exists for.
_BOILERPLATE = (
    "subscribe to our newsletter all rights reserved "
    "terms and conditions apply click here to unsubscribe"
)

#: posting-list cap used by dedup_ngram_jaccard_capped: bites at sf0.01+
#: (boilerplate df ≈ 167 docs > 20) but not at sf0.001 (df ≈ 17).
_MAX_DOC_FREQ = 20


@query(
    "dedup_ngram_jaccard_capped",
    extra=True,
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' {_BOILERPLATE}'
                  ELSE text END AS text
      FROM documents
    ),
    toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
    shg  AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
    hsh  AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
    post AS (SELECT doc_id, unnest(hs) AS h FROM hsh),
    -- the cap: GROUP BY / HAVING on posting-list length
    keep AS (SELECT h FROM post GROUP BY h HAVING count(*) <= {_MAX_DOC_FREQ}),
    kept AS (SELECT p.doc_id, p.h FROM post p JOIN keep USING (h)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
      ROUND(n_common / (sa.n_sh + sb.n_sh - n_common)::DOUBLE, 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(n_common / (sa.n_sh + sb.n_sh - n_common)::DOUBLE, 6) >= 0.8
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-frequency-capped Jaccard pairs under planted boilerplate —
    the skew valve demonstrated end-to-end: a fixed footer sentence is
    appended to 30% of docs (at sf0.01 its shingles hit ~167 posting
    entries, 8x the cap of 20), the cap strips those shingles before the
    self-join, and Jaccard is computed over the informative-shingle
    universe, so the planted near-dup pairs still surface while the
    boilerplate never explodes the join. The oracle mirrors the cap as a
    plain GROUP BY/HAVING. The scale story: without the cap a boilerplate
    shingle shared by 30% of a 100 TB corpus alone contributes (0.3·N)²
    join rows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + _BOILERPLATE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return ngram_jaccard_pairs(corpus, threshold=0.8, max_doc_freq=_MAX_DOC_FREQ)


@query(
    "dedup_prefix_jaccard",
    extra=True,
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' {_BOILERPLATE}'
                  ELSE text END AS text
      FROM documents
    ),
    toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
    shg  AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
    hsh  AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
    post AS (SELECT doc_id, len(hs) AS n_sh, unnest(hs) AS h FROM hsh),
    dfreq AS (SELECT h, count(*) AS sdf FROM post GROUP BY h),
    -- prefix under the (df asc, hash asc) total order; integer
    -- ceil(4*n/5) = (4n+4)//5 mirrors the Spark-side Fraction arithmetic
    ranked AS (
      SELECT p.doc_id, p.h, p.n_sh,
             row_number() OVER (PARTITION BY p.doc_id ORDER BY d.sdf, p.h) AS rk
      FROM post p JOIN dfreq d USING (h)
    ),
    prefix AS (
      SELECT doc_id, h FROM ranked
      WHERE rk <= n_sh - ((4 * n_sh + 4) // 5) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT id_a, id_b,
             len(list_intersect(ha.hs, hb.hs)) AS n_common,
             len(ha.hs) AS n_a, len(hb.hs) AS n_b
      FROM cand
      JOIN hsh ha ON ha.doc_id = id_a
      JOIN hsh hb ON hb.doc_id = id_b
    )
    SELECT id_a, id_b,
      ROUND(n_common / (n_a + n_b - n_common)::DOUBLE, 6) AS jaccard
    FROM scored
    WHERE ROUND(n_common / (n_a + n_b - n_common)::DOUBLE, 6) >= 0.8
    """,
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered (AllPairs/PPJoin) exact Jaccard pairs under the SAME
    planted 30%-boilerplate corpus as ``dedup_ngram_jaccard_capped`` — the
    LOSSLESS answer to posting skew: boilerplate shingles sort last in the
    df-ascending prefix order and never enter the self-joined prefixes, so
    the pair set is exactly the full-universe truth (no informative-universe
    reinterpretation like the cap) while candidate volume follows
    rare-shingle co-occurrence. The oracle replays the prefix bound with
    the same integer ceil; verification is exact list intersection."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + _BOILERPLATE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return prefix_jaccard_pairs(corpus, threshold=0.8)


@query(
    "dedup_minhash_pairs_capped",
    extra=True,
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN '{_BOILERPLATE} doc ' || CAST(doc_id AS VARCHAR)
                  ELSE text END AS text
      FROM documents
    ),
    {_sql_docs_with_sig("corpus")},
    bands AS (
      SELECT doc_id, u.j, [{_SQL_BANDS}][u.j + 1] AS bh
      FROM docs, (SELECT unnest(range(0, {MINHASH_BANDS})) AS j) u
    ),
    -- the cap: GROUP BY / HAVING on band-bucket membership
    keep AS (SELECT j, bh FROM bands GROUP BY j, bh
             HAVING count(*) <= {_MAX_DOC_FREQ}),
    bandsk AS (SELECT b.doc_id, b.j, b.bh FROM bands b JOIN keep USING (j, bh)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandsk a JOIN bandsk b ON a.j = b.j AND a.bh = b.bh
      WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT id_a, id_b,
        ROUND(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) / 32.0, 6)
          AS est_jaccard
      FROM cand JOIN docs sa ON sa.doc_id = id_a JOIN docs sb ON sb.doc_id = id_b
    ) WHERE est_jaccard >= 0.5
    """,
)
def dedup_minhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-capped MinHash-LSH pairs under adversarial boilerplate: 30%
    of docs are REPLACED by a near-identical boilerplate text (unique only
    in a numeric suffix), which collapses most of their band buckets into
    one mega bucket per band — at sf0.01 that is a ~167-member bucket,
    i.e. ~14k candidate pairs from boilerplate alone, the exact quadratic
    blowup a 100 TB corpus hits on shared headers. ``max_bucket_size``
    drops those buckets before the self-join (a plain GROUP BY/HAVING in
    the oracle); the natural near-dup pairs among untouched docs survive
    via their small buckets."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(_BOILERPLATE + " doc "), F.col("doc_id").cast("string")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return minhash_lsh_pairs(
        corpus, threshold=0.5, max_bucket_size=_MAX_DOC_FREQ
    )


_SQL_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN 2 * len(list_filter(hs32, h -> (h >> {b}) & 1 = 1)) > len(hs32) THEN {2**b} ELSE 0 END)"
    for b in range(32)
)


@query(
    "dedup_simhash",
    extra=True,
    oracle=f"""
    WITH
      toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
      shg  AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
      hsh  AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
      h32  AS (SELECT doc_id,
                 list_transform(hs, h -> md5_number_lower(CAST(h AS VARCHAR)) % 4294967296) AS hs32
               FROM hsh)
    SELECT doc_id, CAST({_SQL_SIMHASH_BITS} AS BIGINT) AS simhash
    FROM h32
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document, value-matched bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_simhash(docs, "text", "simhash").select("doc_id", "simhash")


@query(
    "dedup_simhash_pairs",
    # Rotated to the extra tier in round 7: the graded window already
    # adjudicates near-dup pair generation via dedup_minhash_pairs; the
    # freed slot went to a family with no graded representative
    # (q_zorder_index / mm_image_near_dup). Same
    # oracle check runs in CI (tests/test_extra_queries.py).
    extra=True,
    oracle=f"""
    WITH
      toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
      shg  AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
      hsh  AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
      h32  AS (SELECT doc_id,
                 list_transform(hs, h -> md5_number_lower(CAST(h AS VARCHAR)) % 4294967296) AS hs32
               FROM hsh),
      sh2  AS (SELECT doc_id, CAST({_SQL_SIMHASH_BITS} AS BIGINT) AS s FROM h32)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
    FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3). Spark prunes candidates by
    byte-chunk banding (pigeonhole-complete at ham ≤ 3), so the brute-force
    oracle defines exactly the same pair set."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_pairs(docs).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


#: shared by dedup_components and dedup_canonical: the full
#: shingle→jaccard-pair→transitive-closure CTE chain
_SQL_COMPONENTS_CTES = f"""
    WITH RECURSIVE
      toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
      shg  AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
      hsh  AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
      pairs AS (
        SELECT id_a, id_b FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            len(list_intersect(a.hs, b.hs)) /
            (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE
              AS jaccard
          FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.8
      ),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
      ),
      paths(node, peer) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT p.node, e.dst FROM paths p JOIN edges e ON p.peer = e.src
      ),
      comp AS (
        SELECT node AS doc_id, CAST(min(peer) AS BIGINT) AS component_id
        FROM paths GROUP BY node
      )
"""


@query(
    "dedup_components",
    oracle=_SQL_COMPONENTS_CTES + """
    SELECT doc_id, component_id FROM comp
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (3-gram jaccard ≥ 0.8) → connected components via
    iterative min-label propagation; the oracle closes the same edge set
    with a recursive CTE. Non-trivial check that a multi-round iterative
    DataFrame algorithm converges to the exact transitive closure."""
    from ..operators.dedup import duplicate_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8)
    return duplicate_components(pairs)


@query(
    "dedup_canonical",
    extra=True,
    oracle=_SQL_COMPONENTS_CTES + """
    SELECT component_id,
           CAST(doc_id AS BIGINT) AS canonical_doc_id,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
      SELECT c.component_id, c.doc_id,
             COUNT(*) OVER (PARTITION BY c.component_id) AS n_members,
             ROW_NUMBER() OVER (
               PARTITION BY c.component_id
               ORDER BY d.n_chars DESC, c.doc_id ASC
             ) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ) WHERE rn = 1
    """,
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection — the step AFTER clustering
    that actually deduplicates a corpus: per near-dup component, keep
    the longest member (n_chars desc, doc_id tiebreak) and report
    cluster size. Composes duplicate_components with a per-cluster
    argmax; the oracle extends the SHARED transitive-closure CTE chain
    (factored out of dedup_components) with the same keep-longest rule,
    so clustering and representative choice are adjudicated together.

    Scale: the components relation is pair-derived (≪ corpus); the
    n_chars lookup is an id-equi-join against the docs table and the
    argmax window partitions by component — both ride the component_id
    exchange. The kept-set at 100 TB is then an anti-join of the corpus
    against (members − canonicals), all id-only shuffles.
    """
    from ..operators.dedup import duplicate_components

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    pairs = ngram_jaccard_pairs(docs.select("doc_id", "text"), threshold=0.8)
    comp = duplicate_components(pairs)
    joined = comp.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    wsize = Window.partitionBy("component_id")
    wrank = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("n_members", F.count(F.lit(1)).over(wsize))
        .withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


@query(
    "dedup_containment_pairs",
    extra=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    shg AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
    hsh AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg)
    SELECT id_sub, id_super, containment FROM (
      SELECT a.doc_id AS id_sub, b.doc_id AS id_super,
             ROUND(len(list_intersect(a.hs, b.hs)) / len(a.hs)::DOUBLE, 6)
               AS containment
      FROM hsh a JOIN hsh b ON a.doc_id <> b.doc_id
    ) WHERE containment >= 0.9
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-gram shingle containment ≥ 0.9 (operators/dedup.py:
    containment_pairs): the asymmetric quote/subset detector — C(A→B) =
    |A∩B|/|A|, so a short doc fully embedded in a longer one fires even
    though the pair's Jaccard is far below any near-dup threshold. The
    oracle brute-forces all directed pairs over the same shingle-hash
    lists; the engine materializes only posting-join survivors.
    """
    from ..operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return containment_pairs(docs, threshold=0.9)


@query(
    "dedup_drop_contained",
    extra=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    shg AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
    hsh AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
    pairs AS (
      SELECT id_sub, id_super, containment FROM (
        SELECT a.doc_id AS id_sub, b.doc_id AS id_super,
               ROUND(len(list_intersect(a.hs, b.hs)) / len(a.hs)::DOUBLE, 6)
                 AS containment
        FROM hsh a JOIN hsh b ON a.doc_id <> b.doc_id
      ) WHERE containment >= 0.9
    ),
    directed AS (
      SELECT p.id_sub, p.id_super, p.containment
      FROM pairs p
      JOIN documents ds ON ds.doc_id = p.id_sub
      JOIN documents dp ON dp.doc_id = p.id_super
      WHERE dp.n_chars > ds.n_chars
         OR (dp.n_chars = ds.n_chars AND dp.doc_id < ds.doc_id)
    )
    SELECT id_sub AS dropped_doc_id, id_super AS kept_in_doc_id, containment
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY id_sub ORDER BY containment DESC, id_super ASC
      ) AS rn FROM directed
    ) WHERE rn = 1
    """,
)
def dedup_drop_contained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment POLICY step: for every doc ≥0.9-contained in a
    STRICTLY LONGER doc (n_chars tie → lower id wins as keeper), emit
    (dropped_doc_id, kept_in_doc_id, containment) with the best keeper
    per dropped doc (highest containment, lowest id tiebreak) — the
    actionable drop-list a corpus build applies via anti-join, the
    asymmetric complement of dedup_canonical's keep-longest-per-cluster.

    Scale: containment pairs (posting-join bounded) joined twice against
    the id→n_chars relation (broadcast-small per pair set), one per-sub
    argmax window on the pair relation — nothing corpus-sized past the
    posting join.
    """
    from ..operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    pairs = containment_pairs(docs.select("doc_id", "text"), threshold=0.9)
    ds = docs.select(F.col("doc_id").alias("id_sub"), F.col("n_chars").alias("nc_sub"))
    dp = docs.select(
        F.col("doc_id").alias("id_super"), F.col("n_chars").alias("nc_super")
    )
    directed = (
        pairs.join(ds, "id_sub")
        .join(dp, "id_super")
        .where(
            (F.col("nc_super") > F.col("nc_sub"))
            | (
                (F.col("nc_super") == F.col("nc_sub"))
                & (F.col("id_super") < F.col("id_sub"))
            )
        )
    )
    w = Window.partitionBy("id_sub").orderBy(
        F.col("containment").desc(), F.col("id_super").asc()
    )
    return (
        directed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("id_sub").alias("dropped_doc_id"),
            F.col("id_super").alias("kept_in_doc_id"),
            "containment",
        )
    )


@query(
    "dedup_cross_source_matrix",
    extra=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    shg AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
    hsh AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          len(list_intersect(a.hs, b.hs)) /
          (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE
            AS jaccard
        FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.8
    )
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    WHERE da.source <> db.source
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source syndication audit: per source pair, how many
    NEAR-duplicate document pairs (3-gram Jaccard >= 0.8) span the two —
    the "same content syndicated across origins" signal that decides
    which source to de-prioritize in the corpus mix, rolling the
    doc-level near-dup relation up to the source level.

    Scale: pairs come from the posting-join-bounded generator
    (ngram_jaccard_pairs — never corpus^2); the source lookups are
    id-equi-joins on the pair relation and the output is
    source^2-bounded, tiny at any corpus size.
    """
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs.select("doc_id", "text"), threshold=0.8)
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .where(F.col("sa") != F.col("sb"))
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


@query(
    "dedup_incremental_minhash",
    extra=True,
    oracle=f"""
    WITH {_SQL_DOCS_WITH_SIG},
    bands AS (
      SELECT doc_id, u.j, [{_SQL_BANDS}][u.j + 1] AS bh
      FROM docs, (SELECT unnest(range(0, {MINHASH_BANDS})) AS j) u
    ),
    probe AS (SELECT * FROM bands WHERE doc_id % 5 = 4),
    cand AS (
      SELECT DISTINCT least(p.doc_id, b.doc_id) AS id_a,
                      greatest(p.doc_id, b.doc_id) AS id_b
      FROM probe p
      JOIN bands b ON p.j = b.j AND p.bh = b.bh AND p.doc_id <> b.doc_id
    )
    SELECT id_a, id_b, est_jaccard,
           CAST((id_a % 5 = 4)::INT + (id_b % 5 = 4)::INT AS INTEGER) AS n_new
    FROM (
      SELECT id_a, id_b,
        ROUND(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) / 32.0, 6)
          AS est_jaccard
      FROM cand
      JOIN docs sa ON sa.doc_id = id_a
      JOIN docs sb ON sb.doc_id = id_b
    ) WHERE est_jaccard >= 0.5
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (operators/dedup.py:incremental_minhash_pairs):
    docs with doc_id % 5 = 4 play today's batch, the rest the indexed
    corpus; only batch band-rows probe the index (broadcast probe side),
    so old-old pairs are never generated and cost is |batch|·8 bucket
    lookups, not Σ|bucket|² over the whole corpus. n_new says whether the
    hit is batch-vs-index (1) or within-batch (2). Full oracle: same band
    formula + signature verification SQL as dedup_minhash_pairs, with the
    probe-side restriction applied in the candidate CTE."""
    from ..operators.dedup import incremental_minhash_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return incremental_minhash_pairs(
        docs, F.col("doc_id") % 5 == 4, threshold=0.5
    )


@query(
    "dedup_minhash_calibration",
    extra=True,
    oracle=f"""
    WITH {_SQL_DOCS_WITH_SIG},
    hsd AS (SELECT doc_id, list_distinct(hs) AS hsd FROM hsh),
    bands AS (
      SELECT doc_id, u.j, [{_SQL_BANDS}][u.j + 1] AS bh
      FROM docs, (SELECT unnest(range(0, {MINHASH_BANDS})) AS j) u
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh
      WHERE a.doc_id < b.doc_id
    ),
    per_pair AS (
      SELECT
        CAST(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i]))
             AS BIGINT) AS m,
        CAST(len(list_distinct(list_intersect(ha.hsd, hb.hsd)))
             AS BIGINT) AS inter,
        CAST(len(ha.hsd) + len(hb.hsd)
             - len(list_distinct(list_intersect(ha.hsd, hb.hsd)))
             AS BIGINT) AS uni
      FROM cand
      JOIN docs sa ON sa.doc_id = id_a JOIN docs sb ON sb.doc_id = id_b
      JOIN hsd ha ON ha.doc_id = id_a JOIN hsd hb ON hb.doc_id = id_b
    ),
    scored AS (
      SELECT (m * 10) // 32 AS bucket,
             (2 * m * 1000000 + 32) // 64 AS est_ppm,
             (2 * inter * 1000000 + uni) // (2 * uni) AS jacc_ppm
      FROM per_pair WHERE uni > 0
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST((2 * SUM(est_ppm) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS mean_est_ppm,
           CAST((2 * SUM(jacc_ppm) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS mean_exact_ppm
    FROM scored GROUP BY bucket
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration report — the eval that tells you whether the
    32-hash signature is trustworthy at your chosen LSH threshold: every
    band candidate pair scored BOTH ways (signature-estimated Jaccard =
    matching positions / 32, and exact distinct-shingle-hash Jaccard),
    bucketed by estimate decile, reporting per-bucket pair counts and
    the two means. A well-calibrated sketch shows mean_est ~ mean_exact
    per bucket; systematic gaps mean the signature is too short for the
    threshold. Everything is integer: match counts m, inter/union set
    sizes, per-pair ppm via the half-up device, bucket = (m*10) div 32,
    and the means average the EXACT per-pair ppm longs.

    Scale: candidates come from the same banded self-join as
    dedup_minhash_pairs (sum bucket^2, never corpus^2); the exact-side
    verification is the POSTING JOIN (linear in shared shingles — the
    dedup_ngram_jaccard shape), left-joined back onto the candidates so
    a signature-collision pair with zero shared shingles still reports
    inter = 0; wide hash arrays never travel through a join (the first
    array-intersect form benched 6.8s at sf0.1; this plan ~3.9s warm);
    the report reduce is 10 groups."""
    from ..operators.dedup import shingle_hashes, shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs, threshold=0.0)
    hsd = scoped_persist(
        docs.select(
            "doc_id",
            F.array_distinct(shingle_hashes(shingles("text"))).alias("hsd"),
        ),
        "dedup_minhash_calibration.hsd",
    )
    post = hsd.select("doc_id", F.explode("hsd").alias("h"))
    pa = post.select(F.col("doc_id").alias("id_a"), "h")
    pb = post.select(F.col("doc_id").alias("id_b"), "h")
    # persisted relations carry no stats -> Catalyst would SMJ; the
    # per-shingle posting lists are bounded, so shuffle-hash (no sorts)
    # is the right large-large strategy (semantic_dedup precedent).
    inter_all = (
        pa.join(pb.hint("shuffle_hash"), ["h"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = hsd.select("doc_id", F.size("hsd").cast("long").alias("n_sh"))
    per_pair = (
        pairs.join(inter_all.hint("shuffle_hash"), ["id_a", "id_b"], "left")
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_a"),
                                     F.col("n_sh").alias("na"))),
            "id_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_b"),
                                     F.col("n_sh").alias("nb"))),
            "id_b",
        )
        .select(
            F.round(F.col("est_jaccard") * 32).cast("long").alias("m"),
            F.coalesce(F.col("inter"), F.lit(0)).cast("long").alias("inter"),
            (F.col("na") + F.col("nb")).alias("sz"),
        )
        .select(
            "m", "inter", (F.col("sz") - F.col("inter")).alias("uni")
        )
        .where(F.col("uni") > 0)
    )
    d = F.call_function
    scored = per_pair.select(
        d("div", F.col("m") * 10, F.lit(32)).alias("bucket"),
        d("div", F.lit(2) * F.col("m") * 1_000_000 + 32, F.lit(64)).alias(
            "est_ppm"
        ),
        d(
            "div",
            F.lit(2) * F.col("inter") * 1_000_000 + F.col("uni"),
            F.lit(2) * F.col("uni"),
        ).alias("jacc_ppm"),
    )
    n = F.count(F.lit(1))
    return scored.groupBy("bucket").agg(
        n.alias("n_pairs"),
        d("div", F.lit(2) * F.sum("est_ppm") + n, F.lit(2) * n).alias(
            "mean_est_ppm"
        ),
        d("div", F.lit(2) * F.sum("jacc_ppm") + n, F.lit(2) * n).alias(
            "mean_exact_ppm"
        ),
    )


@query(
    "pipeline_leakage_safe_split",
    # graded since round 9: contamination-free split composition
    oracle=_SQL_COMPONENTS_CTES + """
    , grp AS (
      SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS g
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    sp AS (
      SELECT doc_id, g,
             CASE WHEN md5_number_lower('split-v1:' || CAST(g AS VARCHAR))
                       % 2147483647 % 10 < 8
                  THEN 'train' ELSE 'val' END AS split
      FROM grp
    ),
    leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS leaked_pairs
      FROM pairs p
      JOIN sp a ON a.doc_id = p.id_a
      JOIN sp b ON b.doc_id = p.id_b
      WHERE a.split <> b.split
    ),
    naive AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS naive_leaked
      FROM pairs p
      WHERE (md5_number_lower('split-v1:' || CAST(p.id_a AS VARCHAR))
             % 2147483647 % 10 < 8)
         <> (md5_number_lower('split-v1:' || CAST(p.id_b AS VARCHAR))
             % 2147483647 % 10 < 8)
    )
    SELECT s.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT s.g) AS BIGINT) AS n_groups,
           MAX(l.leaked_pairs) AS leaked_pairs,
           MAX(n.naive_leaked) AS naive_leaked
    FROM sp s CROSS JOIN leak l CROSS JOIN naive n
    GROUP BY s.split
    """,
)
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val assignment — split by NEAR-DUP COMPONENT,
    not by document: near-dup pairs (3-gram jaccard ≥ 0.8) close into
    components, every doc's split is a deterministic hash of its
    component label (singletons hash their own id), so a near-duplicate
    of a validation doc can never land in train. The report carries the
    receipts: ``leaked_pairs`` (near-dup pairs crossing the split — 0 BY
    CONSTRUCTION, and the oracle proves the engine's components deliver
    it) next to ``naive_leaked``, the SAME corpus split by doc-id hash
    (> 0 — the contamination a per-doc split silently ships). This is
    the eval-integrity control every training pipeline needs and the
    composition the dedup family exists for: pairs → components →
    group-keyed assignment.

    Scale: pairs/components are pair-derived relations (≪ corpus); the
    split hash is a narrow map; leak counting joins the pair list to the
    doc-level split relation on ids only. The pair relation is persisted
    once for its two consumers (components, leak counts) — at 100 TB it
    is the checkpoint-to-parquet relation, same note as the LSH
    signature pass.
    """
    from ..functions.scalar import stable_hash_p31
    from ..operators.dedup import duplicate_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # localCheckpoint (not a lazy persist): the pair relation feeds THREE
    # consumers (components, split-leak count, naive-leak count) and a
    # lazy persist leaves the full shingle-join lineage replicated in the
    # static plan — the dedup_components precedent, where truncation is
    # what keeps the composed plan linear
    pairs = (
        ngram_jaccard_pairs(docs, threshold=0.8)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    comp = duplicate_components(pairs)
    grp = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("g"),
        )
    )

    def split_of(c):
        h = stable_hash_p31(F.concat(F.lit("split-v1:"), c.cast("string")))
        return F.when(h % 10 < 8, F.lit("train")).otherwise(F.lit("val"))

    sp = grp.withColumn("split", split_of(F.col("g"))).localCheckpoint()
    # id-keyed hash joins (shuffle_hash: both inputs are statless persisted
    # relations — never SMJ-sort id pairs); the doc-level split relation is
    # the big side at 100 TB, so it is NOT broadcast
    a = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    b = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    leak = (
        pairs.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .where(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("leaked_pairs"))
    )
    naive = pairs.where(
        (split_of(F.col("id_a")) != split_of(F.col("id_b")))
    ).agg(F.count(F.lit(1)).cast("long").alias("naive_leaked"))
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("g").cast("long").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leak))
        .crossJoin(F.broadcast(naive))
    )


@query(
    "dedup_sorted_neighborhood",
    extra=True,
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id AS id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS sk,
             list_distinct({_SQL_TOKS}) AS toks
      FROM documents
    ),
    ranked AS (
      SELECT id, toks, ROW_NUMBER() OVER (ORDER BY sk, id) - 1 AS rk
      FROM keyed
    ),
    scored AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
             CAST(len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS uni
      FROM ranked a JOIN ranked b
        ON b.rk BETWEEN a.rk + 1 AND a.rk + 3
    )
    SELECT id_a, id_b, inter, uni,
           CAST(FLOOR((2 * inter * 1000000 + uni) / (2.0 * uni))
                AS BIGINT) AS jac_ppm
    FROM scored
    WHERE CAST(FLOOR((2 * inter * 1000000 + uni) / (2.0 * uni))
               AS BIGINT) >= 500000
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (operators/dedup.py:
    sorted_neighborhood_pairs): the classic ER blocking — total order by
    normalized text, pair each row with its next 3 neighbors, verify by
    exact distinct-token Jaccard >= 0.5. Candidate count is EXACTLY
    n*window whatever the data does (the hardest cap of any blocking
    scheme; the trade — first-character sensitivity — is documented on
    the operator). Global rank via the dense-ids device, never a
    single-partition window; the Spark side and this oracle agree on
    the full verified relation, hash-exact.
    """
    from ..operators.dedup import sorted_neighborhood_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return sorted_neighborhood_pairs(docs, window=3, threshold_ppm=500_000)


@query(
    "dedup_incremental_components",
    extra=True,
    oracle=_SQL_COMPONENTS_CTES + """
    SELECT doc_id, component_id FROM comp
    """,
)
def dedup_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components (operators/incremental.py:
    incremental_components): docs with doc_id % 5 == 2 play today's
    ingest batch; yesterday's labels come from min-label propagation
    over old-old pairs only, and today's new edges (any pair touching a
    new doc) fold in by CONTRACTION — old components collapse to their
    min-id label node, propagation runs on the contracted graph of size
    O(|new edges|), never O(|history|). The ORACLE IS THE FULL BATCH
    RECOMPUTE over all pairs (the dedup_components closure CTEs
    verbatim), so the hash match adjudicates exactly the claim that the
    incremental fold lands on the from-scratch answer.

    Scale: this is the dedup-at-ingest shape for a growing 100 TB
    corpus — daily cost is pair generation for the batch (the
    dedup_incremental_minhash probe) plus label propagation over edges
    the batch actually created; historical components are touched only
    through the contraction map join."""
    from ..operators.dedup import duplicate_components
    from ..operators.incremental import incremental_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_new_a = F.pmod(F.col("id_a"), F.lit(5)) == 2
    is_new_b = F.pmod(F.col("id_b"), F.lit(5)) == 2
    # one pair computation feeds both eras (pairwise jaccard is
    # corpus-independent, so old-old pairs here == pairs over the old
    # corpus alone); checkpoint for the two consumers
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).localCheckpoint()
    old_pairs = pairs.where(~is_new_a & ~is_new_b)
    new_pairs = pairs.where(is_new_a | is_new_b)
    old_labels = duplicate_components(old_pairs)
    return incremental_components(old_labels, new_pairs)


@query(
    "dedup_fellegi_sunter",
    extra=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, source, n_chars, {_SQL_TOKS} AS toks
                  FROM documents),
    shg AS (SELECT doc_id, lang, source, n_chars, {_SQL_SHINGLES} AS sh
            FROM toks),
    hsh AS (SELECT doc_id, lang, source, n_chars,
                   {_SQL_SHINGLE_HASHES} AS hs FROM shg),
    sk AS (SELECT doc_id, lang, source, n_chars, hs,
                  list_sort(hs)[1:8] AS sk8 FROM hsh),
    post AS (SELECT doc_id, unnest(sk8) AS h FROM sk),
    big AS (SELECT h FROM post GROUP BY h HAVING COUNT(*) > 64),
    postk AS (
      SELECT p.doc_id, p.h FROM post p
      WHERE NOT EXISTS (SELECT 1 FROM big WHERE big.h = p.h)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM postk a JOIN postk b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    cmp AS (
      SELECT c.id_a, c.id_b,
        CASE WHEN x.lang = y.lang THEN 1 ELSE 0 END AS g_lang,
        CASE WHEN x.source = y.source THEN 1 ELSE 0 END AS g_src,
        CASE WHEN ABS(x.n_chars - y.n_chars) * 10
                  <= GREATEST(x.n_chars, y.n_chars) THEN 1 ELSE 0 END AS g_len,
        CASE WHEN len(list_intersect(x.sk8, y.sk8)) >= 4
             THEN 1 ELSE 0 END AS g_sk,
        CASE WHEN len(list_intersect(x.hs, y.hs)) * 2
                  >= len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))
             THEN 1 ELSE 0 END AS pseudo_match
      FROM cand c
      JOIN sk x ON x.doc_id = c.id_a
      JOIN sk y ON y.doc_id = c.id_b
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nc,
             CAST(SUM(pseudo_match) AS BIGINT) AS nm,
             CAST(SUM(g_lang * pseudo_match) AS BIGINT) AS m1,
             CAST(SUM(g_src * pseudo_match) AS BIGINT) AS m2,
             CAST(SUM(g_len * pseudo_match) AS BIGINT) AS m3,
             CAST(SUM(g_sk * pseudo_match) AS BIGINT) AS m4,
             CAST(SUM(g_lang * (1 - pseudo_match)) AS BIGINT) AS u1,
             CAST(SUM(g_src * (1 - pseudo_match)) AS BIGINT) AS u2,
             CAST(SUM(g_len * (1 - pseudo_match)) AS BIGINT) AS u3,
             CAST(SUM(g_sk * (1 - pseudo_match)) AS BIGINT) AS u4
      FROM cmp
    ),
    w AS (
      SELECT *, nc - nm AS nu FROM st
    ),
    ww AS (
      SELECT
        CAST(ROUND(1000000 * LN(((m1 + 1) * (nu + 2))::DOUBLE
                                / ((nm + 2) * (u1 + 1)))) AS BIGINT) AS wa1,
        CAST(ROUND(1000000 * LN(((nm - m1 + 1) * (nu + 2))::DOUBLE
                                / ((nm + 2) * (nu - u1 + 1)))) AS BIGINT) AS wd1,
        CAST(ROUND(1000000 * LN(((m2 + 1) * (nu + 2))::DOUBLE
                                / ((nm + 2) * (u2 + 1)))) AS BIGINT) AS wa2,
        CAST(ROUND(1000000 * LN(((nm - m2 + 1) * (nu + 2))::DOUBLE
                                / ((nm + 2) * (nu - u2 + 1)))) AS BIGINT) AS wd2,
        CAST(ROUND(1000000 * LN(((m3 + 1) * (nu + 2))::DOUBLE
                                / ((nm + 2) * (u3 + 1)))) AS BIGINT) AS wa3,
        CAST(ROUND(1000000 * LN(((nm - m3 + 1) * (nu + 2))::DOUBLE
                                / ((nm + 2) * (nu - u3 + 1)))) AS BIGINT) AS wd3,
        CAST(ROUND(1000000 * LN(((m4 + 1) * (nu + 2))::DOUBLE
                                / ((nm + 2) * (u4 + 1)))) AS BIGINT) AS wa4,
        CAST(ROUND(1000000 * LN(((nm - m4 + 1) * (nu + 2))::DOUBLE
                                / ((nm + 2) * (nu - u4 + 1)))) AS BIGINT) AS wd4
      FROM w
    )
    SELECT c.id_a, c.id_b,
           CAST(c.g_lang AS INTEGER) AS g_lang,
           CAST(c.g_src AS INTEGER) AS g_src,
           CAST(c.g_len AS INTEGER) AS g_len,
           CAST(c.g_sk AS INTEGER) AS g_sk,
           CAST(c.pseudo_match AS INTEGER) AS pseudo_match,
           CAST(c.g_lang * ww.wa1 + (1 - c.g_lang) * ww.wd1
              + c.g_src * ww.wa2 + (1 - c.g_src) * ww.wd2
              + c.g_len * ww.wa3 + (1 - c.g_len) * ww.wd3
              + c.g_sk * ww.wa4 + (1 - c.g_sk) * ww.wd4 AS BIGINT)
             AS score_micro
    FROM cmp c CROSS JOIN ww
    """,
)
def dedup_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage — the SCORING step of
    entity resolution, completing the family whose candidate step is
    dedup_sorted_neighborhood / the LSH blockers: candidate pairs from a
    bottom-8 shingle-sketch posting join, per-pair field-agreement vector
    (lang, source, length-within-10% via cross-multiplied integers,
    sketch-overlap >= 4), and per-field log-likelihood weights
    ln(m_k/u_k) / ln((1-m_k)/(1-u_k)) ESTIMATED FROM THE DATA with
    add-one smoothing — pseudo-labels are shingle-Jaccard >= 1/2 on the
    candidate space (the textbook move when no hand labels exist; the
    comparison space is the blocked candidates, as FS prescribes). Each
    weight is ONE integer-product ratio, one IEEE division, one ln,
    ROUND-snapped to micro-units — engine-exact; the score is an integer
    sum of snapped weights.

    Scale: blocking emits 8 postings/doc (bucket sizes bounded by
    near-dup group sizes; boilerplate-skewed corpora apply the
    max_bucket_size anti-join cap exactly as the minhash blockers do);
    the m/u relation is ONE 1-row aggregate broadcast back; scoring is a
    map-side expression over candidates."""
    from ..operators.dedup import shingle_hashes, shingles

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    sk = fan_out(docs).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        shingle_hashes(shingles("text", 3)).alias("hs"),
    ).withColumn("sk8", F.slice(F.array_sort("hs"), 1, 8)).localCheckpoint()
    # ^ localCheckpoint: sk feeds FIVE consumers (post -> overflow/a/b,
    # plus the x and y pair sides) and the md5-per-shingle projection is
    # the dominant cost — uncheckpointed, the whole shingle pipeline
    # re-derived per consumer (the CDC 28x re-inlining class; the
    # round-9 scale probe measured this query's blocking at a flat ~42 s
    # independent of corpus scale — all constant recompute, ~6 s after).
    post = sk.select("doc_id", F.explode("sk8").alias("h"))
    # bottom-of-corpus sketch hashes concentrate (the globally smallest
    # shingle hashes post in MANY docs), so uncapped buckets go quadratic
    # — the minhash blockers' max_bucket_size anti-join, same device
    # (scale_smoke's fs_blocking x8 OOMed without it)
    overflow = (
        post.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 64)
        .select("h")
    )
    post = post.join(F.broadcast(overflow), "h", "left_anti")
    a = post.select(F.col("doc_id").alias("id_a"), "h")
    b = post.select(F.col("doc_id").alias("id_b"), "h")
    cand = (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    x = sk.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("src_a"),
        F.col("n_chars").alias("len_a"),
        F.col("hs").alias("hs_a"),
        F.col("sk8").alias("sk_a"),
    )
    y = sk.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("src_b"),
        F.col("n_chars").alias("len_b"),
        F.col("hs").alias("hs_b"),
        F.col("sk8").alias("sk_b"),
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    cmp = (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("lang_a") == F.col("lang_b")).cast("int").alias("g_lang"),
            (F.col("src_a") == F.col("src_b")).cast("int").alias("g_src"),
            (
                F.abs(F.col("len_a") - F.col("len_b")) * 10
                <= F.greatest("len_a", "len_b")
            )
            .cast("int")
            .alias("g_len"),
            (F.size(F.array_intersect("sk_a", "sk_b")) >= 4)
            .cast("int")
            .alias("g_sk"),
            (inter * 2 >= F.size("hs_a") + F.size("hs_b") - inter)
            .cast("int")
            .alias("pseudo_match"),
        )
        .localCheckpoint()  # feeds the m/u aggregate AND the scoring pass
    )
    st = cmp.agg(
        F.count(F.lit(1)).alias("nc"),
        F.sum("pseudo_match").cast("long").alias("nm"),
        *[
            F.sum(F.col(g) * F.col("pseudo_match")).cast("long").alias(f"m{i}")
            for i, g in enumerate(("g_lang", "g_src", "g_len", "g_sk"), 1)
        ],
        *[
            F.sum(F.col(g) * (1 - F.col("pseudo_match")))
            .cast("long")
            .alias(f"u{i}")
            for i, g in enumerate(("g_lang", "g_src", "g_len", "g_sk"), 1)
        ],
    ).withColumn("nu", F.col("nc") - F.col("nm"))

    def wa(i):
        return F.round(
            1000000
            * F.log(
                ((F.col(f"m{i}") + 1) * (F.col("nu") + 2)).cast("double")
                / ((F.col("nm") + 2) * (F.col(f"u{i}") + 1))
            ),
            0,
        ).cast("long")

    def wd(i):
        return F.round(
            1000000
            * F.log(
                (
                    (F.col("nm") - F.col(f"m{i}") + 1) * (F.col("nu") + 2)
                ).cast("double")
                / ((F.col("nm") + 2) * (F.col("nu") - F.col(f"u{i}") + 1))
            ),
            0,
        ).cast("long")

    ww = st.select(
        *[wa(i).alias(f"wa{i}") for i in range(1, 5)],
        *[wd(i).alias(f"wd{i}") for i in range(1, 5)],
    )
    score = sum(
        F.col(g) * F.col(f"wa{i}") + (1 - F.col(g)) * F.col(f"wd{i}")
        for i, g in enumerate(("g_lang", "g_src", "g_len", "g_sk"), 1)
    )
    return cmp.crossJoin(F.broadcast(ww)).select(
        "id_a",
        "id_b",
        "g_lang",
        "g_src",
        "g_len",
        "g_sk",
        "pseudo_match",
        score.cast("long").alias("score_micro"),
    )


def _cdc_chunks_sql(src: str, prefix: str = "") -> str:
    """DuckDB CTE chain computing the content-defined chunk relation
    ``{prefix}ch(doc_id, chunk)`` of relation ``src(doc_id, text)`` —
    shared by the batch rollup oracle and the streaming probe oracle so
    both replay operators/dedup.cdc_chunks value-for-value."""
    q = """
    {px}docs AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
      FROM {src} WHERE length(text) >= 1
    ),
    {px}b AS (
      SELECT doc_id, text, n,
             CASE WHEN n >= 16 THEN list_filter(generate_series(16, n),
                  p -> substr(md5(substr(text, CAST(p - 15 AS INT), 16)),
                              1, 2) <= '03')
                  ELSE [] END AS bnds
      FROM {px}docs
    ),
    {px}e AS (
      SELECT doc_id, text,
             CASE WHEN len(bnds) > 0 AND bnds[-1] = n THEN bnds
                  ELSE list_append(bnds, n) END AS ends
      FROM {px}b
    ),
    {px}ch AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(ends)),
        i -> substr(text,
             CAST((CASE WHEN i = 1 THEN 0 ELSE ends[i - 1] END) + 1 AS INT),
             CAST(ends[i]
                  - (CASE WHEN i = 1 THEN 0 ELSE ends[i - 1] END) AS INT))))
        AS chunk
      FROM {px}e
    )"""
    return q.format(src=src, px=prefix)


@query(
    "dedup_cdc_chunks",
    # graded since round 9 third session: the sub-document dedup tier
    oracle="WITH" + _cdc_chunks_sql("documents") + """
    SELECT md5(chunk) AS chunk_md5,
           CAST(MAX(length(chunk)) AS BIGINT) AS chunk_len,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ch
    GROUP BY 1
    HAVING COUNT(*) >= 2
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (operators/dedup.py:cdc_chunk_stats):
    chunk every document at content-chosen boundaries (md5-of-16-gram
    prefix <= '03' → 1/64 of positions, ~64-char chunks), digest chunks,
    emit every chunk content shared >= 2 times across the corpus — the
    sub-document dedup tier the document-level hashes can't see (the
    planted near-dup pairs share most of their chunks; 150 duplicated
    groups at sf0.001, 1520 at sf0.1). The oracle replays boundary
    detection, chunk extraction and the digest rollup value-for-value.
    """
    from ..operators.dedup import cdc_chunk_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return cdc_chunk_stats(docs)


@query(
    "dedup_edit_distance_join",
    # graded r12-r13 (green in CORRECTNESS_r12/r13); rotated to extra in
    # r14 to free a slot for never-graded families (ROTATION.md)
    extra=True,
    # the oracle is the UNPRUNED brute definition over the distinct-name
    # vocabulary — the hash certifies both the length banding AND the
    # threshold-pruned Levenshtein DP (the apriori device)
    oracle="""
    WITH v AS (
      SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n
      FROM part GROUP BY 1
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           a.n AS n_a, b.n AS n_b,
           CAST(a.n * b.n AS BIGINT) AS n_row_pairs
    FROM v a JOIN v b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
)
def dedup_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE (Levenshtein <= 3) string-similarity self-join — the
    typo/OCR-noise member of the record-linkage family (jaccard/minhash
    catch token-level overlap; edit distance catches character-level
    corruption, the dominant noise in scanned/OCR corpora like the
    reference's ALTO sources). Two-level pruning, both certified by the
    unpruned brute oracle:

    1. REDUCE TO THE VOCABULARY: the pair search runs over DISTINCT
       strings with multiplicities (the BPE/KN device) — the vocabulary
       is bounded by the string-generation process, not the corpus, so
       the quadratic stage's input does not grow with rows; pair
       multiplicity is recovered as n_a * n_b.
    2. LENGTH BANDING: |len_a - len_b| <= 3 is implied by dist <= 3, so
       names join on a floor(len/4) bucket key with the left side
       probing {b-1, b, b+1} — each right name has ONE bucket, so every
       qualifying pair is produced exactly once, and candidate
       enumeration is bounded by per-band vocabulary density.
    3. The DP itself is threshold-pruned: Spark's levenshtein(l, r, 3)
       abandons rows past distance 3 (banded Ukkonen DP) returning -1,
       which the filter drops — equivalent to DuckDB's full DP + the
       <= 3 predicate.

    Scale: vocabulary-bounded candidate set + O(len * threshold) per
    candidate; the corpus-sized relation is touched only by the
    distinct-count aggregation (map-side partial).
    """
    v = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("len", F.length("name"))
        .localCheckpoint()  # both join sides read it
    )
    band = F.floor(F.col("len") / 4).cast("long")
    left = v.select(
        F.col("name").alias("name_a"),
        F.col("n").alias("n_a"),
        F.explode(
            F.array(band - 1, band, band + 1)
        ).alias("__band"),
    )
    right = v.select(
        F.col("name").alias("name_b"),
        F.col("n").alias("n_b"),
        band.alias("__band2"),
    )
    d = F.levenshtein(F.col("name_a"), F.col("name_b"), 3)
    return (
        left.join(
            right.hint("shuffle_hash"),
            (F.col("__band") == F.col("__band2"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .where(d >= 0)
        .select(
            "name_a",
            "name_b",
            d.cast("long").alias("dist"),
            "n_a",
            "n_b",
            (F.col("n_a") * F.col("n_b")).cast("long").alias("n_row_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# Phonetic blocking (round 12)
# ---------------------------------------------------------------------------

# Simplified-soundex letter->digit codes for a..z (b,f,p,v=1; c,g,j,k,q,
# s,x,z=2; d,t=3; l=4; m,n=5; r=6; vowels+h,w,y=0). DIFFERENCE from full
# soundex, documented: h/w are treated like vowels (they break duplicate
# runs instead of being transparent) — the rule is then expressible as
# translate + per-digit run-collapse regexps in BOTH engines (RE2, which
# DuckDB uses, supports no backreferences, so '(d)\1+' is out).
_PHONETIC_CODES = "01230120022455012623010202"
_AZ = "abcdefghijklmnopqrstuvwxyz"


def _soundex_oracle() -> str:
    return """
    WITH v AS (
      SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n
      FROM part GROUP BY 1
    ),
    norm AS (
      SELECT name, n, regexp_replace(lower(name), '[^a-z]', '', 'g') AS w
      FROM v
    ),
    dig AS (
      SELECT name, n, w, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(translate(w, '{AZ}', '{CODES}'), '00+', '0', 'g'), '11+', '1', 'g'), '22+', '2', 'g'), '33+', '3', 'g'), '44+', '4', 'g'), '55+', '5', 'g'), '66+', '6', 'g') AS collapsed
      FROM norm
    ),
    keyed AS (
      SELECT name, n,
        upper(substr(w, 1, 1)) ||
        substr(
          replace(
            CASE WHEN substr(translate(w, '{AZ}', '{CODES}'), 1, 1) <> '0'
                 THEN substr(collapsed, 2)
                 ELSE collapsed
            END, '0', '') || '000', 1, 3) AS pkey
      FROM dig
    )
    SELECT a.pkey, a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM keyed a JOIN keyed b
      ON a.pkey = b.pkey AND a.name < b.name
    """.replace("{AZ}", _AZ).replace("{CODES}", _PHONETIC_CODES)


@query("q_soundex_blocking", extra=True, oracle=_soundex_oracle())
def q_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC BLOCKING for record linkage — the sound-alike member of
    the linkage family (dedup_edit_distance_join bands by LENGTH and
    certifies a character-DP; Fellegi-Sunter weighs agreement patterns;
    phonetic keys block on how a name SOUNDS, catching transpositions
    and vowel swaps length-banding misses). Names collapse to a
    simplified-soundex key (first letter + first 3 consonant classes,
    duplicate runs collapsed — h/w treated as vowels so the whole rule
    is translate + one backreference regexp, identical semantics in
    Spark's Java regex and DuckDB's RE2); candidate pairs are generated
    ONLY within a key block and annotated with their edit distance.

    Scale: the pair search runs on the DISTINCT-name vocabulary (the
    reduce-to-vocabulary device every linkage query here uses), and
    within blocks only — Σ|block|² of a phonetic key over real name
    distributions is the classic blocking bound; row multiplicities ride
    along as n_a/n_b for the final fan-out accounting.
    """
    from ..functions.scale import fan_out as _fan

    v = (
        _fan(load_table(spark, sf_dir, "part"))
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = F.regexp_replace(F.lower(F.col("name")), "[^a-z]", "")
    digits = F.translate(w, _AZ, _PHONETIC_CODES)
    collapsed = digits
    for _d in "0123456":
        collapsed = F.regexp_replace(collapsed, _d + _d + "+", _d)
    tail = F.when(
        F.substring(digits, 1, 1) != "0", F.expr("substr(collapsed, 2)")
    ).otherwise(F.col("collapsed"))
    keyed = (
        v.withColumn("collapsed", collapsed)
        .withColumn(
            "pkey",
            F.concat(
                F.upper(F.substring(w, 1, 1)),
                F.substring(
                    F.concat(F.replace(tail, F.lit("0"), F.lit("")), F.lit("000")),
                    1,
                    3,
                ),
            ),
        )
        .select("name", "n", "pkey")
        .localCheckpoint()  # both join sides read it (self-join rule)
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return a.join(
        F.broadcast(b),
        (F.col("a.pkey") == F.col("b.pkey"))
        & (F.col("a.name") < F.col("b.name")),
    ).select(
        F.col("a.pkey").alias("pkey"),
        F.col("a.name").alias("name_a"),
        F.col("b.name").alias("name_b"),
        F.levenshtein(F.col("a.name"), F.col("b.name")).cast("long").alias("dist"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )
