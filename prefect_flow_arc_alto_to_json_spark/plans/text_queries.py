"""Text-analysis operators as driver-checked queries over ``documents``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import (
    LANG_PRIORITY,
    STOPWORDS,
    bottomk_sketch,
    char_stats,
    content_fingerprint,
    language_id,
    mean_token_length,
    quality_score,
    stopword_hits,
    token_count,
)
from ..functions.scalar import token_array
from ..functions.scale import fan_out
from ..sources import load_table
from .registry import query

_SQL_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '')"
)


@query(
    "text_stats",
    # rotated to the pytest tier in round 7: text_quality grades the same
    # column-stats surface; the slot went to the supervised-classifier
    # family (text_naive_bayes)
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    SELECT
      doc_id,
      len(toks) AS n_tokens,
      len(text) AS n_chars,
      ROUND(len(regexp_extract_all(text, '[A-Za-z]')) / len(text)::DOUBLE, 6) AS alpha_ratio,
      ROUND(len(regexp_extract_all(text, '[0-9]')) / len(text)::DOUBLE, 6) AS digit_ratio,
      ROUND(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')) / len(text)::DOUBLE, 6) AS punct_ratio,
      ROUND(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks), 6) AS mean_token_len
    FROM t WHERE len(text) > 0
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics (all JVM regexp/HOF built-ins)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    stats = char_stats("text")
    return docs.where(F.length("text") > 0).select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        stats["n_chars"].alias("n_chars"),
        stats["alpha_ratio"].alias("alpha_ratio"),
        stats["digit_ratio"].alias("digit_ratio"),
        stats["punct_ratio"].alias("punct_ratio"),
        mean_token_length("text").alias("mean_token_len"),
    )


def _sql_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, t -> list_contains([{words}], t)))"


_SQL_LANG_CASE = " ".join(
    f"WHEN {lang}_hits > 0 AND {lang}_hits = "
    f"greatest({', '.join(f'{lg}_hits' for lg in LANG_PRIORITY)}) THEN '{lang}'"
    for lang in LANG_PRIORITY
)


@query(
    "text_langid",
    # demoted to the extra tier (round 6 late): the text family held three
    # graded slots; this one funds driver-certification of the semantic
    # dedup flagship. The identical DuckDB check still runs in CI.
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
    h AS (
      SELECT doc_id, lang,
        {", ".join(f"{lang}_hits" for lang in LANG_PRIORITY)}
      FROM (
        SELECT doc_id, lang,
          {", ".join(f"{_sql_hits(lang)} AS {lang}_hits" for lang in LANG_PRIORITY)}
        FROM t
      )
    )
    SELECT doc_id, lang,
      CASE {_SQL_LANG_CASE} ELSE 'und' END AS predicted_lang,
      {", ".join(f"CAST({lang}_hits AS INTEGER) AS {lang}_hits" for lang in LANG_PRIORITY)}
    FROM h
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID next to the ground-truth ``lang``
    column (the synthetic corpus is word soup, so the interesting contract
    is determinism, not accuracy)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    out = docs.select(
        "doc_id",
        "lang",
        language_id("text").alias("predicted_lang"),
        *[stopword_hits("text", lang).alias(f"{lang}_hits") for lang in LANG_PRIORITY],
    )
    return out


#: the full quality-score derivation as reusable CTE text — shared by
#: text_quality (the score itself) and text_quality_auc (its evaluation)
_QUALITY_CTES = f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
        CAST(len(text) AS BIGINT) AS n,
        CAST(len(toks) AS BIGINT) AS ntok,
        CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS a,
        CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')) AS BIGINT) AS p,
        CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS sl
      FROM t
    ),
    u AS (
      -- integer micro-units (1e-6), half-up via floor((2*x*1e6 + d) / (2*d)):
      -- bit-identical to the Spark expression, no float rounding anywhere
      SELECT doc_id,
        CASE WHEN ntok >= 10 AND ntok <= 5000 THEN 1000000
             WHEN ntok > 0 THEN 500000 ELSE 0 END AS lu,
        CASE WHEN n > 0 THEN (2 * a * 1000000 + n) // (2 * n) ELSE 0 END AS au,
        CASE WHEN n > 0 THEN (2 * p * 1000000 + n) // (2 * n) ELSE 0 END AS pu,
        CASE WHEN ntok > 0 THEN (2 * sl * 1000000 + ntok) // (2 * ntok) END AS mu
      FROM m
    ),
    q AS (
      SELECT doc_id,
        CAST(3 * lu + 3 * au
             + 2 * (CASE WHEN pu > 200000 THEN 0 ELSE 1000000 END)
             + 2 * (CASE WHEN mu >= 3000000 AND mu <= 12000000 THEN 1000000 ELSE 500000 END)
          AS DOUBLE) / 10000000.0 AS quality
      FROM u
    )
"""


@query(
    "text_quality",
    extra=True,  # rotated out round 10 wave 2 (quality scoring graded inside pipeline_clean_corpus; text family keeps naive_bayes + bpe graded)
    oracle=_QUALITY_CTES + """
    SELECT doc_id, quality FROM q
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score — the filter stage of a data pipeline."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", quality_score("text").alias("quality"))


#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks
#: (the GPT-2 pre-tokenizer's shape without the unicode categories —
#: identical semantics in Java regex and DuckDB's RE2).
_BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


@query(
    "text_token_counts",
    extra=True,
    oracle=f"""
    SELECT doc_id,
      CAST(len({_SQL_TOKS}) AS BIGINT) AS n_ws_tokens,
      CAST(len(regexp_extract_all(text, '{_BPE_REGEX}')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words vs a BPE-ish piece regex —
    the cost estimator every training-data pipeline runs first. One narrow
    regexp pass, no shuffle."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_REGEX), 0)).cast("long").alias(
            "n_bpe_tokens"
        ),
    )


@query(
    "text_fingerprint",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, text,
        list_sort(list_transform(
          list_distinct(CASE WHEN len(toks) >= 3 THEN
            [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
          ELSE [] END),
          s -> md5_number_lower(s) % 2147483647)) AS sh
      FROM t
    )
    SELECT doc_id,
      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
      array_to_string(sh[1:8], ',') AS sketch
    FROM s
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-text stable hash + bottom-8
    shingle-hash sketch (string carriers for cross-engine u64 safety)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        content_fingerprint("text").alias("fingerprint"),
        F.array_join(bottomk_sketch("text", 8), ",").alias("sketch"),
    )


@query(
    "text_train_val_split",
    extra=True,
    oracle="""
    WITH s AS (
      SELECT doc_id,
        CASE WHEN md5_number_lower('split-v1:' || CAST(doc_id AS VARCHAR))
                  % 2147483647 % 100 < 90
             THEN 'train' ELSE 'val' END AS split
      FROM documents
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM s GROUP BY split
    """,
)
def text_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based 90/10 train/val split (salted md5 residue,
    no RNG — reproducible across engines and re-runs)."""
    from ..operators.textstats import split_by_hash

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", split_by_hash("doc_id"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_id"),
            F.max("doc_id").cast("long").alias("max_id"),
        )
    )


@query(
    "text_extract_entities",
    extra=True,
    oracle="""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or user' || CAST(doc_id AS VARCHAR)
                       || '@mail.example.org see https://example.org/doc/'
                       || CAST(doc_id AS VARCHAR) || ' and http://archive.example.com/x'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'https?://[a-z0-9./-]+')) AS INTEGER)
             AS n_urls,
           CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+')) AS INTEGER)
             AS n_emails,
           COALESCE(regexp_extract_all(text, 'https?://[a-z0-9./-]+')[1], '')
             AS first_url,
           COALESCE(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+')[1], '')
             AS first_email
    FROM corpus
    """,
)
def text_extract_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity extraction over documents (URL / email pulls via
    ``regexp_extract_all``) — the PII-adjacent surface every training-data
    pipeline needs before redaction or link-graph construction. A
    deterministic plant (25% of docs get synthetic contact lines) keeps the
    query non-vacuous on the lorem corpus; patterns are restricted to the
    regex subset with identical semantics in Java regex (Spark) and RE2
    (DuckDB). Shuffle-free narrow scan — at 100 TB this is a single
    codegen'd pass."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org see https://example.org/doc/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://archive.example.com/x"),
        ),
    ).otherwise(F.col("text"))
    corpus = fan_out(docs).select("doc_id", planted.alias("text"))
    # idx=0 = whole match (Spark defaults to capture group 1)
    urls = F.expr(r"regexp_extract_all(text, 'https?://[a-z0-9./-]+', 0)")
    emails = F.expr(r"regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+', 0)")
    return corpus.select(
        "doc_id",
        F.size(urls).alias("n_urls"),
        F.size(emails).alias("n_emails"),
        F.coalesce(F.get(urls, 0), F.lit("")).alias("first_url"),
        F.coalesce(F.get(emails, 0), F.lit("")).alias("first_email"),
    )


_BM25_TERMS = ("dup", "merge", "scan")


def _bm25_oracle(k: int = 10) -> str:
    """BM25 top-``k`` oracle SQL; embeddable as a subquery (the hybrid-RRF
    oracle reuses it at k=20, plans/similarity_queries.py:sim_hybrid_rrf)."""
    tf_cols = ",\n           ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n           ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    parts = " + ".join(
        f"ln((CAST(s.n AS DOUBLE) - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0)"
        f" * CAST(m.tf{i} AS DOUBLE) * 2.2"
        f" / (CAST(m.tf{i} AS DOUBLE)"
        f" + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(m.dl AS DOUBLE)"
        f" / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           {tf_cols}
      FROM t
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS BIGINT) AS sumdl,
           {df_cols}
      FROM m
    )
    SELECT doc_id, bm25 FROM (
      SELECT m.doc_id, ROUND({parts}, 6) AS bm25 FROM m, s
    ) WHERE bm25 > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {k}
    """


@query("text_bm25_topk", extra=True, oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval top-10 for a fixed 3-term query — the
    keyword-search sibling of the ANN operators (hybrid retrieval = this
    next to sim_*_topk). One narrow scan + two broadcast stat aggregates +
    global top-k; the oracle recomputes tf/df/avgdl and the
    Robertson-Sparck-Jones idf with the identical operation order, so
    scores hash-match to 6 decimals."""
    from ..operators.textstats import bm25_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, list(_BM25_TERMS), k=10)


@query(
    "text_top_tokens",
    extra=True,
    oracle=f"""
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT 50
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: top-50 tokens by occurrence count with
    document frequency riding along — the vocabulary/stopword profile
    every corpus build starts from (and the exact-count baseline a
    Count-Min/Misra-Gries sketch would approximate at 100 TB).

    Scale: explode → groupBy(token) benefits from partial (map-side)
    aggregation, so the shuffle carries one row per distinct token per
    partition, not one per occurrence; the top-50 is a
    TakeOrderedAndProject (k rows per partition), never a full sort."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(token_array("text")).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "tok")
        .limit(50)
    )


@query(
    "text_unigram_logprob",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM counts),
    micro AS (
      SELECT doc_id,
             CAST(ROUND(ln(c / n_total::DOUBLE) * 1000000) AS BIGINT) AS m
      FROM tok JOIN counts USING (tok) CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND((CAST(SUM(m) AS BIGINT) / COUNT(*)::DOUBLE) / 1000000, 6)
             AS mean_logprob
    FROM micro GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained unigram LM quality score: per-doc mean token
    log-probability, the classic LM quality filter. Determinism rides on
    integer micro-unit snapping of per-token ln(p) before summation (see
    operators/textstats.unigram_logprob); the oracle replays count, total
    and micro-snap exactly."""
    from ..operators.textstats import unigram_logprob

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(docs)


@query(
    "text_js_divergence",
    extra=True,
    oracle=f"""
    WITH tok AS (
      SELECT CASE WHEN length(source) = 4 THEN 'a' ELSE 'b' END AS grp,
             unnest({_SQL_TOKS}) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok,
             SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS n_b
      FROM tok GROUP BY tok
    ),
    tot AS (SELECT SUM(n_a) AS na, SUM(n_b) AS nb FROM counts),
    probs AS (
      SELECT tok, n_a, n_b,
             CAST(n_a AS DOUBLE) / na AS pa,
             CAST(n_b AS DOUBLE) / nb AS pb
      FROM counts CROSS JOIN tot
    ),
    terms AS (
      SELECT tok, n_a, n_b,
             CASE WHEN pa = 0 THEN 0 ELSE
               CAST(ROUND(pa * ln(pa / ((pa + pb) / 2)) * 1000000) AS BIGINT)
             END AS kl_a_micro,
             CASE WHEN pb = 0 THEN 0 ELSE
               CAST(ROUND(pb * ln(pb / ((pa + pb) / 2)) * 1000000) AS BIGINT)
             END AS kl_b_micro
      FROM probs
    )
    SELECT tok,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           kl_a_micro, kl_b_micro,
           CAST(ROUND((SUM(kl_a_micro) OVER () + SUM(kl_b_micro) OVER ())
                      / 2.0) AS BIGINT) AS js_total_micro
    FROM terms
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two corpus halves' TOKEN
    distributions (sources src0-src9 vs src10-src19) — the
    vocabulary-level drift/contamination gate beside q_psi_drift's
    feature-histogram one. Per-token KL(p||m) terms (m the mixture) are
    micro-unit snapped before the totals, the unigram_logprob determinism
    device, so the ln() survives cross-engine hashing; absent-token terms
    are exactly 0 by the 0·ln0 convention, encoded as an explicit CASE on
    both sides. Output: one row per union-vocab token with both counts
    and both KL contributions, plus the symmetric JS total.

    Scale: two scans collapse to ONE (the group tag is a column, not a
    split); the shuffle carries (token, partial counts) — vocabulary-
    sized, not corpus-sized; the probability/term math is a narrow map
    and the total is a window over vocab rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.when(F.length("source") == 4, F.lit("a")).otherwise("b").alias("grp"),
        F.explode(token_array("text")).alias("tok"),
    )
    counts = tok.groupBy("tok").agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).alias("n_b"),
    )
    tot = counts.agg(
        F.sum("n_a").alias("na"), F.sum("n_b").alias("nb")
    )
    probs = counts.crossJoin(F.broadcast(tot)).select(
        "tok",
        "n_a",
        "n_b",
        (F.col("n_a").cast("double") / F.col("na")).alias("pa"),
        (F.col("n_b").cast("double") / F.col("nb")).alias("pb"),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    terms = probs.select(
        "tok",
        "n_a",
        "n_b",
        F.when(F.col("pa") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.round(F.col("pa") * F.log(F.col("pa") / m) * 1000000, 0).cast(
                "long"
            )
        )
        .alias("kl_a_micro"),
        F.when(F.col("pb") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.round(F.col("pb") * F.log(F.col("pb") / m) * 1000000, 0).cast(
                "long"
            )
        )
        .alias("kl_b_micro"),
    )
    # total via 1-row aggregate + broadcast, NOT an unpartitioned window:
    # the relation is vocabulary-sized, and a global window would drag the
    # whole vocab through one partition
    total = terms.agg(
        F.round(
            (F.sum("kl_a_micro") + F.sum("kl_b_micro")) / 2.0, 0
        )
        .cast("long")
        .alias("js_total_micro")
    )
    return terms.crossJoin(F.broadcast(total))


@query(
    "text_bigram_logprob",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      WHERE len(toks) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
    c1 AS (
      SELECT tok AS w1, COUNT(*) AS n1
      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
    ),
    vocab AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(toks) AS tok FROM t)
    ),
    micro AS (
      SELECT bg.doc_id,
             CAST(ROUND(ln(CAST(n2 + 1 AS DOUBLE)
                           / CAST(n1 + v AS DOUBLE)) * 1000000) AS BIGINT)
               AS m
      FROM bg
      JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
      JOIN c1 ON bg.w1 = c1.w1
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND((CAST(SUM(m) AS BIGINT) / COUNT(*)::DOUBLE) / 1000000, 6)
             AS mean_logprob
    FROM micro GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained BIGRAM LM quality score with add-one smoothing
    — the conditional-probability step up from text_unigram_logprob:
    per-doc mean of ln((c(w1,w2)+1) / (c(w1)+V)). Bigram pairs come from
    a shuffle-free array zip (slice+zip, no window); counts and the
    vocabulary size are corpus aggregates; per-position terms micro-snap
    before summation (the established ln determinism device).

    Scale: the bigram relation is corpus-token-sized but collapses
    map-side into the (w1, w2) count shuffle; scoring joins carry counts,
    not text; V is one broadcast row. This is the standard cheap LM
    filter before a neural perplexity pass.
    """
    from ..functions.scalar import token_array

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", token_array("text").alias("toks")).where(
        F.size("toks") >= 2
    )
    n = F.size("toks")
    bg = t.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, n - 1).alias("w1"),
                F.expr("slice(toks, 2, size(toks) - 1)").alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    toks_flat = docs.select(
        F.explode(token_array("text")).alias("tok")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = toks_flat.groupBy(F.col("tok").alias("w1")).agg(
        F.count(F.lit(1)).alias("n1")
    )
    vocab = toks_flat.agg(F.countDistinct("tok").alias("v"))
    micro = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n2") + 1).cast("double")
                    / (F.col("n1") + F.col("v")).cast("double")
                )
                * 1000000,
                0,
            )
            .cast("long")
            .alias("m"),
        )
    )
    return micro.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            (F.sum("m").cast("double") / F.count(F.lit(1))) / 1000000, 6
        ).alias("mean_logprob"),
    )


@query(
    "text_hashed_features",
    extra=True,
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    )
    SELECT doc_id,
           CAST(md5_number_lower('feat-v1:' || tok) % 2147483647 % 16
                AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tok GROUP BY 1, 2
    """,
)
def text_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer: tokens hashed into 16 buckets (salted
    stable md5 residue, the split_by_hash device), counted per document —
    the fixed-width sparse feature map that feeds linear quality
    classifiers without a vocabulary table. Relational (doc, bucket,
    count) form; zero buckets simply absent. Row-level oracle replays
    hash, bucket and count.

    Scale: no vocabulary state AT ALL is the point — the feature space is
    fixed at write time, so the featurizer is a stateless narrow map +
    one (doc, bucket) partial-agg shuffle, and two corpora featurized
    independently are directly comparable.
    """
    from ..functions.scalar import stable_hash_p31, token_array

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(token_array("text")).alias("tok")
    )
    bucket = F.pmod(
        stable_hash_p31(F.concat(F.lit("feat-v1:"), F.col("tok"))), F.lit(16)
    )
    return tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_tokens")
    )


@query(
    "text_pmi_collocations",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bg AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      WHERE len(toks) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
    uni AS (SELECT unnest(toks) AS tok FROM t),
    c1 AS (SELECT tok, COUNT(*) AS n1 FROM uni GROUP BY tok),
    tot AS (
      SELECT (SELECT COUNT(*) FROM uni) AS nt,
             (SELECT COUNT(*) FROM bg) AS mb
    )
    SELECT c2.w1, c2.w2, CAST(n2 AS BIGINT) AS n_ab,
           CAST(ROUND(ln(
             (CAST(n2 AS DOUBLE) * CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))
             / (CAST(mb AS DOUBLE) * CAST(a.n1 AS DOUBLE)
                * CAST(b.n1 AS DOUBLE))
           ) * 1000000) AS BIGINT) AS pmi_micro
    FROM c2
    JOIN c1 a ON c2.w1 = a.tok
    JOIN c1 b ON c2.w2 = b.tok
    CROSS JOIN tot
    WHERE n2 >= 5
    ORDER BY pmi_micro DESC, c2.w1, c2.w2
    LIMIT 100
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: top-100 adjacent
    token bigrams by PMI = ln(P(ab) / (P(a)·P(b))), support ≥ 5 — the
    corpus-level phrase discovery that feeds tokenizer merge rules and
    stop-phrase lists (the mining complement of text_bigram_logprob's
    per-doc LM scoring). The single final ln() is micro-snapped (the
    established determinism device) and its argument is ONE quotient of
    identically-associated double products, so both engines compute the
    identical double before rounding.

    Scale: bigram and unigram relations collapse map-side into
    vocabulary-sized count shuffles; the PMI joins carry (token, count)
    pairs only — vocab-sized, never corpus-sized (AQE picks broadcast
    when the vocab fits, shuffle-hash otherwise); totals are one
    broadcast row; top-100 is a TakeOrdered, no global sort
    materialization.
    """
    from ..functions.scalar import token_array

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", token_array("text").alias("toks"))
    n = F.size("toks")
    bg = (
        t.where(n >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n - 1).alias("w1"),
                    F.expr("slice(toks, 2, size(toks) - 1)").alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    uni = t.select(F.explode("toks").alias("tok"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("n1"))
    totals = F.broadcast(
        uni.agg(F.count(F.lit(1)).alias("nt")).crossJoin(
            bg.agg(F.count(F.lit(1)).alias("mb"))
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        c2.where(F.col("n2") >= 5)
        .join(c1.withColumnRenamed("tok", "w1").withColumnRenamed("n1", "ca"), "w1")
        .join(c1.withColumnRenamed("tok", "w2").withColumnRenamed("n1", "cb"), "w2")
        .crossJoin(totals)
        .select(
            "w1",
            "w2",
            F.col("n2").cast("long").alias("n_ab"),
            F.round(
                F.log(
                    (d("n2") * d("nt") * d("nt")) / (d("mb") * d("ca") * d("cb"))
                )
                * 1000000,
                0,
            )
            .cast("long")
            .alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(100)
    )


@query(
    "text_weighted_sample",
    extra=True,
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, key_micro FROM (
      SELECT doc_id, n_chars,
             CAST(ROUND(
               ln((md5_number_lower('ws:' || CAST(doc_id AS VARCHAR))
                   % 2147483647 + 1) / 2147483648.0)
               / greatest(n_chars, 1) * 1000000
             ) AS BIGINT) AS key_micro
      FROM documents
    )
    ORDER BY key_micro DESC, doc_id
    LIMIT 50
    """,
)
def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each doc draws a hash-derived uniform u ∈ (0, 1] and
    the top-k by u^(1/w) — equivalently by ln(u)/w, monotone and
    numerically safer — is an exact weighted sample; weight here is
    document length (n_chars), the standard size-proportional corpus
    draw. The key is micro-snapped (the established ln determinism
    device) with a doc_id tiebreak, so the selected set is identical in
    both engines and across reruns — reproducible sampling is what makes
    a training-data draw auditable.

    Scale: one narrow scan computes every key (no RNG state, no
    coordination); top-k is a per-partition TakeOrdered merge — the same
    shape as every deterministic-sampling operator in corpus.py, extended
    to UNEQUAL inclusion probabilities.
    """
    from ..functions.scalar import stable_hash_p31

    docs = load_table(spark, sf_dir, "documents")
    u = (
        stable_hash_p31(
            F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))
        )
        + 1
    ) / F.lit(2147483648.0)
    key = F.round(
        F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)) * 1000000, 0
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            key.alias("key_micro"),
        )
        .orderBy(F.col("key_micro").desc(), "doc_id")
        .limit(50)
    )


@query(
    "text_chunk_overlap",
    extra=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    st AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
             unnest(range(0, len(toks), 24)) AS start_tok
      FROM t
    )
    SELECT doc_id,
           CAST(start_tok // 24 AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least(32, n - start_tok) AS BIGINT) AS n_chunk_toks,
           array_to_string(toks[start_tok + 1 : start_tok + 32], ' ')
             AS chunk_text
    FROM st
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking — the RAG/embedding-input
    chunker (window 32 tokens, stride 24 → 8-token overlap), the
    retrieval complement of text_pack_chunks' training-sequence packing.
    Per document: one row per chunk with its index, token offset, length
    and the re-joined chunk text, replayed token-for-token by the oracle.
    Overlap exists so a span straddling a chunk boundary is fully inside
    at least one chunk — the property retrieval recall depends on.

    Scale: entirely narrow (tokenize → sequence → posexplode → slice,
    all codegen; no shuffle at all) — chunking 100 TB is a map-only pass
    whose output partitioning inherits the scan.
    """
    from ..functions.scalar import token_array

    W, S = 32, 24
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", token_array("text").alias("toks"))
    n = F.size("toks")
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(S))).otherwise(
        F.array().cast("array<int>")
    )
    st = t.select(
        "doc_id", "toks", n.cast("long").alias("n"),
        F.explode(starts).alias("start_tok"),
    )
    return st.select(
        "doc_id",
        (F.col("start_tok") / S).cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.least(F.lit(W).cast("long"), F.col("n") - F.col("start_tok")).alias(
            "n_chunk_toks"
        ),
        F.concat_ws(
            " ", F.slice("toks", F.col("start_tok") + 1, F.lit(W))
        ).alias("chunk_text"),
    )


from ..operators.textindex import phrase_search, phrase_search_oracle_sql  # noqa: E402

_PHRASE = ["table", "scan"]


@query(
    "text_phrase_search",
    extra=True,
    oracle=phrase_search_oracle_sql(_PHRASE, _SQL_TOKS),
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over the positional inverted index
    (operators/textindex.py): documents containing the consecutive token
    sequence "table scan", with occurrence counts — the conjunctive
    (doc, pos)-join merge every positional index does, as a pure
    DataFrame plan. Oracle replays the identical postings relation and
    join chain via the SHARED tokenizer SQL, so tokenization, 0-based
    positions and the adjacency arithmetic are all value-pinned.

    Scale: with the postings relation materialized bucketed BY TERM
    (the corpus-index layout this operator assumes at 100 TB), each
    m_i slice is a partition-pruned scan; in-plan, the term equality
    predicates collapse the exploded postings map-side before the
    (doc, start) equi-joins — no windows, no UDFs.
    """
    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, _PHRASE)


@query(
    "text_vocab_oov",
    extra=True,
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, COUNT(*) AS n FROM tok GROUP BY term
        ORDER BY n DESC, term LIMIT 16
      )
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(ROUND(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      * 1000000.0 / COUNT(*)) AS BIGINT) AS oov_ppm
    FROM tok t LEFT JOIN vocab v ON v.term = t.term
    GROUP BY t.doc_id
    """,
)
def text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction + out-of-vocabulary mapping: build the
    top-16 token vocabulary (count desc, token asc — the deterministic
    text_top_tokens rule), then score every document's OOV token count
    and ppm-snapped OOV rate against it — the coverage diagnostic run
    before freezing any tokenizer/vocab for training (high-OOV docs are
    mis-tokenized, wrong-language, or boilerplate).

    Scale: vocab derivation is the map-side-combining token count with a
    TakeOrdered top-V (never a global sort); the vocab relation is
    V rows — broadcast LEFT join against the exploded corpus, then one
    per-doc partial agg. Corpus rows shuffle once (the doc_id agg);
    tokens never shuffle un-aggregated.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(token_array("text")).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(16)
        .select("term")
    )
    joined = tok.join(
        F.broadcast(vocab.withColumnRenamed("term", "vterm")),
        tok["term"] == F.col("vterm"),
        "left",
    )
    oov = F.sum(F.when(F.col("vterm").isNull(), 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov.alias("n_oov"),
        F.round(oov * 1000000.0 / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("oov_ppm"),
    )


@query(
    "text_token_entropy",
    extra=True,
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tc AS (
      SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term
    ),
    contrib AS (
      SELECT doc_id, c,
             CAST(ROUND(c * ln(c) * 1000000) AS BIGINT) AS clnc_micro
      FROM tc
    ),
    agg AS (
      SELECT doc_id, SUM(c) AS n, SUM(clnc_micro) AS sum_clnc
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(CAST(ROUND(ln(n) * 1000000) AS BIGINT)
                - CAST(ROUND(CAST(sum_clnc AS DOUBLE) / n) AS BIGINT)
             AS BIGINT) AS entropy_micro
    FROM agg
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the document's OWN token
    distribution, H = ln(n) − (1/n)·Σ cᵢ·ln(cᵢ) — the repetitiveness
    signal (low entropy ⇒ boilerplate / copy-spam / template text) that
    complements the cross-corpus LM scores: unigram_logprob asks "is
    this doc typical of the corpus", entropy asks "is this doc diverse
    within itself". Hash-exact by PIECEWISE micro-snapping: each term's
    c·ln(c) is snapped before the per-doc sum (the pagerank device), and
    the final value is a difference of two independently-snapped
    integers — no compound float expression survives to the output.

    Scale: explode → (doc, term) partial-agg → per-doc agg; both
    shuffles are map-side-combining and the second carries one row per
    (doc, distinct term). No windows, no UDFs.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(token_array("text")).alias("term"))
    tc = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    contrib = tc.select(
        "doc_id",
        "c",
        F.round(F.col("c") * F.log(F.col("c")) * 1000000.0, 0)
        .cast("long")
        .alias("clnc_micro"),
    )
    agg = contrib.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.sum("clnc_micro").alias("sum_clnc")
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        (
            F.round(F.log(F.col("n")) * 1000000.0, 0).cast("long")
            - F.round(F.col("sum_clnc").cast("double") / F.col("n"), 0).cast(
                "long"
            )
        )
        .cast("long")
        .alias("entropy_micro"),
    )


@query(
    "text_quality_auc",
    extra=True,
    oracle=_QUALITY_CTES + """
    , scored AS (
      SELECT q.quality AS s,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM q JOIN documents d ON d.doc_id = q.doc_id
    ),
    g AS (SELECT s, COUNT(*) AS c, SUM(y) AS p FROM scored GROUP BY s),
    r AS (
      SELECT s, c, p,
             COALESCE(SUM(c) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum
      FROM g
    ),
    tt AS (
      SELECT SUM(p * (2 * cum + c + 1)) AS s2,
             SUM(p) AS n_pos, SUM(c - p) AS n_neg
      FROM r
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(ROUND((s2 - n_pos * (n_pos + 1)) * 1000000.0
                      / (2.0 * n_pos * n_neg)) AS BIGINT) AS auc_ppm
    FROM tt
    """,
)
def text_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate OUR OWN quality classifier: the AUC of
    textstats.quality_score against the lang='en' label — the eval loop
    closed end-to-end inside the engine (score derivation AND its
    Mann-Whitney evaluation both value-oracled; the oracle reuses the
    factored _QUALITY_CTES verbatim, then runs the same histogram
    rank-sum as q_roc_auc on the resulting double scores — exact
    because both engines derive bit-identical quality doubles from the
    integer micro-unit form).
    """
    from ..operators.quality import roc_auc_histogram
    from ..operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        quality_score("text").alias("quality"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return roc_auc_histogram(scored, "quality", "is_en")


@query(
    "text_boolean_search",
    extra=True,
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    has_table AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'table'),
    has_scan  AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'scan'),
    has_spark AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark')
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tok t
    JOIN has_table a ON a.doc_id = t.doc_id
    JOIN has_scan b ON b.doc_id = t.doc_id
    WHERE NOT EXISTS (SELECT 1 FROM has_spark s WHERE s.doc_id = t.doc_id)
    GROUP BY t.doc_id
    """,
)
def text_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval over the inverted index: documents matching
    ``table AND scan AND NOT spark`` (returned with their token counts)
    — the conjunction as left-semi joins on single-term posting slices,
    the negation as a left-anti join, completing the index family's
    query algebra (phrase = positional join chain, AND/NOT = semi/anti).

    Scale: each term slice is a partition-pruned scan of the
    term-bucketed postings layout; semi/anti joins carry doc ids only,
    so the result never rematerializes postings.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(token_array("text")).alias("term"))
    def slice_(t):
        return tok.where(F.col("term") == t).select("doc_id").distinct()
    matched = (
        tok.join(slice_("table"), "doc_id", "left_semi")
        .join(slice_("scan"), "doc_id", "left_semi")
        .join(slice_("spark"), "doc_id", "left_anti")
    )
    return matched.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )


@query(
    "text_keywords_tfidf",
    extra=True,
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term,
             CAST(ROUND(ln(
               CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
               / COUNT(DISTINCT doc_id)
             ) * 1000000) AS BIGINT) AS idf_micro
      FROM tok GROUP BY term
    )
    SELECT doc_id, term, score_micro, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf * idf.idf_micro AS BIGINT) AS score_micro,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * idf.idf_micro DESC, tf.term ASC
             ) AS rank
      FROM tf JOIN idf USING (term)
    ) WHERE rank <= 3
    """,
)
def text_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf·idf — idf
    micro-snapped once per term (ln of ONE double quotient with
    identical integer operands), so the per-doc score is a pure long
    product and the whole ranking value-hashes. The per-doc complement
    of text_top_tokens' corpus-level profile, and the term-weighting
    bridge between raw counts and BM25's saturated form.

    Scale: tf is the (doc, term) map-side-combining count; idf is
    vocabulary-sized and broadcasts into the scoring join; the top-3
    window partitions by doc on the same exchange tf already paid.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(token_array("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        tok.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df")) * 1000000.0,
                0,
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.col("idf_micro")).cast("long").alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "score_micro", F.col("rank").cast("int").alias("rank"))
    )


@query(
    "text_perplexity_buckets",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM counts),
    micro AS (
      SELECT doc_id,
             CAST(ROUND(ln(c / n_total::DOUBLE) * 1000000) AS BIGINT) AS m
      FROM tok JOIN counts USING (tok) CROSS JOIN tot
    ),
    score AS (
      SELECT doc_id,
             ROUND((CAST(SUM(m) AS BIGINT) / COUNT(*)::DOUBLE) / 1000000, 6)
               AS mean_logprob
      FROM micro GROUP BY doc_id
    ),
    ranked AS (
      SELECT doc_id, mean_logprob,
             ROW_NUMBER() OVER (ORDER BY mean_logprob, doc_id) - 1 AS rn,
             (SELECT COUNT(*) FROM score) AS n_docs
      FROM score
    )
    SELECT CAST(rn * 3 // n_docs AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(mean_logprob) AS lo,
           MAX(mean_logprob) AS hi
    FROM ranked GROUP BY 1
    """,
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity terciles: score every doc with the
    corpus-self-trained unigram LM (the text_unigram_logprob machinery,
    identical micro-snapped arithmetic), rank by score WITHOUT a
    single-partition window (operators/ids.py:assign_dense_ids), and cut
    into head/middle/tail buckets (0 = lowest logprob = most surprising)
    with each bucket's boundary scores — the quality-tier split used to
    keep head+middle and drop tail in crawl cleaning.

    Scale: the LM fit is two grouped aggregates (vocab-sized exchange);
    ranking is one range exchange on the 1-double-per-doc score relation;
    the census is 3 rows."""
    from ..operators.ids import assign_dense_ids
    from ..operators.textstats import unigram_logprob

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    score = unigram_logprob(docs).select("doc_id", "mean_logprob")
    ranked = assign_dense_ids(score, ["mean_logprob", "doc_id"], "rn")
    n = score.agg(F.count(F.lit(1)).alias("n_docs_total"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("bucket", F.expr("CAST(rn * 3 DIV n_docs_total AS INT)"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("mean_logprob").alias("lo"),
            F.max("mean_logprob").alias("hi"),
        )
    )


@query(
    "text_zipf_slope",
    extra=True,
    oracle=f"""
    WITH counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r FROM counts
    ),
    pts AS (
      SELECT CAST(ROUND(ln(r) * 1000) AS BIGINT) AS x,
             CAST(ROUND(ln(c) * 1000) AS BIGINT) AS y
      FROM ranked
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_types,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx)::DOUBLE, 6)
             AS zipf_slope
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf law fit: OLS slope of ln(frequency) on ln(rank) over the
    corpus vocabulary (a natural-language corpus sits near -1; this
    synthetic word-soup's near-uniform vocabulary sits near 0 — exactly
    the kind of distributional fingerprint that flags machine-generated
    text). The normal-equation moments are computed over MILLI-SNAPPED
    integer log points (the Spearman/OLS device), one snapped division
    at the end.

    Scale: token count agg (vocab-sized exchange) + a rank over the
    vocab relation + a 1-row moment aggregate. The rank window is
    global but VOCAB-sized (types, not tokens — bounded by the language,
    not the corpus); for an unbounded key space the dense-ids device
    substitutes."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(token_array("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), "tok")
    pts = counts.withColumn("r", F.row_number().over(w)).select(
        F.round(F.log("r") * 1000, 0).cast("long").alias("x"),
        F.round(F.log("c") * 1000, 0).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_types"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
            6,
        ).alias("zipf_slope"),
    )


@query(
    "text_simpson_diversity",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents),
    tc AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM t GROUP BY source, tok
    ),
    s AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(c * (c - 1)) AS BIGINT) AS coll
      FROM tc GROUP BY source
    )
    SELECT source, n_tokens, n_terms,
           CAST((2 * coll * 1000000 + n_tokens * (n_tokens - 1))
                // (2 * n_tokens * (n_tokens - 1)) AS BIGINT) AS simpson_ppm
    FROM s
    """,
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration index per source — P(two random tokens are
    the same type), the lexical-diversity fingerprint that separates
    templated/boilerplate sources (high lambda) from organic prose: the
    unbiased estimator lambda = sum n_i(n_i-1) / (N(N-1)) is a ratio of
    two EXACT LONG sums, reported via the half-up ppm device with zero
    float steps (registry.py determinism rules).

    Scale: tokenize+explode is codegen; groupBy(source, tok) count gets
    map-side partial agg (the term histogram shuffle is the corpus
    vocabulary, not the corpus); the per-source reduce is |vocab|-sized.
    Both shuffles are keyed aggs — no joins, nothing driver-side."""
    from ..functions.scalar import half_up_units

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tc = (
        docs.select("source", F.explode(token_array("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = tc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
    )
    pairs = F.col("n_tokens") * (F.col("n_tokens") - 1)
    return s.select(
        "source",
        "n_tokens",
        "n_terms",
        half_up_units(F.col("coll"), pairs, 1_000_000).alias("simpson_ppm"),
    )


@query(
    "text_burstiness",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents),
    dc AS (
      SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM t GROUP BY tok, doc_id
    ),
    tot AS (
      SELECT tok, CAST(SUM(c) AS BIGINT) AS total,
             CAST(SUM(c * c) AS BIGINT) AS sum_c2
      FROM dc GROUP BY tok
    ),
    top AS (
      SELECT tok, total, sum_c2
      FROM tot ORDER BY total DESC, tok LIMIT 10
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT tok, total,
           CAST((2 * (n_docs * sum_c2 - total * total) * 1000
                 + n_docs * total) // (2 * n_docs * total) AS BIGINT)
             AS fano_milli
    FROM top, nd
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor: variance-to-mean ratio of per-document
    counts, zeros included) for the 10 highest-frequency tokens —
    function words sit near 1 (Poisson), topical/boilerplate terms run
    bursty (>1), the signal behind stopword induction and
    templated-source detection. Var and mean over ALL docs need only
    N_docs, sum(c), sum(c^2) — absent docs contribute zero to both sums,
    so the zeros are NEVER materialized — and Fano = (N*sum_c2 -
    total^2)/(N*total) is a ratio of exact longs (non-negative by
    Cauchy-Schwarz), reported in milli-units via the half-up device.

    Scale: per-(tok, doc) counts get map-side partial agg; the token
    rollup is vocabulary-sized; top-10 carries a total-order tiebreaker
    and the 1-row doc count joins by broadcast. No zero-fill, no
    doc x vocab blow-up."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    dc = (
        docs.select("doc_id", F.explode(token_array("text")).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = dc.groupBy("tok").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    top = tot.orderBy(F.col("total").desc(), "tok").limit(10)
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    from ..functions.scalar import half_up_units

    j = top.crossJoin(F.broadcast(nd))
    return j.select(
        "tok",
        "total",
        half_up_units(
            F.col("n_docs") * F.col("sum_c2") - F.col("total") * F.col("total"),
            F.col("n_docs") * F.col("total"),
            1000,
        ).alias("fano_milli"),
    )


def _bpe_iter_sql(t: int) -> str:
    """One unrolled BPE round (plain-string assembly, no braces): pair
    counts from s{t-1}, winner t{t}, fold-applied vocabulary s{t}."""
    p = (
        "p%d AS (\n"
        "  SELECT pk, CAST(SUM(n_w) AS BIGINT) AS pair_count FROM (\n"
        "    SELECT n_w, unnest(CASE WHEN len(syms) >= 2 THEN\n"
        "      [syms[i] || chr(31) || syms[i+1] for i in"
        " range(1, len(syms))]\n"
        "      ELSE [] END) AS pk\n"
        "    FROM s%d\n"
        "  ) GROUP BY pk\n"
        ")" % (t, t - 1)
    )
    w = (
        "t%d AS (\n"
        "  SELECT %d AS step,\n"
        "         string_split(pk, chr(31))[1] AS lhs,\n"
        "         string_split(pk, chr(31))[2] AS rhs,\n"
        "         pair_count\n"
        "  FROM p%d ORDER BY pair_count DESC, pk ASC LIMIT 1\n"
        ")" % (t, t, t)
    )
    s = (
        "s%d AS (\n"
        "  SELECT w.word, w.n_w,\n"
        "    string_split(list_reduce(w.syms, (acc, x) -> CASE\n"
        "       WHEN regexp_extract(acc, '([^ ]+)$', 1) = t.lhs"
        " AND x = t.rhs\n"
        "         THEN regexp_replace(acc, '([^ ]+)$', '')"
        " || t.lhs || t.rhs\n"
        "       ELSE acc || ' ' || x END), ' ') AS syms\n"
        "  FROM s%d w CROSS JOIN t%d t\n"
        ")" % (t, t - 1, t)
    )
    return ",\n".join([p, w, s])


_BPE_ORACLE = (
    "WITH w AS (\n"
    "  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_w FROM (\n"
    "    SELECT unnest(" + _SQL_TOKS + ") AS word FROM documents\n"
    "  ) GROUP BY word\n"
    "),\n"
    "s0 AS (\n"
    "  SELECT word, n_w,\n"
    "         [word[i] for i in range(1, len(word) + 1)] AS syms\n"
    "  FROM w\n"
    "),\n"
    + ",\n".join(_bpe_iter_sql(t) for t in (1, 2, 3))
    + """
    SELECT step, lhs, rhs, lhs || rhs AS merged, pair_count FROM t1
    UNION ALL
    SELECT step, lhs, rhs, lhs || rhs AS merged, pair_count FROM t2
    UNION ALL
    SELECT step, lhs, rhs, lhs || rhs AS merged, pair_count FROM t3
    """
)


# Promoted to the graded window in round 8: tokenizer training is a new
# operator class with no graded representative (displaces
# q_rollup_acctbal).
@query("text_bpe_merges", oracle=_BPE_ORACLE)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (operators/bpe.py) — the first 3 learned
    merges over the corpus vocabulary, the iterative primitive behind
    every modern subword tokenizer. One corpus pass collapses text to
    (word, count); after that each merge round is vocabulary-sized:
    exact long pair counts with positional multiplicity, a totally
    ordered winner (count DESC, pair key ASC), and the canonical
    left-to-right non-overlapping merge applied as THE SAME
    fold-over-symbols in both engines (Spark F.aggregate with a
    space-joined accumulator, DuckDB list_reduce) — an iterative
    string algorithm holding a full value oracle, the text-side
    sibling of the unrolled kmeans/LPA/PageRank replays.

    Scale: the corpus never re-enters the loop — that is WHY BPE
    trains on web-scale data; here the loop is |vocab| groupBys with
    map-side combine, 1-row broadcast winners, and codegen folds,
    checkpoint-truncated per round."""
    from ..operators.bpe import bpe_learn_merges

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return bpe_learn_merges(docs, k=3)


_BPE_ENCODE_ORACLE = (
    "WITH w AS (\n"
    "  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_w FROM (\n"
    "    SELECT unnest(" + _SQL_TOKS + ") AS word FROM documents\n"
    "  ) GROUP BY word\n"
    "),\n"
    "s0 AS (\n"
    "  SELECT word, n_w,\n"
    "         [word[i] for i in range(1, len(word) + 1)] AS syms\n"
    "  FROM w\n"
    "),\n"
    + ",\n".join(_bpe_iter_sql(t) for t in (1, 2, 3))
    + """,
    sw AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n_sw FROM (
        SELECT source, unnest(_TOKS_) AS word FROM documents
      ) GROUP BY source, word
    ),
    agg AS (
      SELECT sw.source,
             CAST(SUM(sw.n_sw) AS BIGINT) AS n_words,
             CAST(SUM(sw.n_sw * len(s3.syms)) AS BIGINT) AS n_subwords,
             CAST(SUM(sw.n_sw * len(sw.word)) AS BIGINT) AS n_chars
      FROM sw JOIN s3 ON sw.word = s3.word
      GROUP BY sw.source
    )
    SELECT source, n_words, n_subwords, n_chars,
           CAST((2 * n_subwords * 1000 + n_words) // (2 * n_words)
                AS BIGINT) AS subwords_per_word_milli
    FROM agg
    """.replace("_TOKS_", _SQL_TOKS)
)


@query("text_bpe_encode", oracle=_BPE_ENCODE_ORACLE, extra=True)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — encode the corpus under the k=3
    merge table learned by `text_bpe_merges` and report the per-source
    subword census (word/subword/char totals and exact milli subwords
    per word). The encode table IS the trainer's post-merge vocabulary
    (operators/bpe.py `bpe_train`): tokenizing is a (source, word)
    count relation joined to (word -> final symbol array), so the
    corpus is touched exactly once more after training and the merges
    are never re-folded per occurrence — the same reason real
    tokenizers memoize word encodings.

    Scale: the (source, word) counts get map-side partial agg; the
    encode join is vocabulary-sized on both sides (shuffle-hash at
    100 TB vocab cardinality, broadcast below the threshold); every
    output is exact long arithmetic, the ratio via the half-up
    device."""
    from ..functions.scalar import half_up_units
    from ..operators.bpe import bpe_train_from_counts

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # ONE corpus tokenize pass (round-14, guide §1.2): the encode-side
    # (source, word) counts seed the trainer's vocabulary (n_w = sum of
    # n_sw) — previously bpe_train re-tokenized the corpus.
    sw = (
        docs.select("source", F.explode(token_array("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n_sw"))
        .localCheckpoint()  # two consumers: vocab rollup + encode join
    )
    wcounts = sw.groupBy("word").agg(F.sum("n_sw").cast("long").alias("n_w"))
    _, vocab = bpe_train_from_counts(wcounts, k=3)
    enc = sw.join(
        vocab.select(
            "word",
            F.size("syms").alias("n_sub"),
            F.length("word").alias("n_ch"),
        ),
        "word",
    )
    agg = enc.groupBy("source").agg(
        F.sum("n_sw").alias("n_words"),
        F.sum(F.col("n_sw") * F.col("n_sub")).alias("n_subwords"),
        F.sum(F.col("n_sw") * F.col("n_ch")).alias("n_chars"),
    )
    return agg.select(
        "source",
        "n_words",
        "n_subwords",
        "n_chars",
        half_up_units(F.col("n_subwords"), F.col("n_words"), 1000).alias(
            "subwords_per_word_milli"
        ),
    )


@query(
    "text_naive_bayes",
    # graded since round 7: supervised bag-of-words classifier family
    # (displaces text_stats)
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    ltok AS (SELECT lang AS label, unnest(toks) AS tok FROM t),
    cls AS (
      SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS d_l
      FROM documents GROUP BY lang
    ),
    dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
    cnt AS (
      SELECT label, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM ltok GROUP BY label, tok
    ),
    nl AS (
      SELECT label, CAST(SUM(c) AS BIGINT) AS n_l FROM cnt GROUP BY label
    ),
    vocab AS (SELECT DISTINCT tok FROM tok),
    vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    w AS (
      SELECT nl.label, vocab.tok,
             CAST(ROUND(ln((COALESCE(cnt.c, 0) + 1)
                           / CAST(nl.n_l + vs.v AS DOUBLE)) * 1000000)
                  AS BIGINT) AS wm
      FROM vocab CROSS JOIN nl CROSS JOIN vs
      LEFT JOIN cnt ON cnt.label = nl.label AND cnt.tok = vocab.tok
    ),
    prior AS (
      SELECT label,
             CAST(ROUND(ln(d_l / CAST(d AS DOUBLE)) * 1000000) AS BIGINT)
               AS pm
      FROM cls CROSS JOIN dtot
    ),
    scores AS (
      SELECT tok.doc_id, w.label,
             CAST(ANY_VALUE(prior.pm) + SUM(w.wm) AS BIGINT) AS score_micro
      FROM tok
      JOIN w ON w.tok = tok.tok
      JOIN prior ON prior.label = w.label
      GROUP BY tok.doc_id, w.label
    )
    SELECT doc_id, label AS pred_lang, score_micro FROM scores
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_micro DESC, label) = 1
    """,
)
def text_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes lang model trained on the corpus's own
    labels and applied back to it in ONE lazy plan
    (operators/textstats.naive_bayes_language): Laplace-smoothed
    micro-snapped token log-likelihoods, class priors, per-doc argmax
    with a (score, label) total order. The oracle rebuilds the identical
    model — counts, smoothing, snapping, argmax — so train AND inference
    are both value-adjudicated, not just the output shape."""
    from ..operators.textstats import naive_bayes_language

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    return naive_bayes_language(docs)


@query(
    "text_tfidf_cosine_pairs",
    extra=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents WHERE doc_id < 600
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS d FROM tf GROUP BY tok),
    nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    w AS (
      SELECT doc_id, tf.tok,
             c * CAST(ROUND(ln((n + 1.0) / (d + 1.0)) * 1000) AS BIGINT)
               AS w
      FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN nn
    ),
    nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(SUM(a.w * b.w) AS BIGINT) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(ROUND(dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2) * 1000000)
                AS BIGINT) AS cos_micro
    FROM dots
    JOIN nrm na ON na.doc_id = id_a
    JOIN nrm nb ON nb.doc_id = id_b
    WHERE dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2) >= 0.9
    """,
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF WEIGHTED cosine near-dup pairs (>= 0.9) — the weighted
    sibling of dedup_ngram_jaccard: raw-tf x milli-snapped-idf integer
    weights, exact long dots via the shared-token posting join, cosine
    from IEEE sqrt of exact operands (identical op order both engines).
    BOUNDED ORACLE BASELINE like sim_near_dup: this corpus's 31-type
    near-uniform vocabulary makes every posting list corpus-length, so
    the slice is capped (doc_id < 600) and the SCALE path for weighted
    similarity is prefix filtering on the weight-ordered token lists —
    dedup_prefix_jaccard's AllPairs bound applies verbatim to TF-IDF
    weights (Bayardo et al.'s original setting)."""
    from ..functions.scale import scoped_persist

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 600
    )
    tf = (
        docs.select(
            "doc_id", F.explode(token_array("text")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tf = scoped_persist(tf, "tfidf_pairs.tf")
    df_rel = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("d"))
    n = tf.agg(F.countDistinct("doc_id").alias("n"))
    w = (
        tf.join(df_rel, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (
                F.col("c")
                * F.round(
                    F.log((F.col("n") + 1.0) / (F.col("d") + 1.0)) * 1000, 0
                ).cast("long")
            ).alias("w"),
        )
    )
    w = scoped_persist(w, "tfidf_pairs.w")
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = w.select(F.col("doc_id").alias("id_a"), "tok", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "tok", F.col("w").alias("wb"))
    dots = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    cos = F.col("dot") / F.sqrt(
        F.col("na2").cast("double") * F.col("nb2")
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .where(cos >= 0.9)
        .select(
            "id_a",
            "id_b",
            F.round(cos * 1000000, 0).cast("long").alias("cos_micro"),
        )
    )


@query(
    "text_textrank_keywords",
    extra=True,
    oracle=None,  # assembled below from the unrolled _PR_ITER rounds
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction — PageRank over the token
    CO-OCCURRENCE graph (nodes = tokens, undirected edges = adjacent
    pairs weighted by corpus count), the composition of the graph family
    onto text: where TF-IDF ranks tokens by document discrimination,
    TextRank ranks by centrality in the adjacency structure (the
    classic unsupervised keyphrase baseline). Reuses operators/graph.py:
    pagerank verbatim — 3 synchronous rounds, per-edge contributions
    nano-snapped before the per-node sum — so the oracle is the
    triple-unrolled PageRank SQL over token-typed nodes.

    Scale: the bigram relation collapses map-side into the (w1, w2)
    count shuffle (vocabulary-bounded output); PageRank then runs
    entirely on the vocab-sized graph. The top-20 window is
    vocabulary-bounded (the PSI-bins exception), never corpus-sized."""
    from pyspark.sql import Window

    from ..functions.scalar import token_array
    from ..operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(token_array("text").alias("toks")).where(
        F.size("toks") >= 2
    )
    n = F.size("toks")
    bg = t.select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, n - 1).alias("w1"),
                F.expr("slice(toks, 2, size(toks) - 1)").alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    e = (
        bg.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .unionAll(bg.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    pr = pagerank(e, iterations=3)
    w20 = Window.orderBy(F.col("rank_nano").desc(), "token")
    return (
        pr.select(F.col("node").alias("token"), "rank_nano")
        .withColumn("rn", F.row_number().over(w20))
        .where(F.col("rn") <= 20)
    )


from .registry import EXTRA_ORACLES as _EO  # noqa: E402

# One synchronous PageRank round in nano units (operators/graph.py:
# pagerank), unrolled once per iteration in the oracle below.
_PR_ITER = """
    r{K} AS (
      SELECT n2.node,
             CAST((SELECT base FROM consts) + COALESCE(SUM(c), 0) AS BIGINT)
               AS rank_nano
      FROM nodes n2 LEFT JOIN (
        SELECT e.dst AS node,
               CAST(ROUND(r.rank_nano * 0.85 * e.w / o.out_w) AS BIGINT) AS c
        FROM edges e
        JOIN outw o ON o.src = e.src
        JOIN r{P} r ON r.node = e.src
      ) contrib ON contrib.node = n2.node
      GROUP BY n2.node
    )
"""

_EO["text_textrank_keywords"] = f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bg AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      WHERE len(toks) >= 2
    ),
    edges AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
        SELECT w1 AS src, w2 AS dst FROM bg
        UNION ALL SELECT w2, w1 FROM bg
      ) WHERE src <> dst GROUP BY 1, 2
    ),
    outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    consts AS (
      SELECT CAST(ROUND((1.0 - 0.85) * 1000000000 / COUNT(*)) AS BIGINT)
               AS base,
             CAST(ROUND(1000000000.0 / COUNT(*)) AS BIGINT) AS r_init
      FROM nodes
    ),
    r0 AS (
      SELECT node, (SELECT r_init FROM consts) AS rank_nano FROM nodes
    ),
    {_PR_ITER.format(K=1, P=0)},
    {_PR_ITER.format(K=2, P=1)},
    {_PR_ITER.format(K=3, P=2)}
    SELECT node AS token, rank_nano,
           CAST(ROW_NUMBER() OVER (ORDER BY rank_nano DESC, node)
                AS INTEGER) AS rn
    FROM r3
    QUALIFY rn <= 20
"""


def _unigram_oracle(maxlen: int = 8, plen: int = 4) -> str:
    """Unrolled-level DuckDB replay of operators/bpe.unigram_viterbi:
    piece scoring, the segment lattice, then one MATERIALIZED CTE pair
    (level + accumulated ball) per word position — levels are referenced
    by up to ``plen`` later ones AND the final join, so plain CTEs would
    re-inline the chain and exhaust file descriptors)."""
    head = (
        """
    WITH words AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount FROM (
        SELECT unnest("""
        + _SQL_TOKS
        + """) AS word FROM documents
      ) WHERE length(word) <= """
        + str(maxlen)
        + """ GROUP BY word
    ),
    sub AS (
      SELECT word, wcount,
             unnest(flatten(list_transform(
               generate_series(1, length(word)), j ->
               list_transform(
                 generate_series(1, least("""
        + str(plen)
        + """, length(word) - j + 1)),
                 l -> substr(word, CAST(j AS INT), CAST(l AS INT))))))
               AS piece
      FROM words
    ),
    pieces AS (
      SELECT piece, CAST(SUM(wcount) AS BIGINT) AS c_init
      FROM sub GROUP BY piece
    ),
    ctot AS (SELECT CAST(SUM(c_init) AS BIGINT) AS c_tot FROM pieces),
    scored AS MATERIALIZED (
      SELECT piece,
             CAST(ROUND(-ln(c_init / CAST(c_tot AS DOUBLE)) * 1000000)
                  AS BIGINT) AS s_micro
      FROM pieces CROSS JOIN ctot
    ),
    js AS (
      SELECT word, unnest(generate_series(0, length(word) - 1)) AS j
      FROM words
    ),
    ji AS (
      SELECT word, j,
             unnest(generate_series(j + 1,
               least(j + """
        + str(plen)
        + """, CAST(length(word) AS BIGINT)))) AS i
      FROM js
    ),
    segs AS MATERIALIZED (
      SELECT t.word, t.j, t.i,
             substr(t.word, CAST(t.j + 1 AS INT), CAST(t.i - t.j AS INT))
               AS piece,
             sc.s_micro
      FROM ji t JOIN scored sc
        ON sc.piece = substr(t.word, CAST(t.j + 1 AS INT),
                             CAST(t.i - t.j AS INT))
    ),
    ball0 AS MATERIALIZED (
      SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, '' AS seg, 0 AS np
      FROM words
    )"""
    )
    lvl_tpl = """,
    lv{R} AS MATERIALIZED (
      SELECT word, pos, cost, seg, np FROM (
        SELECT s.word, {R} AS pos, b.cost + s.s_micro AS cost,
               b.seg || '|' || s.piece AS seg, b.np + 1 AS np,
               ROW_NUMBER() OVER (PARTITION BY s.word
                 ORDER BY b.cost + s.s_micro, s.j) AS rn
        FROM segs s JOIN ball{P} b ON b.word = s.word AND b.pos = s.j
        WHERE s.i = {R}
      ) WHERE rn = 1
    ),
    ball{R} AS MATERIALIZED (
      SELECT * FROM ball{P} UNION ALL SELECT * FROM lv{R}
    )"""
    body = "".join(lvl_tpl.format(R=r, P=r - 1) for r in range(1, maxlen + 1))
    tail = """
    SELECT w.word, w.wcount, b.cost AS vit_cost_micro,
           CAST(b.np AS INT) AS n_pieces, substr(b.seg, 2) AS seg
    FROM words w JOIN ball{M} b
      ON b.word = w.word AND b.pos = length(w.word)
    """.format(M=maxlen)
    return head + body + tail


@query(  # graded since round 9 third session: the 2nd tokenizer member
    "text_unigram_tokenize", extra=True, oracle=_unigram_oracle()
    # rotated out round 10 (tokenization graded via pipeline_tokenizer_ready + text_bpe_merges)
)
def text_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece/Kudo-2018) tokenization of the corpus
    vocabulary (operators/bpe.py:unigram_viterbi) — the tokenizer
    family's second member beside BPE: substring pieces scored by corpus
    negative log-probability (micro-snapped), then an 8-level unrolled
    Viterbi DP in INTEGER cost space over each word's segment lattice,
    ties broken toward the longest final piece via (cost, start) rank.
    The oracle replays piece scoring, the lattice and every DP level;
    the segmentation-optimality and tie-break gates live in
    tests/test_bpe.py.

    Scale: the corpus appears only in the word-count groupBy; everything
    downstream (pieces, lattice, 8 DP levels) is vocabulary-bounded and
    broadcast-joined — a 100 TB corpus reduces to its word histogram in
    one pass, the bpe_train sharding story.
    """
    from ..operators.bpe import unigram_viterbi

    docs = load_table(spark, sf_dir, "documents").select("text")
    return unigram_viterbi(docs)


@query(
    "text_kneser_ney_bigram",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    big AS (
      SELECT unnest(toks[1:len(toks) - 1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM t WHERE len(toks) >= 2
    ),
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM big GROUP BY 1, 2
    ),
    c1 AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1r
      FROM c12 GROUP BY 1
    ),
    n1l AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1l FROM c12 GROUP BY 1
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM c12)
    SELECT b.w1, b.w2, b.c12, c1.c1, c1.n1r, n1l.n1l, nb.nb,
           CAST(GREATEST(4 * b.c12 - 3, 0) * nb.nb
                + 3 * c1.n1r * n1l.n1l AS BIGINT) AS p_num,
           CAST(4 * c1.c1 * nb.nb AS BIGINT) AS p_den
    FROM c12 b
    JOIN c1 ON c1.w1 = b.w1
    JOIN n1l ON n1l.w2 = b.w2
    CROSS JOIN nb
    """,
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNESER-NEY smoothed bigram LM — the language-model family's
    smoothing member (the MLE unigram/bigram scorers assign unseen pairs
    zero; KN redistributes an absolute discount D = 3/4 to a
    CONTINUATION-count back-off, the n-gram smoother every pre-neural LM
    benchmark settled on): p(w2|w1) = max(c12 − D, 0)/c1 +
    (D·N1+(w1,·)/c1) · N1+(·,w2)/N_bigrams. With D = 3/4 the whole
    model is ONE EXACT RATIONAL per pair — emitted division-free as
    p_num = max(4c12−3, 0)·NB + 3·n1r(w1)·n1l(w2) over p_den = 4·c1·NB
    beside its sufficient statistics, so the relation hash-matches with
    no snapping device and the textbook normalization identity
    Σ_{{w2∈V}} p(w2|w1) = 1 is verifiable in exact Fraction arithmetic
    (tests/test_bpe.py pins it per left context, unseen mass included).

    Scale: one bigram explode feeding three vocabulary-keyed
    map-side-combined aggs; the output is bigram-TYPE-bounded (V²), not
    corpus-bounded — the same reduce-to-histogram story as bpe_train.
    """
    from ..functions.scalar import token_array

    t = load_table(spark, sf_dir, "documents").select(
        token_array("text").alias("toks")
    )
    n = F.size("toks")
    big = (
        t.where(n >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n - 1).alias("w1"),
                    F.slice("toks", 2, n - 1).alias("w2"),
                )
            ).alias("e")
        )
        .select("e.w1", "e.w2")
    )
    c12 = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    ).localCheckpoint()  # c1, n1l, nb and the final join all read it
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1r"),
    )
    n1l = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1l")
    )
    nb = c12.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    return (
        c12.join(F.broadcast(c1), "w1")
        .join(F.broadcast(n1l), "w2")
        .crossJoin(F.broadcast(nb))
        .select(
            "w1", "w2", "c12", "c1", "n1r", "n1l", "nb",
            (
                F.greatest(4 * F.col("c12") - 3, F.lit(0)) * F.col("nb")
                + 3 * F.col("n1r") * F.col("n1l")
            )
            .cast("long")
            .alias("p_num"),
            (4 * F.col("c1") * F.col("nb")).cast("long").alias("p_den"),
        )
    )


# ---------------------------------------------------------------------------
# Web-corpus main-text extraction — the raw-crawl ingestion stage
# ---------------------------------------------------------------------------

from ..operators.html import (  # noqa: E402
    main_region,
    sql_main_region,
    sql_strip_noise,
    sql_synth_page,
    sql_to_text,
    strip_noise,
    synth_page,
    to_text,
)


def _html_extract_oracle() -> str:
    """Oracle generated from the SAME template/regex constants the Spark
    plan uses (operators/html.py) — the comparison adjudicates the
    extraction pipeline itself, not two independent re-implementations."""
    return f"""
    WITH p AS (
      SELECT doc_id, CAST(doc_id % 3 AS INT) AS variant,
             {sql_synth_page()} AS page
      FROM documents
    ),
    c AS (
      SELECT doc_id, variant, {sql_strip_noise("page")} AS clean FROM p
    ),
    x AS (
      SELECT doc_id, variant,
             {sql_to_text(sql_main_region("clean"))} AS main_text,
             {sql_to_text("clean")} AS page_text
      FROM c
    )
    SELECT doc_id, variant, main_text,
      CAST(len(main_text) AS BIGINT) AS main_chars,
      CAST(len(page_text) AS BIGINT) AS page_chars,
      CAST((2 * (len(page_text) - len(main_text)) * 1000000 + len(page_text))
           // (2 * len(page_text)) AS BIGINT) AS boiler_ppm,
      CAST(CASE WHEN main_text = '' THEN 0
           ELSE len(string_split(main_text, ' ')) END AS BIGINT) AS n_tokens
    FROM x
    """


@query("text_html_extract", oracle=_html_extract_oracle())
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate-strip + main-text extraction — the web-corpus
    sibling of ``alto_simplify`` (the reference's extract-text-from-markup
    pattern, /root/reference/script/extract-text-lines-from-alto.js:
    23956-24059, applied to the raw-crawl -> clean-text stage of an LLM
    data pipeline). Pages are synthesized deterministically per document
    (three planted-boilerplate variants by doc_id % 3: nav/footer chrome,
    ad-block + tracking comment, sidebar + comments chrome); extraction is
    comment/script/style removal, container-priority main-region selection
    (article > main > div#content > whole page), tag strip, entity decode,
    whitespace collapse. ``boiler_ppm`` — the fraction of the page's text
    that was chrome — is the quality signal a crawl-filtering stage
    thresholds on (snapped to integer ppm with the shared half-up device).

    Scale: narrow per-row maps only (concat + regexp built-ins) — no
    shuffle, no UDF, runs at scan speed inside WholeStageCodegen; only
    doc_id/text/lang are read (column pruning). Limitation: the main
    region is the non-greedy first-close of the container tag — nested
    <div>s inside div#content would truncate (semantic <article>/<main>
    are unaffected); a text-density scorer is the upgrade path.
    """
    d = F.call_function
    docs = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", "lang"
    )
    clean = strip_noise(synth_page())
    staged = docs.select(
        "doc_id",
        (F.col("doc_id") % 3).cast("int").alias("variant"),
        clean.alias("clean"),
    ).select(
        "doc_id",
        "variant",
        to_text(main_region(F.col("clean"))).alias("main_text"),
        to_text(F.col("clean")).alias("page_text"),
    )
    return staged.select(
        "doc_id",
        "variant",
        "main_text",
        F.length("main_text").cast("long").alias("main_chars"),
        F.length("page_text").cast("long").alias("page_chars"),
        d(
            "div",
            2 * (F.length("page_text") - F.length("main_text")).cast("long")
            * 1_000_000
            + F.length("page_text").cast("long"),
            2 * F.length("page_text").cast("long"),
        ).alias("boiler_ppm"),
        F.when(F.col("main_text") == "", F.lit(0))
        .otherwise(F.size(F.split("main_text", " ")))
        .cast("long")
        .alias("n_tokens"),
    )


from .dedup_queries import _SQL_SHINGLES as _DQ_SHINGLES  # noqa: E402


@query(
    "text_heaps_law",
    extra=True,
    oracle=f"""
    WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    shg AS (
      SELECT doc_id, {_DQ_SHINGLES} AS sh
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ),
    firstocc AS (
      SELECT tok, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(sh) AS tok FROM shg) GROUP BY tok
    ),
    ck AS (
      SELECT CAST(range AS INT) AS k,
             CAST((SELECT n_docs FROM nn) * range // 8 AS BIGINT) AS n_prefix
      FROM range(1, 9)
    ),
    pts AS (
      SELECT ck.k, ck.n_prefix,
        CAST((SELECT COUNT(*) FROM firstocc f
              WHERE f.first_doc < ck.n_prefix) AS BIGINT) AS vocab
      FROM ck
    ),
    xy AS (
      SELECT k, n_prefix, vocab,
        CAST(ROUND(LN(n_prefix) * 1000000) AS BIGINT) AS x_micro,
        CAST(ROUND(LN(vocab) * 1000000) AS BIGINT) AS y_micro
      FROM pts WHERE n_prefix > 0 AND vocab > 0
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
        CAST(COUNT(*) * SUM(x_micro * y_micro)
             - SUM(x_micro) * SUM(y_micro) AS BIGINT) AS beta_num,
        CAST(COUNT(*) * SUM(x_micro * x_micro)
             - SUM(x_micro) * SUM(x_micro) AS BIGINT) AS beta_den
      FROM xy
    )
    SELECT xy.k, xy.n_prefix, xy.vocab, xy.x_micro, xy.y_micro,
           fit.beta_num, fit.beta_den
    FROM xy, fit
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW vocabulary-growth fit — the corpus SCALING-LAW member
    of the text family (text_zipf_slope fits the rank-frequency law of
    the FULL corpus; this fits V(n) ~ K * n^beta, the vocabulary-growth
    curve corpus sizing and tokenizer-budget planning read). The
    vocabulary here is 3-gram SHINGLES (the unigram type space of the
    synthetic corpus is 31 words and saturates in the first prefix —
    a degenerate beta of 0; shingle vocabulary grows through the whole
    corpus — 3k -> 16k across the 8 checkpoints at sf0.01, beta ~ 0.8,
    flattening toward ~0.16 at sf0.1 as the synthetic 31-word process's
    bounded shingle space saturates: the fit honestly reports the
    saturation a real open-vocabulary corpus would not show).
    One pass computes each shingle's FIRST-occurrence document (min doc_id over the
    exploded corpus — no per-prefix rescans); the 8 prefix checkpoints
    (k/8 of the corpus) then read V(n_k) as first-occurrence counts, and
    beta is the OLS slope over (ln n, ln V) emitted DIVISION-FREE as
    beta_num / beta_den over once-micro-snapped logs (the measure-zero
    ln discipline + the division-free emission device), so both engines
    agree exactly.

    Scale: the explode + token-grain min() is the standard
    reduce-to-vocabulary shuffle (map-side partial); checkpoints and the
    fit run on an 8-row relation. Sub-linear beta (< 1e6/1e6) is the
    law itself — gate-tested.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    from ..operators.dedup import shingles

    firstocc = (
        docs.select("doc_id", F.explode(shingles("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
        .localCheckpoint()  # all 8 checkpoint counts read it
    )
    ck = (
        spark.range(1, 9)
        .select(F.col("id").cast("int").alias("k"))
        .crossJoin(F.broadcast(nn))
        .select(
            "k",
            F.call_function(
                "div", F.col("n_docs") * F.col("k"), F.lit(8)
            ).alias("n_prefix"),
        )
    )
    pts = (
        firstocc.crossJoin(F.broadcast(ck))
        .where(F.col("first_doc") < F.col("n_prefix"))
        .groupBy("k", "n_prefix")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    xy = pts.where((F.col("n_prefix") > 0) & (F.col("vocab") > 0)).select(
        "k",
        "n_prefix",
        "vocab",
        F.round(F.log(F.col("n_prefix").cast("double")) * 1_000_000, 0)
        .cast("long")
        .alias("x_micro"),
        F.round(F.log(F.col("vocab").cast("double")) * 1_000_000, 0)
        .cast("long")
        .alias("y_micro"),
    ).localCheckpoint()  # the fit crossJoin reads its own aggregate
    fit = xy.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x_micro") * F.col("y_micro"))
            - F.sum("x_micro") * F.sum("y_micro")
        )
        .cast("long")
        .alias("beta_num"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x_micro") * F.col("x_micro"))
            - F.sum("x_micro") * F.sum("x_micro")
        )
        .cast("long")
        .alias("beta_den"),
    ).localCheckpoint()
    return xy.crossJoin(F.broadcast(fit)).select(
        "k", "n_prefix", "vocab", "x_micro", "y_micro", "beta_num", "beta_den"
    )


def _wp_iter_sql(t: int) -> str:
    """One unrolled WordPiece round: symbol counts c{t} and pair counts
    p{t} from s{t-1}, likelihood-scored winner t{t}, folded vocab s{t}.
    Same fold as the BPE oracle; the ONLY difference is the integer-
    quantized score (pair_count * 10^12) // (c_lhs * c_rhs)."""
    c = (
        "c%d AS (\n"
        "  SELECT sym, CAST(SUM(n_w) AS BIGINT) AS c FROM (\n"
        "    SELECT n_w, unnest(syms) AS sym FROM s%d\n"
        "  ) GROUP BY sym\n"
        ")" % (t, t - 1)
    )
    p = (
        "p%d AS (\n"
        "  SELECT pk, CAST(SUM(n_w) AS BIGINT) AS pair_count FROM (\n"
        "    SELECT n_w, unnest(CASE WHEN len(syms) >= 2 THEN\n"
        "      [syms[i] || chr(31) || syms[i+1] for i in"
        " range(1, len(syms))]\n"
        "      ELSE [] END) AS pk\n"
        "    FROM s%d\n"
        "  ) GROUP BY pk\n"
        ")" % (t, t - 1)
    )
    w = (
        "t%d AS (\n"
        "  SELECT %d AS step,\n"
        "         string_split(pk, chr(31))[1] AS lhs,\n"
        "         string_split(pk, chr(31))[2] AS rhs,\n"
        "         pair_count, cl.c AS c_lhs, cr.c AS c_rhs,\n"
        "         CAST(pair_count * 1000000000000 // (cl.c * cr.c)"
        " AS BIGINT) AS score_q\n"
        "  FROM p%d\n"
        "  JOIN c%d cl ON cl.sym = string_split(pk, chr(31))[1]\n"
        "  JOIN c%d cr ON cr.sym = string_split(pk, chr(31))[2]\n"
        "  ORDER BY score_q DESC, pk ASC LIMIT 1\n"
        ")" % (t, t, t, t, t)
    )
    s = (
        "s%d AS (\n"
        "  SELECT w.word, w.n_w,\n"
        "    string_split(list_reduce(w.syms, (acc, x) -> CASE\n"
        "       WHEN regexp_extract(acc, '([^ ]+)$', 1) = t.lhs"
        " AND x = t.rhs\n"
        "         THEN regexp_replace(acc, '([^ ]+)$', '')"
        " || t.lhs || t.rhs\n"
        "       ELSE acc || ' ' || x END), ' ') AS syms\n"
        "  FROM s%d w CROSS JOIN t%d t\n"
        ")" % (t, t - 1, t)
    )
    return ",\n".join([c, p, w, s])


_WP_SELECT = (
    "SELECT step, lhs, rhs, lhs || rhs AS merged, pair_count,"
    " c_lhs, c_rhs, score_q FROM t%d"
)
_WP_ORACLE = (
    "WITH w AS (\n"
    "  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_w FROM (\n"
    "    SELECT unnest(" + _SQL_TOKS + ") AS word FROM documents\n"
    "  ) GROUP BY word\n"
    "),\n"
    "s0 AS (\n"
    "  SELECT word, n_w,\n"
    "         [word[i] for i in range(1, len(word) + 1)] AS syms\n"
    "  FROM w\n"
    "),\n"
    + ",\n".join(_wp_iter_sql(t) for t in (1, 2, 3))
    + "\n"
    + "\nUNION ALL\n".join(_WP_SELECT % t for t in (1, 2, 3))
)


@query("text_wordpiece_merges", extra=True, oracle=_WP_ORACLE)
def text_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORDPIECE trainer (first 3 merges) — the likelihood-scored member
    of the tokenizer-training family: text_bpe_merges picks the most
    FREQUENT pair, this picks the pair maximizing count(ab)/(count(a) *
    count(b)) (BERT's rule), which fuses rare-but-inseparable symbol
    pairs first — the two trainers' diverging merge tables over the SAME
    corpus are the point (asserted in tests/test_bpe.py). Score is
    integer-quantized before the argmax so the winner is a pure-integer
    total order in both engines; the oracle unrolls the three rounds
    with the same list_reduce fold the BPE oracle uses.

    Scale: identical to text_bpe_merges — the corpus is touched once
    (word histogram); every round lives on the vocabulary.
    """
    from ..operators.bpe import wordpiece_train

    return wordpiece_train(
        fan_out(load_table(spark, sf_dir, "documents")), k=3
    )
