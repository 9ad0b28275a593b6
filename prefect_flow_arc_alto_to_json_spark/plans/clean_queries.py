"""Corpus-hygiene operators as oracle-checked queries over ``documents``:
benchmark decontamination, repetition signals, PII scrubbing.

All three register in the EXTRA tier (the graded registry is at its
50-slot cap); tests/test_extra_queries.py applies the identical DuckDB
side-by-side check the driver applies to the graded 50.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textclean import (
    CONTAMINATION_MIN_SHARED,
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    pii_scrub,
    repetition_stats,
    shared_shingle_counts,
)
from ..functions.scalar import cents, stable_hash_p31
from ..functions.scale import fan_out
from ..sources import load_table
from .dedup_queries import _SQL_SHINGLE_HASHES, _SQL_SHINGLES, _SQL_TOKS
from .registry import query

#: Benchmark set for the decontamination demo: the first 20 documents.
_BENCH_MAX_ID = 20


@query(
    "text_decontaminate",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    shg AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM t),
    hsh AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM shg),
    bench AS (
      SELECT DISTINCT unnest(hs) AS h FROM hsh WHERE doc_id < {_BENCH_MAX_ID}
    ),
    corp AS (
      SELECT doc_id, unnest(hs) AS h FROM hsh WHERE doc_id >= {_BENCH_MAX_ID}
    ),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_shared
      FROM corp JOIN bench USING (h) GROUP BY doc_id
    )
    SELECT d.doc_id,
      CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
      COALESCE(h.n_shared, 0) >= {CONTAMINATION_MIN_SHARED} AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {_BENCH_MAX_ID}) d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ 5 distinct
    3-gram shingles with the benchmark set (docs 0..19 as the stand-in
    eval set). The benchmark shingle set is broadcast — the 100 TB shape,
    since eval sets are MBs against a TB-scale corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < _BENCH_MAX_ID)
    corpus = docs.where(F.col("doc_id") >= _BENCH_MAX_ID)
    return shared_shingle_counts(corpus, bench)


@query(
    "text_repetition",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, toks,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_grams,
        CAST(len({_SQL_SHINGLES}) AS BIGINT) AS n_distinct_grams
      FROM t
    ),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    cnts AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM ex GROUP BY doc_id, tok),
    top AS (
      SELECT doc_id, tok AS top_token, cnt AS top_cnt FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY cnt DESC, tok
        ) AS rn FROM cnts
      ) WHERE rn = 1
    )
    -- ratios in exact integer micro-units (see registry.py determinism
    -- rules): floor((2*x*1e6 + d) / (2*d)) is half-up round(1e6 * x / d)
    SELECT m.doc_id, m.n_tokens,
      CASE WHEN n_tokens > 0 THEN
        1.0 - CAST((2 * n_distinct * 1000000 + n_tokens) // (2 * n_tokens)
                   AS DOUBLE) / 1000000.0
      ELSE 0.0 END AS dup_token_ratio,
      CASE WHEN n_grams > 0 THEN
        1.0 - CAST((2 * n_distinct_grams * 1000000 + n_grams) // (2 * n_grams)
                   AS DOUBLE) / 1000000.0
      ELSE 0.0 END AS dup_shingle_ratio,
      CASE WHEN n_tokens > 0 THEN
        CAST((2 * COALESCE(top_cnt, 0) * 1000000 + n_tokens) // (2 * n_tokens)
             AS DOUBLE) / 1000000.0
      ELSE 0.0 END AS top_token_ratio,
      COALESCE(top_token, '') AS top_token
    FROM m LEFT JOIN top ON m.doc_id = top.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token ratio, duplicate
    3-gram ratio (both narrow array expressions), most-frequent-token
    share (one explode + map-side-combined groupBy)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(docs)


def _planted_text(doc_id: F.Column, text: F.Column) -> F.Column:
    """Deterministically plant PII into a slice of docs (both engines build
    the identical string, same construction as sim_near_dup's planted
    duplicates) so the scrub query is non-vacuous on the word-soup corpus."""
    return F.concat(
        text,
        F.when(
            doc_id % 5 == 0,
            F.concat(
                F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 7 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad(F.pmod(doc_id, 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 11 == 0,
            F.concat(
                F.lit(" host 10.0."),
                F.pmod(doc_id, 256).cast("string"),
                F.lit("."),
                F.pmod(doc_id * 7, 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


@query(
    "text_pii_scrub",
    extra=True,
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 5 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
        || CASE WHEN doc_id % 11 = 0
                THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                     || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                ELSE '' END
        AS ptext
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(ptext, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(ptext, '{PHONE_RE}')) AS BIGINT) AS n_phones,
      CAST(len(regexp_extract_all(ptext, '{IPV4_RE}')) AS BIGINT) AS n_ipv4,
      md5(regexp_replace(regexp_replace(regexp_replace(
            ptext, '{EMAIL_RE}', '[EMAIL]', 'g'),
            '{IPV4_RE}', '[IP]', 'g'),
            '{PHONE_RE}', '[PHONE]', 'g')) AS redacted_fp
    FROM p
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus with deterministically planted emails /
    phones / IPv4s: per-category counts plus the md5 fingerprint of the
    redacted text (fingerprint, not the text itself, keeps the compared
    result narrow). One regexp pass, no shuffle."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    planted = docs.select(
        "doc_id", _planted_text(F.col("doc_id"), F.col("text")).alias("ptext")
    )
    cols = pii_scrub("ptext")
    return planted.select(
        "doc_id",
        cols["n_emails"].alias("n_emails"),
        cols["n_phones"].alias("n_phones"),
        cols["n_ipv4"].alias("n_ipv4"),
        F.md5(cols["redacted"]).alias("redacted_fp"),
    )


from ..operators.dedup import MINHASH_PRIME  # noqa: E402
from ..operators.textclean import duplicate_spans  # noqa: E402
from .dedup_queries import _BOILERPLATE  # noqa: E402

#: gram width for the duplicate-span demo (tokens)
_SPAN_K = 8


@query(
    "text_dup_spans",
    extra=True,
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' {_BOILERPLATE}'
                  ELSE text END AS text
      FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 0
    ),
    t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
    g1 AS (
      SELECT doc_id,
             unnest([{{'pos': i - 1,
                       's': array_to_string(toks[i:i+{_SPAN_K - 1}], ' ')}}
                     for i in range(1, len(toks) - {_SPAN_K - 2})]) AS pg
      FROM t
    ),
    grams AS (
      SELECT doc_id, pg.pos AS pos,
             md5_number_lower(pg.s) % {MINHASH_PRIME} AS g
      FROM g1
    ),
    dupg AS (
      SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    marked AS (SELECT m.doc_id, m.pos FROM grams m JOIN dupg USING (g)),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                            + {_SPAN_K}
                  THEN 1 ELSE 0 END AS brk
      FROM marked
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS isl
      FROM flagged
    )
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {_SPAN_K} AS BIGINT) AS span_end
    FROM isl GROUP BY doc_id, isl
    """,
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span detection (hash-grouped {k}-token grams merged
    into maximal [start, end) token ranges) under two plants: the 15-token
    boilerplate footer on every 3rd doc (cross-doc duplicated suffix) and a
    verbatim copy of every 20th doc (whole-doc span). Row-level oracle:
    DuckDB replays gram hashing, the >=2-distinct-docs gram filter, and the
    gaps-and-islands merge, span for span. The distributed form of
    exact-substring dedup — see operators/textclean.duplicate_spans."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    boilered = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + _BOILERPLATE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    copies = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    corpus = boilered.unionByName(copies)
    return duplicate_spans(corpus, k=_SPAN_K)


@query(
    "q_psi_drift",
    extra=True,
    oracle="""
    WITH d AS (
      SELECT CASE WHEN md5_number_lower('psi-v1:' || CAST(doc_id AS VARCHAR))
                       % 2147483647 % 100 < 50
                  THEN 'e' ELSE 'a' END AS snap,
             least(n_chars // 200, 9) AS bin
      FROM documents
    ),
    spine AS (SELECT unnest(range(10)) AS bin),
    ce AS (SELECT bin, count(*) AS n FROM d WHERE snap = 'e' GROUP BY bin),
    ca AS (SELECT bin, count(*) AS n FROM d WHERE snap = 'a' GROUP BY bin),
    bins AS (
      SELECT spine.bin,
             COALESCE(ce.n, 0) AS n_expected,
             COALESCE(ca.n, 0) AS n_actual
      FROM spine LEFT JOIN ce USING (bin) LEFT JOIN ca USING (bin)
    ),
    probs AS (
      SELECT bin, n_expected, n_actual,
             CAST(n_expected + 1 AS DOUBLE)
               / CAST((SELECT SUM(n_expected) FROM bins) + 10 AS DOUBLE) AS pe,
             CAST(n_actual + 1 AS DOUBLE)
               / CAST((SELECT SUM(n_actual) FROM bins) + 10 AS DOUBLE) AS pa
      FROM bins
    ),
    terms AS (
      SELECT bin, n_expected, n_actual,
             CAST(ROUND((pa - pe) * ln(pa / pe) * 1000000.0)
                  AS BIGINT) AS psi_term_micro
      FROM probs
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n_expected AS BIGINT) AS n_expected,
           CAST(n_actual AS BIGINT) AS n_actual,
           psi_term_micro,
           CAST(SUM(psi_term_micro) OVER () AS BIGINT) AS psi_total_micro
    FROM terms
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift gate (operators/quality.py:
    psi_drift) between two deterministic hash-split snapshots of the
    corpus, over fixed-width n_chars bins (200-char buckets, capped at bin
    9). The split rides the same salted-md5 residue as
    text_train_val_split, the binning is pure integer division, and each
    PSI term is micro-unit snapped before totalling — so the DuckDB replay
    is hash-exact despite the ln(). A real drifted ingest would show a
    fat psi_total_micro; two uniform halves of the same corpus (as here)
    must show PSI ~ 0 — which the oracle verifies EXACTLY, not just
    approximately.

    Scale: the corpus is touched exactly twice (one counting scan per
    snapshot, ≤ n_bins rows shuffled each); the PSI math runs on a
    10-row relation. Drift-gating a 100 TB ingest costs two scans.
    """
    from ..functions.scalar import stable_hash_p31
    from ..operators.quality import psi_drift

    docs = load_table(spark, sf_dir, "documents").select(
        F.pmod(
            stable_hash_p31(
                F.concat(F.lit("psi-v1:"), F.col("doc_id").cast("string"))
            ),
            F.lit(100),
        ).alias("bucket"),
        F.least(F.expr("n_chars div 200"), F.lit(9)).alias("bin"),
    )
    expected = docs.where(F.col("bucket") < 50)
    actual = docs.where(F.col("bucket") >= 50)
    return psi_drift(expected, actual, "bin", 10)


@query(
    "q_roc_auc",
    # promoted to the graded window in round 7: the eval family's first driver-graded representative
    oracle="""
    WITH g AS (
      SELECT n_chars AS s, COUNT(*) AS c,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p
      FROM documents GROUP BY n_chars
    ),
    r AS (
      SELECT s, c, p,
             COALESCE(SUM(c) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum
      FROM g
    ),
    t AS (
      SELECT SUM(p * (2 * cum + c + 1)) AS s2,
             SUM(p) AS n_pos, SUM(c - p) AS n_neg
      FROM r
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(ROUND((s2 - n_pos * (n_pos + 1)) * 1000000.0
                      / (2.0 * n_pos * n_neg)) AS BIGINT) AS auc_ppm
    FROM t
    """,
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC (operators/quality.py:roc_auc_histogram) of
    document length as a predictor of lang='en' — the classifier-eval
    primitive every quality-filter loop needs, in its histogram
    formulation: exact tie-averaged Mann-Whitney rank-sum computed on
    the (score → count, positives) distribution relation, so the only
    corpus-sized operation is ONE map-side-combining groupBy; the
    prefix-sum window rides over |distinct scores| rows (the psi_drift
    small-relation exception) and the end is integer arithmetic with a
    single ppm-snapped division.
    """
    from ..operators.quality import roc_auc_histogram

    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").alias("is_en")
    )
    return roc_auc_histogram(docs, "n_chars", "is_en")


@query(
    "q_calibration_bins",
    extra=True,
    oracle="""
    WITH r AS (
      SELECT CAST(MIN(n_chars) AS BIGINT) AS lo, CAST(MAX(n_chars) AS BIGINT) AS hi
      FROM documents
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR((d.n_chars - r.lo) * 10.0 / (r.hi - r.lo + 1))
                        AS BIGINT), 9) AS bin,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents d, r
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(ROUND(SUM(y) * 1000000.0 / COUNT(*)) AS BIGINT) AS pos_ppm
    FROM b GROUP BY bin
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability/calibration table for the q_roc_auc score: equi-width
    decile bins of the score range with per-bin positive rate (ppm) —
    the second half of classifier evaluation (AUC says the ranking is
    good; calibration says the score VALUES mean what they claim).

    Scale note: bins derive from a 1-row (min, max) aggregate broadcast
    via crossJoin — NOT an NTILE global window, which would drag the
    corpus through one partition; binning is then a map-side integer
    expression and the per-bin agg combines map-side into ≤10 rows.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").cast("int").alias("y")
    )
    r = F.broadcast(
        docs.agg(
            F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
        )
    )
    binned = docs.crossJoin(r).select(
        F.least(
            F.floor(
                (F.col("n_chars") - F.col("lo"))
                * 10.0
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("long"),
            F.lit(9).cast("long"),
        ).alias("bin"),
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").alias("n_pos"),
        F.round(F.sum("y") * 1000000.0 / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("pos_ppm"),
    )


@query(
    "q_k_anonymity",
    # graded since round 13: the privacy-audit family's representative
    oracle="""
    WITH q AS (
      SELECT lang, source,
             CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket,
             COUNT(*) AS n
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_classes,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_suppressed_docs,
           CAST(MIN(n) AS BIGINT) AS min_class_size
    FROM q
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (lang, source,
    length-bucket): equivalence-class census with the k=5 suppression
    report — how many classes are too small to release and how many
    documents they'd suppress. The governance primitive for publishing
    corpus statistics without re-identification risk, next to the PII
    scanner: PII finds direct identifiers, this measures the indirect
    (linkage) surface.

    Scale: ONE map-side-combining groupBy over the quasi-id tuple (the
    exchange is equivalence-class-sized), then a 1-row census aggregate
    — the audit costs one pass regardless of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    q = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100.0).cast("long").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    small = F.when(F.col("n") < 5, 1).otherwise(0)
    return q.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(small).alias("n_small_classes"),
        F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0)).alias(
            "n_suppressed_docs"
        ),
        F.min("n").alias("min_class_size"),
    )


@query(
    "q_roc_auc_by_lang",
    extra=True,
    oracle="""
    WITH g AS (
      SELECT lang AS grp, n_chars AS s, COUNT(*) AS c,
             SUM(CASE WHEN source LIKE 'src1%' THEN 1 ELSE 0 END) AS p
      FROM documents GROUP BY 1, 2
    ),
    r AS (
      SELECT grp, s, c, p,
             COALESCE(SUM(c) OVER (
               PARTITION BY grp ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum
      FROM g
    ),
    t AS (
      SELECT grp, SUM(p * (2 * cum + c + 1)) AS s2,
             SUM(p) AS n_pos, SUM(c - p) AS n_neg
      FROM r GROUP BY grp
    )
    SELECT grp AS "group",
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(ROUND((s2 - n_pos * (n_pos + 1)) * 1000000.0
                        / (2.0 * n_pos * n_neg)) AS BIGINT)
           END AS auc_ppm
    FROM t
    """,
)
def q_roc_auc_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language AUC slices (operators/quality.py:roc_auc_by_group):
    the grouped generalization of q_roc_auc — one tie-exact Mann-Whitney
    AUC row per lang, score = n_chars, label = source ∈ src1* — sliced
    evaluation being how corpus-quality models are actually reported
    (a global AUC hides per-language regressions). Same integer
    determinism; single-class groups emit NULL AUC instead of vanishing.
    """
    from ..operators.quality import roc_auc_by_group

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "n_chars", F.col("source").like("src1%").alias("is_pos")
    )
    return roc_auc_by_group(docs, "n_chars", "is_pos", "lang")


@query(
    "q_gini_concentration",
    extra=True,
    oracle="""
    WITH u AS (
      SELECT user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY y, user_id) AS i FROM u
    ),
    t AS (
      SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(i * y) AS siy FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(sy AS BIGINT) AS total_cents,
           CAST(ROUND((2 * siy - (n + 1) * sy) * 1000000.0
                      / (n * sy)) AS BIGINT) AS gini_ppm
    FROM t
    """,
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user total spend — the concentration/
    imbalance metric (the same statistic that audits SOURCE concentration
    in a training corpus: a high Gini means a few origins dominate the
    mix). Computed by the rank formulation G = (2·Σi·yᵢ − (n+1)·Σy)/(n·Σy)
    over ascending (y, user_id)-ranked totals — integers until the one
    ppm-snapped division.

    Scale note (round-10: the global rank window here was the audit's
    one genuinely user-grain unpartitioned Window): the exact ascending
    rank now comes from operators/ids.py:assign_dense_ids
    (range-repartition + per-partition offset ranks — the same total
    order, full parallelism), so the per-user aggregate never funnels
    through one partition; the oracle stays the textbook ROW_NUMBER
    definition, pinning the device to the window semantics.
    """
    from ..operators.ids import assign_dense_ids

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", cents("value").alias("v_cents")
    )
    u = ev.groupBy("user_id").agg(F.sum("v_cents").alias("y"))
    r = assign_dense_ids(u, ["y", "user_id"], "i0").select(
        "y", (F.col("i0") + 1).alias("i")
    )
    t = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("i") * F.col("y")).alias("siy"),
    )
    return t.select(
        F.col("n").alias("n_users"),
        F.col("sy").alias("total_cents"),
        F.round(
            (2 * F.col("siy") - (F.col("n") + 1) * F.col("sy"))
            * 1000000.0
            / (F.col("n") * F.col("sy")),
            0,
        )
        .cast("long")
        .alias("gini_ppm"),
    )


@query(
    "q_chi_square_independence",
    extra=True,
    oracle="""
    WITH o AS (
      SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, SUM(obs) AS r FROM o GROUP BY lang),
    ct AS (SELECT source, SUM(obs) AS c FROM o GROUP BY source),
    n AS (SELECT SUM(obs) AS n FROM o),
    terms AS (
      SELECT CAST(ROUND(
               (o.obs - CAST(rt.r * ct.c AS DOUBLE) / n.n)
               * (o.obs - CAST(rt.r * ct.c AS DOUBLE) / n.n)
               / (CAST(rt.r * ct.c AS DOUBLE) / n.n) * 1000000
             ) AS BIGINT) AS t_micro
      FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
    )
    SELECT CAST((SELECT COUNT(*) FROM o) AS BIGINT) AS n_cells,
           CAST(SUM(t_micro) AS BIGINT) AS chi2_micro
    FROM terms
    """,
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for lang ⊥ source over the observed
    contingency table — the corpus-balance audit ("is language mix
    independent of origin?") beside PSI/JS drift. Each cell's
    (o−e)²/e term is micro-snapped BEFORE the sum (the per-term snap
    device — e = r·c/N is one double division with identical integer
    operands on both engines), so the statistic value-hashes despite
    being a sum of float terms.

    Scale: the contingency table is one map-side-combining groupBy;
    margins and N derive from it (cells-sized, broadcast); the term sum
    is cells-sized. Raw docs are touched once.
    """
    from ..functions.scale import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    # the contingency table feeds FOUR consumers (margins, N, terms) —
    # persist the cells-sized relation so the corpus groupBy runs once
    o = scoped_persist(
        docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs")),
        "chi_square.contingency",
    )
    rt = o.groupBy("lang").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs").alias("n"))
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n")
    terms = (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select(
            F.round(
                (F.col("obs") - e) * (F.col("obs") - e) / e * 1000000, 0
            )
            .cast("long")
            .alias("t_micro")
        )
    )
    n_cells = o.agg(F.count(F.lit(1)).alias("n_cells"))
    return (
        terms.agg(F.sum("t_micro").alias("chi2_micro"))
        .crossJoin(F.broadcast(n_cells))
        .select("n_cells", "chi2_micro")
    )


@query(
    "q_corpus_card",
    extra=True,
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n_docs,
             COUNT(DISTINCT source) AS n_sources,
             COUNT(DISTINCT lang) AS n_langs,
             SUM(n_chars) AS total_chars,
             COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dup_docs
      FROM documents
    ),
    lc AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
    dom AS (SELECT lang FROM lc ORDER BY c DESC, lang LIMIT 1),
    ent AS (
      SELECT SUM(CAST(ROUND(c * ln(c) * 1000000) AS BIGINT)) AS sum_clnc,
             SUM(c) AS n
      FROM lc
    )
    SELECT CAST(base.n_docs AS BIGINT) AS n_docs,
           CAST(base.n_sources AS BIGINT) AS n_sources,
           CAST(base.n_langs AS BIGINT) AS n_langs,
           CAST(base.total_chars AS BIGINT) AS total_chars,
           CAST(base.n_exact_dup_docs AS BIGINT) AS n_exact_dup_docs,
           dom.lang AS dominant_lang,
           CAST(CAST(ROUND(ln(ent.n) * 1000000) AS BIGINT)
                - CAST(ROUND(CAST(ent.sum_clnc AS DOUBLE) / ent.n) AS BIGINT)
             AS BIGINT) AS lang_entropy_micro
    FROM base, dom, ent
    """,
)
def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row DATASET CARD: the corpus-level profile every released
    training set ships with — doc/source/language counts, total chars,
    exact-duplicate count (docs minus distinct content digests),
    dominant language, and the language-distribution entropy (piecewise
    micro-snapped, the text_token_entropy device) — assembled as one
    composition of 1-row aggregates joined by broadcast crossJoins.

    Scale: three map-side-combining passes (global aggregate, per-lang
    counts, digest distinct) — each exchange is constant- or
    cardinality-sized; no windows, no corpus-sized broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias(
            "n_exact_dup_docs"
        ),
    )
    lc = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    dom = lc.orderBy(F.col("c").desc(), F.col("lang")).limit(1).select(
        F.col("lang").alias("dominant_lang")
    )
    ent = lc.agg(
        F.sum(
            F.round(F.col("c") * F.log(F.col("c")) * 1000000.0, 0).cast("long")
        ).alias("sum_clnc"),
        F.sum("c").alias("n"),
    )
    return (
        base.crossJoin(F.broadcast(dom))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "total_chars",
            "n_exact_dup_docs",
            "dominant_lang",
            (
                F.round(F.log(F.col("n")) * 1000000.0, 0).cast("long")
                - F.round(
                    F.col("sum_clnc").cast("double") / F.col("n"), 0
                ).cast("long")
            )
            .cast("long")
            .alias("lang_entropy_micro"),
        )
    )


@query(
    "q_spearman_correlation",
    extra=True,
    oracle="""
    WITH u AS (
      SELECT user_id, COUNT(*) AS x,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY user_id
    ),
    gx AS (SELECT x, COUNT(*) AS c FROM u GROUP BY x),
    rx AS (
      SELECT x, 2 * COALESCE(SUM(c) OVER (
               ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + c + 1 AS r2
      FROM gx
    ),
    gy AS (SELECT y, COUNT(*) AS c FROM u GROUP BY y),
    ry AS (
      SELECT y, 2 * COALESCE(SUM(c) OVER (
               ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + c + 1 AS r2
      FROM gy
    ),
    r AS (
      SELECT u.user_id, rx.r2 AS a, ry.r2 AS b
      FROM u JOIN rx ON rx.x = u.x JOIN ry ON ry.y = u.y
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
             SUM(a * b) AS sab, SUM(a * a) AS saa, SUM(b * b) AS sbb
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(ROUND(
             (n * sab - sa * sb) * 1000000.0
             / SQRT(CAST(n * saa - sa * sa AS DOUBLE)
                    * CAST(n * sbb - sb * sb AS DOUBLE))
           ) AS BIGINT) AS spearman_ppm
    FROM s
    """,
)
def q_spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-user activity (event count)
    and spend (total cents), TIE-EXACT: midranks come from the
    score-distribution prefix-sum device (the roc_auc_histogram
    formulation), kept DOUBLED so they stay integers; every sum in the
    Pearson-of-ranks formula is then exact, and the one composite double
    expression (product under the sqrt + final division) has identical
    operand order on both engines before the ppm snap. The monotone-
    association member of the statistics family (chi² tests
    independence of categoricals, this ranks ordinals).

    Scale: per-user aggregate → two distribution-sized rank relations
    (broadcast into the rank join) → one 1-row moment aggregate; raw
    events shuffle once.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", cents("value").alias("v_cents")
    )
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"), F.sum("v_cents").alias("y")
    )

    def midranks(col: str) -> DataFrame:
        g = u.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = (
            Window.orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return g.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).alias("r2"),
        )

    rx = midranks("x").withColumnRenamed("r2", "a")
    ry = midranks("y").withColumnRenamed("r2", "b")
    r = u.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    d1 = (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    d2 = (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(num * 1000000.0 / F.sqrt(d1 * d2), 0)
        .cast("long")
        .alias("spearman_ppm"),
    )


@query(
    "q_wilson_bounds",
    extra=True,
    oracle="""
    WITH s AS (
      SELECT source, COUNT(*) AS n,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS k
      FROM documents GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(k AS BIGINT) AS n_en,
           CAST(ROUND(
             (CAST(k AS DOUBLE) / n + 1.9208 / n
              - 1.96 * SQRT((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + 0.9604 / (CAST(n AS DOUBLE) * n)))
             / (1.0 + 3.8416 / n) * 1000000
           ) AS BIGINT) AS lo_ppm,
           CAST(ROUND(
             (CAST(k AS DOUBLE) / n + 1.9208 / n
              + 1.96 * SQRT((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + 0.9604 / (CAST(n AS DOUBLE) * n)))
             / (1.0 + 3.8416 / n) * 1000000
           ) AS BIGINT) AS hi_ppm
    FROM s
    """,
)
def q_wilson_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for each source's English-document rate
    — the honest uncertainty band every per-slice rate report needs
    (small sources get wide bands instead of false precision; the naive
    ±1.96√(pq/n) interval collapses at p≈0 or tiny n, Wilson doesn't).
    The full composite formula is ONE double expression with identical
    operand order on both engines (constants pre-squared: z=1.96,
    z²=3.8416, z²/2=1.9208, z⁴/4=0.9604), snapped once per bound.

    Scale: one map-side-combining groupBy(source); the interval math is
    a scalar projection over the source-cardinality relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    rad = F.sqrt(
        p * (1.0 - p) / F.col("n")
        + 0.9604 / (F.col("n").cast("double") * F.col("n"))
    )
    denom = 1.0 + 3.8416 / F.col("n")

    def bound(sign: int):
        center = p + 1.9208 / F.col("n")
        expr = (center + sign * 1.96 * rad) / denom * 1000000
        return F.round(expr, 0).cast("long")

    return s.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.col("k").cast("long").alias("n_en"),
        bound(-1).alias("lo_ppm"),
        bound(+1).alias("hi_ppm"),
    )


@query(
    "q_ks_two_sample",
    # graded since round 13: the hypothesis-testing family's representative
    oracle="""
    WITH g AS (
      SELECT n_chars AS x,
             SUM(CASE WHEN source LIKE 'src1%' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN source LIKE 'src1%' THEN 0 ELSE 1 END) AS cb
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT x,
             SUM(ca) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             SUM(cb) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      FROM g
    ),
    t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM g)
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           CAST(ROUND(MAX(ABS(c.cuma * t.nb - c.cumb * t.na))
                      * 1000000.0 / (t.na * t.nb)) AS BIGINT) AS ks_d_ppm
    FROM c, t
    GROUP BY t.na, t.nb
    """,
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the length
    distributions of the src1* sources and the rest — D = max|F_A − F_B|
    computed as integer cross-multiplied cumulative counts over the
    merged value distribution, one ppm-snapped division at the end.
    Completes the drift-test family: PSI (binned), JS divergence
    (vocab), chi² (categorical independence), KS (continuous CDFs,
    bin-free).

    Scale: one map-side-combining groupBy(value) with both groups'
    counts as CASE sums (one pass, no join of two samples), a prefix
    window over the |distinct values| relation, and a 1-row max.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars", F.col("source").like("src1%").alias("is_a")
    )
    g = docs.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("cb"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = g.select(
        F.sum("ca").over(w).alias("cuma"), F.sum("cb").over(w).alias("cumb")
    )
    t = F.broadcast(g.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb")))
    return (
        c.crossJoin(t)
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
            ).alias("maxd")
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.round(
                F.col("maxd") * 1000000.0 / (F.col("na") * F.col("nb")), 0
            )
            .cast("long")
            .alias("ks_d_ppm"),
        )
    )


@query(
    "q_benford_digit_audit",
    extra=True,
    oracle="""
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
               AS BIGINT) AS digit
      FROM events WHERE value > 0
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT c.digit, CAST(c.n AS BIGINT) AS n,
           CAST(ROUND(c.n * 1000000.0 / t.total) AS BIGINT) AS observed_ppm,
           CAST(ROUND(ln(1.0 + 1.0 / c.digit) / ln(10.0) * 1000000)
             AS BIGINT) AS benford_ppm
    FROM c, t
    """,
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the value column: observed
    leading-digit shares (of integer cents) next to the Benford
    expectation log10(1 + 1/d) — the classic fabricated-data /
    pipeline-corruption smoke test (synthetic uniform values fail it
    loudly; organic multiplicative data passes). Both shares
    ppm-snapped; the digit extraction goes through the exact integer
    cents string so both engines see identical digits.

    Scale: one narrow map (digit of each value) + a 9-row count; the
    expectation is a constant expression per digit row.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    d = ev.select(
        F.substring(cents("value").cast("string"), 1, 1).cast("long").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = F.broadcast(c.agg(F.sum("n").alias("total")))
    return c.crossJoin(t).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") * 1000000.0 / F.col("total"), 0)
        .cast("long")
        .alias("observed_ppm"),
        F.round(
            F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)) * 1000000,
            0,
        )
        .cast("long")
        .alias("benford_ppm"),
    )


@query(
    "q_l_diversity",
    extra=True,
    oracle="""
    SELECT lang,
           CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS l_distinct,
           COUNT(DISTINCT source) >= 3 AS l_diverse
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's companion (q_k_anonymity counts
    equivalence-class SIZES; this counts DISTINCT SENSITIVE VALUES per
    class): for each quasi-identifier class (lang, length-bucket), how
    many distinct ``source`` values appear. A class can be k-large yet
    1-diverse (every member from one source), which still leaks the
    sensitive attribute by membership alone; l >= 3 is the release gate.

    Scale: one grouped COUNT(DISTINCT) — Catalyst's two-phase expand; the
    exchange carries (class, source) pairs, bounded by the class census,
    never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang",
            F.floor(F.col("n_chars") / 100.0).cast("long").alias("len_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("l_distinct"),
        )
        .withColumn("l_diverse", F.col("l_distinct") >= 3)
    )


@query(
    "q_quantile_binning",
    extra=True,
    oracle="""
    WITH r AS (
      SELECT c_acctbal,
             ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) - 1 AS rn
      FROM customer
    ),
    n AS (SELECT COUNT(*) AS n_total FROM customer)
    SELECT CAST(rn * 10 // n_total AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(c_acctbal), 2) AS lo,
           ROUND(MAX(c_acctbal), 2) AS hi
    FROM r, n
    GROUP BY 1
    """,
)
def q_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile binning (feature discretization) WITHOUT the
    single-partition global window: the exact global rank comes from
    operators/ids.py:assign_dense_ids (range-repartition + per-partition
    offsets — the same total order a distributed sort pays), bin =
    rank*10 div N with N a 1-row broadcast, then a per-bin census
    (count, lo, hi boundary values). The oracle IS the plain
    ``ROW_NUMBER() OVER (ORDER BY ...)`` definition, so the
    scale-shaped plan is pinned to the textbook semantics."""
    from ..operators.ids import assign_dense_ids

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    ranked = assign_dense_ids(cust, ["c_acctbal", "c_custkey"], "rn")
    n = cust.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "bin", F.expr("CAST(rn * 10 DIV n_total AS INT)")
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


@query(
    "q_gdpr_purge",
    extra=True,
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN user_id % 97 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purged,
           CAST(SUM(CASE WHEN user_id % 97 = 3 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_retained
    FROM events
    GROUP BY event_type
    """,
)
def q_gdpr_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge audit: users with user_id % 97 = 3
    stand in for the deletion-request table; the retained relation is a
    BROADCAST ANTI-JOIN of the fact table against the request list (the
    production purge plan — the request table is always tiny next to the
    100 TB fact), and the per-event-type report reconciles totals vs
    retained so the purge is provably complete (n_purged + n_retained =
    n_events row by row). The oracle states the same census declaratively
    with CASE sums, pinning the anti-join plan to the set semantics."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    purge = (
        ev.select("user_id")
        .where(F.col("user_id") % 97 == 3)
        .distinct()
    )
    retained = (
        ev.join(F.broadcast(purge), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        totals.join(retained, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            (F.col("n_events") - F.coalesce("n_retained", F.lit(0))).alias(
                "n_purged"
            ),
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
        )
    )


@query(
    "q_feature_scale",
    extra=True,
    oracle="""
    WITH v AS (
      SELECT u.dim, CAST(ROUND(u.val * 1000) AS BIGINT) AS vm
      FROM (
        SELECT unnest(range(1, 65)) AS dim,
               unnest(embedding::DOUBLE[]) AS val
        FROM embeddings
      ) u
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- mean in ppm via the integer half-up device (mean itself is a
           -- small-denominator rational — ROUND(double) straddles .5e-6
           -- boundaries, measured at sf0.1 dim 29)
           CAST(FLOOR((2 * CAST(SUM(vm) AS BIGINT) * 1000 + COUNT(*))
                      / (2.0 * COUNT(*))) AS BIGINT) AS mean_ppm,
           ROUND(sqrt(
             CAST(SUM(vm * vm) AS BIGINT) / (COUNT(*)::DOUBLE * 1000000.0)
             - POW(CAST(SUM(vm) AS BIGINT) / (COUNT(*) * 1000.0), 2)
           ), 6) AS std
    FROM v GROUP BY dim
    """,
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-standardization FIT over an array column: per-dimension
    mean and population std of the 64-dim embeddings, computed from
    MILLI-SNAPPED integer moments (each float32 value -> round(v*1e3)
    long; Σvm and Σvm² are then exact and associative, so the two-pass
    textbook formula reproduces across engines — the Spearman/OLS moment
    device applied feature-wise). The fitted 64-row relation is what a
    transform stage broadcast-joins to normalize vectors.

    Scale: posexplode is a narrow 64x row fan-out feeding ONE
    map-side-combining groupBy on dim — the exchange carries
    64 x n_partitions partial moments, never the corpus. Long moments
    hold to ~1e8 rows per the |vm|<=2^17 bound; beyond that the same
    plan runs on DECIMAL(38) moments."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = fan_out(emb).select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "val"
        )
    )
    vm = v.select(
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.round(F.col("val") * 1000, 0).cast("long").alias("vm"),
    )
    return vm.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(
            (2 * F.sum("vm") * 1000 + F.count(F.lit(1)))
            / (2.0 * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("mean_ppm"),
        F.round(
            F.sqrt(
                F.sum(F.col("vm") * F.col("vm"))
                / (F.count(F.lit(1)).cast("double") * 1000000.0)
                - F.pow(F.sum("vm") / (F.count(F.lit(1)) * 1000.0), F.lit(2.0))
            ),
            6,
        ).alias("std"),
    )


@query(
    "text_ngram_novelty",
    extra=True,
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    shg AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
    post AS (SELECT doc_id, unnest(sh) AS g FROM shg),
    dfreq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY g),
    per AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
      FROM post JOIN dfreq USING (g)
      GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_unique,
           CAST(FLOOR((2 * n_unique * 1000000 + n_grams) / (2.0 * n_grams))
                AS BIGINT) AS novelty_ppm
    FROM per
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the memorization-risk / boilerplate
    signal: what fraction of a doc's distinct 3-gram shingles appears in
    NO other document (df = 1). Low novelty = the doc is assembled from
    corpus-common phrasing (template/boilerplate, or a near-copy the
    pair-level dedup family localizes); the score is the cheap per-doc
    triage that runs BEFORE pair generation. Shares the shingle
    normalizer with the dedup family (operators/dedup.py:shingles), so
    the df relation is the same posting list minhash already builds.

    Scale: posting explode -> map-side-combining df count (vocab-of-
    grams exchange) -> posting join back -> per-doc agg; no pair
    relation anywhere, all shuffles carry (gram, count) or (doc, count)
    rows. Novelty reports in integer ppm via the half-up device (the
    ratio is a small-denominator rational)."""
    from ..operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    post = fan_out(docs).select(
        "doc_id", F.explode(shingles("text", 3)).alias("g")
    )
    dfreq = post.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    per = (
        post.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_unique",
        F.floor(
            (2 * F.col("n_unique") * 1000000 + F.col("n_grams"))
            / (2.0 * F.col("n_grams"))
        )
        .cast("long")
        .alias("novelty_ppm"),
    )


@query(
    "q_winsorize",
    extra=True,
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ) - 1 AS rn
      FROM lineitem
    ),
    n AS (SELECT COUNT(*) AS n_total FROM lineitem),
    cuts AS (
      SELECT
        (SELECT l_extendedprice FROM r, n
         WHERE rn = (n_total - 1) * 5 // 100) AS lo_val,
        (SELECT l_extendedprice FROM r, n
         WHERE rn = (n_total - 1) * 95 // 100) AS hi_val
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_extendedprice < lo_val THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_lo,
           CAST(SUM(CASE WHEN l_extendedprice > hi_val THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_hi,
           CAST(SUM(CAST(ROUND(
             CASE WHEN l_extendedprice < lo_val THEN lo_val
                  WHEN l_extendedprice > hi_val THEN hi_val
                  ELSE l_extendedprice END * 100) AS BIGINT)) AS BIGINT)
             AS clipped_cents
    FROM r, cuts
    GROUP BY l_returnflag
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) revenue prep — the robust-statistics
    transform that precedes mean-based features when heavy tails would
    dominate: EXACT percentile cut values from the distributed global
    rank (operators/ids.py:assign_dense_ids — never a single-partition
    window), broadcast back as two scalars, CASE-clip in the scan stage,
    per-flag census of clip counts + clipped money in integer cents.
    The oracle is the textbook ROW_NUMBER definition of the same cuts."""
    from ..operators.ids import assign_dense_ids

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = assign_dense_ids(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"], "rn"
    )
    n = li.agg(F.count(F.lit(1)).alias("n_total"))
    marked = ranked.crossJoin(F.broadcast(n))
    lo = marked.where(
        F.col("rn") == F.expr("(n_total - 1) * 5 DIV 100")
    ).select(F.col("l_extendedprice").alias("lo_val"))
    hi = marked.where(
        F.col("rn") == F.expr("(n_total - 1) * 95 DIV 100")
    ).select(F.col("l_extendedprice").alias("hi_val"))
    clipped = (
        li.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "l_returnflag",
            "l_extendedprice",
            "lo_val",
            "hi_val",
            F.when(F.col("l_extendedprice") < F.col("lo_val"), F.col("lo_val"))
            .when(F.col("l_extendedprice") > F.col("hi_val"), F.col("hi_val"))
            .otherwise(F.col("l_extendedprice"))
            .alias("cv"),
        )
    )
    return clipped.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (F.col("l_extendedprice") < F.col("lo_val")).cast("long")
        ).alias("n_clipped_lo"),
        F.sum(
            (F.col("l_extendedprice") > F.col("hi_val")).cast("long")
        ).alias("n_clipped_hi"),
        F.sum(cents("cv")).alias("clipped_cents"),
    )


@query(
    "q_bootstrap_ci",
    extra=True,
    oracle="""
    WITH b AS (SELECT unnest(range(1, 21)) AS b),
    draws AS (
      SELECT b.b, d.n_chars
      FROM documents d, b
      WHERE md5_number_lower('boot-v1:' || CAST(b.b AS VARCHAR) || ':'
                             || CAST(d.doc_id AS VARCHAR))
            % 2147483647 % 1000000 < 500000
    ),
    means AS (
      SELECT b,
             CAST(FLOOR((2 * CAST(SUM(n_chars) AS BIGINT) * 1000000
                         + COUNT(*)) / (2.0 * COUNT(*))) AS BIGINT) AS m_ppm
      FROM draws GROUP BY b
    ),
    ranked AS (
      SELECT m_ppm, ROW_NUMBER() OVER (ORDER BY m_ppm, b) AS r FROM means
    ),
    point AS (
      SELECT CAST(FLOOR((2 * CAST(SUM(n_chars) AS BIGINT) * 1000000
                         + COUNT(*)) / (2.0 * COUNT(*))) AS BIGINT) AS p_ppm
      FROM documents
    )
    SELECT (SELECT p_ppm FROM point) AS point_ppm,
           (SELECT m_ppm FROM ranked WHERE r = 2) AS lo_ppm,
           (SELECT m_ppm FROM ranked WHERE r = 19) AS hi_ppm,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM means) AS n_resamples
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling confidence interval for the corpus mean doc length: 20
    deterministic half-rate hash subsamples (the stratified_sample draw
    contract keyed by (resample, doc)), each subsample's mean in integer
    ppm via the half-up device, CI = [2nd, 19th] order statistic of the
    20 means — subsampling ("m out of n bootstrap") rather than
    with-replacement draws, which keeps every step a pure hash predicate.
    The oracle replays all 20 subsample memberships row-for-row.

    Scale: ONE pass over a 20x narrow fan-out (explode of a constant
    range, filtered in the scan stage), a 20-row aggregate, and a
    constant-size rank — no corpus shuffle at all."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = spark.range(1, 21).select(F.col("id").alias("b"))
    draws = (
        fan_out(docs)
        .crossJoin(F.broadcast(b))
        .where(
            F.pmod(
                F.pmod(
                    stable_hash_p31(
                        F.concat(
                            F.lit("boot-v1:"),
                            F.col("b").cast("string"),
                            F.lit(":"),
                            F.col("doc_id").cast("string"),
                        )
                    ),
                    F.lit(2147483647).cast("long"),
                ),
                F.lit(1000000),
            )
            < 500000
        )
    )
    means = draws.groupBy("b").agg(
        F.floor(
            (2 * F.sum("n_chars") * 1000000 + F.count(F.lit(1)))
            / (2.0 * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("m_ppm")
    )
    ranked = means.withColumn(
        "r", F.row_number().over(Window.orderBy("m_ppm", "b"))
    )
    point = docs.agg(
        F.floor(
            (2 * F.sum("n_chars") * 1000000 + F.count(F.lit(1)))
            / (2.0 * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("point_ppm")
    )
    lo = ranked.where(F.col("r") == 2).select(F.col("m_ppm").alias("lo_ppm"))
    hi = ranked.where(F.col("r") == 19).select(F.col("m_ppm").alias("hi_ppm"))
    nr = means.agg(F.count(F.lit(1)).alias("n_resamples"))
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(nr))
    )


@query(
    "q_t_closeness",
    extra=True,
    oracle="""
    WITH c AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             LEAST(9, GREATEST(0,
               (CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000)
               // 110000)) AS b
      FROM customer
    ),
    cls AS (SELECT seg, nat, CAST(COUNT(*) AS BIGINT) AS n_c
            FROM c GROUP BY seg, nat),
    spine AS (
      SELECT seg, nat, n_c, bk.b
      FROM cls CROSS JOIN (SELECT unnest(range(0, 10)) AS b) bk
    ),
    cnt AS (SELECT seg, nat, b, CAST(COUNT(*) AS BIGINT) AS n
            FROM c GROUP BY seg, nat, b),
    gl AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_b FROM c GROUP BY b),
    glc AS (
      SELECT bk.b,
             CAST(COALESCE(SUM(gl.n_b) FILTER (WHERE gl.b <= bk.b), 0)
                  AS BIGINT) AS cum_g,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_g
      FROM (SELECT unnest(range(0, 10)) AS b) bk LEFT JOIN gl ON TRUE
      GROUP BY bk.b
    ),
    cum AS (
      SELECT s.seg, s.nat, s.n_c, s.b,
             CAST(SUM(COALESCE(cnt.n, 0)) OVER (
               PARTITION BY s.seg, s.nat ORDER BY s.b) AS BIGINT) AS cum_c
      FROM spine s LEFT JOIN cnt
        ON cnt.seg = s.seg AND cnt.nat = s.nat AND cnt.b = s.b
    ),
    emd AS (
      SELECT cum.seg, cum.nat, cum.n_c,
             CAST(SUM(ABS(cum.cum_c * g.n_g - g.cum_g * cum.n_c))
                  AS BIGINT) AS sum_abs,
             MAX(g.n_g) AS n_g
      FROM cum JOIN glc g ON g.b = cum.b
      WHERE cum.b < 9
      GROUP BY cum.seg, cum.nat, cum.n_c
    )
    SELECT seg, nat, n_c,
           CAST((2 * sum_abs * 1000000 + 9 * n_c * n_g)
                // (2 * 9 * n_c * n_g) AS BIGINT) AS emd_ppm,
           CAST((2 * sum_abs * 1000000 + 9 * n_c * n_g)
                // (2 * 9 * n_c * n_g) AS BIGINT) <= 200000 AS t_close
    FROM emd
    """,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (k-anonymity/l-diversity's distribution-aware
    companion): per quasi-identifier class (mktsegment, nationkey), the
    Earth Mover's Distance between the class's sensitive-attribute
    distribution (acctbal in 10 fixed-width buckets over the full
    [-1000, 10000) domain) and the global one; a class leaks when its
    distribution is far from the crowd's even if every value is
    distinct. EMD over an ordered attribute is the mean |cumulative
    share difference| (Li et al.'s ordered-distance form); shares are
    never materialized — the cumulative diff is cross-multiplied to the
    EXACT INTEGER cum_c*N_g - cum_g*N_c over denominator N_c*N_g, summed
    over the first b-1 cut points, and reported via the half-up ppm
    device. (Long headroom: sum_abs <= 9*N_c*N_g; the 2e6 multiplier
    keeps products under 2^63 up to N_c*N_g ~ 4.6e11 — beyond that,
    pre-divide the global side to ppk shares first.)

    Scale: one narrow scan bucketized in codegen; class histogram +
    global histogram are two map-side-combining groupBys; the dense
    bucket spine (classes x 10) restores absent buckets BEFORE the
    bounded 10-row-per-class cumulative window; the 10-row global CDF
    broadcasts. No driver loops, no unbounded window."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.call_function(
                    "div", cents("c_acctbal") + 100000, F.lit(110000)
                ),
            ),
        ).alias("b"),
    )
    cls = cust.groupBy("seg", "nat").agg(F.count(F.lit(1)).alias("n_c"))
    spine = cls.crossJoin(
        F.broadcast(spark.range(10).select(F.col("id").alias("b")))
    )
    cnt = cust.groupBy("seg", "nat", "b").agg(F.count(F.lit(1)).alias("n"))
    gl = cust.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    glc = (
        spark.range(10)
        .select(F.col("id").alias("b"))
        .join(gl, "b", "left")
        .select("b", F.coalesce("n_b", F.lit(0)).alias("n_b"))
        .withColumn(
            "cum_g",
            F.sum("n_b").over(
                Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .crossJoin(
            F.broadcast(cust.agg(F.count(F.lit(1)).alias("n_g")))
        )
        .select("b", "cum_g", "n_g")
    )
    w = (
        Window.partitionBy("seg", "nat")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        spine.join(cnt, ["seg", "nat", "b"], "left")
        .select(
            "seg", "nat", "n_c", "b", F.coalesce("n", F.lit(0)).alias("n")
        )
        .withColumn("cum_c", F.sum("n").over(w))
    )
    emd = (
        cum.where(F.col("b") < 9)
        .join(F.broadcast(glc), "b")
        .groupBy("seg", "nat", "n_c")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_c") * F.col("n_g")
                    - F.col("cum_g") * F.col("n_c")
                )
            ).alias("sum_abs"),
            F.max("n_g").alias("n_g"),
        )
    )
    from ..functions.scalar import half_up_units

    emd_ppm = half_up_units(
        F.col("sum_abs"), F.lit(9) * F.col("n_c") * F.col("n_g"), 1_000_000
    )
    return emd.select(
        "seg",
        "nat",
        "n_c",
        emd_ppm.alias("emd_ppm"),
        (emd_ppm <= 200000).alias("t_close"),
    )


@query(
    "q_abtest_proportions",
    extra=True,
    oracle="""
    WITH a AS (
      SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
        MAX(CASE WHEN arm = 0 THEN x END) AS x_a,
        MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
        MAX(CASE WHEN arm = 1 THEN x END) AS x_b
      FROM a
    )
    SELECT n_a, x_a, n_b, x_b,
      CAST(ROUND(
        (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) * 1000
        / sqrt(
            (CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
            * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
            * (1.0 / n_a + 1.0 / n_b)
          )
      ) AS BIGINT) AS z_milli
    FROM wide
    """,
)
def q_abtest_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the experimentation primitive that pairs
    with q_wilson_bounds (per-arm intervals) and q_bootstrap_ci
    (resampled CI): events split into arms by the deterministic
    user_id % 2 assignment; the tested proportion is the purchase share
    of events per arm (strictly interior at every SF — the all-users-
    convert degeneracy at sf0.001 zeroes a per-user pooled variance),
    compared by the pooled z-statistic. All counts are exact
    longs; the one composite double (rate difference over the pooled
    standard error, an irrational sqrt) is evaluated in IDENTICAL
    operand order on both engines and milli-snapped — the
    q_autocorr_lag1 device.

    Scale: one map-side-combining groupBy straight to 2 arm rows; the pivot and the statistic are
    driver-free 1-row algebra."""
    a = (
        load_table(spark, sf_dir, "events")
        .select(
            (F.col("user_id") % 2).alias("arm"),
            (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        )
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_p").cast("long").alias("x"),
        )
    )
    wide = a.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x_b"),
    )
    pooled = F.col("x_a").cast("double") + F.col("x_b")
    tot = F.col("n_a").cast("double") + F.col("n_b")
    z = (
        (
            F.col("x_a").cast("double") / F.col("n_a")
            - F.col("x_b").cast("double") / F.col("n_b")
        )
        * 1000
        / F.sqrt(
            (pooled / tot)
            * (F.lit(1.0) - pooled / tot)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        )
    )
    return wide.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round(z).cast("long").alias("z_milli"),
    )


@query(
    "q_ols_regression",
    extra=True,
    oracle="""
    WITH r AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * d) AS BIGINT) AS sxd,
             CAST(SUM(d * d) AS BIGINT) AS sdd,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(d * y) AS BIGINT) AS sdy
      FROM r
    )
    SELECT n,
      CAST(ROUND(1000.0 * (
          (sy::DOUBLE) * ((sxx::DOUBLE) * (sdd::DOUBLE)
                          - (sxd::DOUBLE) * (sxd::DOUBLE))
        - (sx::DOUBLE) * ((sxy::DOUBLE) * (sdd::DOUBLE)
                          - (sxd::DOUBLE) * (sdy::DOUBLE))
        + (sd::DOUBLE) * ((sxy::DOUBLE) * (sxd::DOUBLE)
                          - (sxx::DOUBLE) * (sdy::DOUBLE))
      ) / (
          (n::DOUBLE) * ((sxx::DOUBLE) * (sdd::DOUBLE)
                         - (sxd::DOUBLE) * (sxd::DOUBLE))
        - (sx::DOUBLE) * ((sx::DOUBLE) * (sdd::DOUBLE)
                          - (sxd::DOUBLE) * (sd::DOUBLE))
        + (sd::DOUBLE) * ((sx::DOUBLE) * (sxd::DOUBLE)
                          - (sxx::DOUBLE) * (sd::DOUBLE))
      )) AS BIGINT) AS b0_milli,
      CAST(ROUND(1000.0 * (
          (n::DOUBLE) * ((sxy::DOUBLE) * (sdd::DOUBLE)
                         - (sxd::DOUBLE) * (sdy::DOUBLE))
        - (sy::DOUBLE) * ((sx::DOUBLE) * (sdd::DOUBLE)
                          - (sxd::DOUBLE) * (sd::DOUBLE))
        + (sd::DOUBLE) * ((sx::DOUBLE) * (sdy::DOUBLE)
                          - (sxy::DOUBLE) * (sd::DOUBLE))
      ) / (
          (n::DOUBLE) * ((sxx::DOUBLE) * (sdd::DOUBLE)
                         - (sxd::DOUBLE) * (sxd::DOUBLE))
        - (sx::DOUBLE) * ((sx::DOUBLE) * (sdd::DOUBLE)
                          - (sxd::DOUBLE) * (sd::DOUBLE))
        + (sd::DOUBLE) * ((sx::DOUBLE) * (sxd::DOUBLE)
                          - (sxx::DOUBLE) * (sd::DOUBLE))
      )) AS BIGINT) AS b1_milli,
      CAST(ROUND(1000.0 * (
          (n::DOUBLE) * ((sxx::DOUBLE) * (sdy::DOUBLE)
                         - (sxy::DOUBLE) * (sxd::DOUBLE))
        - (sx::DOUBLE) * ((sx::DOUBLE) * (sdy::DOUBLE)
                          - (sxy::DOUBLE) * (sd::DOUBLE))
        + (sy::DOUBLE) * ((sx::DOUBLE) * (sxd::DOUBLE)
                          - (sxx::DOUBLE) * (sd::DOUBLE))
      ) / (
          (n::DOUBLE) * ((sxx::DOUBLE) * (sdd::DOUBLE)
                         - (sxd::DOUBLE) * (sxd::DOUBLE))
        - (sx::DOUBLE) * ((sx::DOUBLE) * (sdd::DOUBLE)
                          - (sxd::DOUBLE) * (sd::DOUBLE))
        + (sd::DOUBLE) * ((sx::DOUBLE) * (sxd::DOUBLE)
                          - (sxx::DOUBLE) * (sd::DOUBLE))
      )) AS BIGINT) AS b2_milli
    FROM m
    """,
)
def q_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form MULTIVARIATE linear regression (normal equations,
    Cramer's rule) — price_cents ~ b0 + b1*quantity + b2*discount_pct,
    the one-pass distributed OLS fit that completes the statistics
    family's modeling end (q_daily_trend_slope is the 1-var case).
    Determinism device: the nine sufficient moments are EXACT LONGS
    (order-independent integer sums — the largest, sum x*y, stays under
    ~1.5e14 at sf0.1); the 3x3 determinants would overflow a long
    (~5e24), so they are evaluated in DOUBLE over the exact integer
    moments with IDENTICAL operand order in both engines — every
    int->double conversion and IEEE op rounds the same way given the
    same order — and the coefficients snap to milli (ratio outputs,
    .5-straddles measure-zero).

    Scale: ONE map-side-combining aggregate over the fact scan produces
    all nine moments; the solve is 1-row algebra. This is why
    distributed closed-form OLS beats iterative fits for low dim: no
    second pass, no state, no convergence."""
    r = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        cents("l_extendedprice").alias("y"),
    )
    m = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("d").alias("sd"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("d")).alias("sxd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("d") * F.col("y")).alias("sdy"),
    )
    c = {
        k: F.col(k).cast("double")
        for k in ("n", "sx", "sd", "sy", "sxx", "sxd", "sdd", "sxy", "sdy")
    }
    det = (
        c["n"] * (c["sxx"] * c["sdd"] - c["sxd"] * c["sxd"])
        - c["sx"] * (c["sx"] * c["sdd"] - c["sxd"] * c["sd"])
        + c["sd"] * (c["sx"] * c["sxd"] - c["sxx"] * c["sd"])
    )
    det0 = (
        c["sy"] * (c["sxx"] * c["sdd"] - c["sxd"] * c["sxd"])
        - c["sx"] * (c["sxy"] * c["sdd"] - c["sxd"] * c["sdy"])
        + c["sd"] * (c["sxy"] * c["sxd"] - c["sxx"] * c["sdy"])
    )
    det1 = (
        c["n"] * (c["sxy"] * c["sdd"] - c["sxd"] * c["sdy"])
        - c["sy"] * (c["sx"] * c["sdd"] - c["sxd"] * c["sd"])
        + c["sd"] * (c["sx"] * c["sdy"] - c["sxy"] * c["sd"])
    )
    det2 = (
        c["n"] * (c["sxx"] * c["sdy"] - c["sxy"] * c["sxd"])
        - c["sx"] * (c["sx"] * c["sdy"] - c["sxy"] * c["sd"])
        + c["sy"] * (c["sx"] * c["sxd"] - c["sxx"] * c["sd"])
    )
    return m.select(
        "n",
        F.round(F.lit(1000.0) * det0 / det).cast("long").alias("b0_milli"),
        F.round(F.lit(1000.0) * det1 / det).cast("long").alias("b1_milli"),
        F.round(F.lit(1000.0) * det2 / det).cast("long").alias("b2_milli"),
    )


@query(
    "q_ab_cuped",
    extra=True,
    oracle="""
    WITH bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    u AS (
      SELECT user_id, user_id % 2 AS arm,
        CAST(SUM(CASE WHEN CAST(ts AS DATE) < d0 + 15 THEN 1 ELSE 0 END)
             AS BIGINT) AS x,
        CAST(SUM(CASE WHEN CAST(ts AS DATE) >= d0 + 15
                       AND event_type = 'purchase'
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events CROSS JOIN bounds
      GROUP BY user_id, user_id % 2
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM u
    ),
    a AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_arm,
             CAST(SUM(x) AS BIGINT) AS sx_arm,
             CAST(SUM(y) AS BIGINT) AS sy_arm
      FROM u GROUP BY arm
    ),
    w AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n_arm END) AS n_a,
        MAX(CASE WHEN arm = 0 THEN sx_arm END) AS sxa,
        MAX(CASE WHEN arm = 0 THEN sy_arm END) AS sya,
        MAX(CASE WHEN arm = 1 THEN n_arm END) AS n_b,
        MAX(CASE WHEN arm = 1 THEN sx_arm END) AS sxb,
        MAX(CASE WHEN arm = 1 THEN sy_arm END) AS syb
      FROM a
    )
    SELECT n_a, n_b,
      CAST(ROUND(1000.0 * ((g.n::DOUBLE) * (g.sxy::DOUBLE)
                           - (g.sx::DOUBLE) * (g.sy::DOUBLE))
                 / ((g.n::DOUBLE) * (g.sxx::DOUBLE)
                    - (g.sx::DOUBLE) * (g.sx::DOUBLE))) AS BIGINT)
        AS theta_milli,
      CAST(ROUND(1000.0 * (
          ((sya::DOUBLE) / (n_a::DOUBLE) - (syb::DOUBLE) / (n_b::DOUBLE))
          - (((g.n::DOUBLE) * (g.sxy::DOUBLE)
              - (g.sx::DOUBLE) * (g.sy::DOUBLE))
             / ((g.n::DOUBLE) * (g.sxx::DOUBLE)
                - (g.sx::DOUBLE) * (g.sx::DOUBLE)))
            * ((sxa::DOUBLE) / (n_a::DOUBLE)
               - (sxb::DOUBLE) / (n_b::DOUBLE))
      )) AS BIGINT) AS adj_diff_milli_cents,
      CAST(ROUND(1000000.0 * (1.0 -
          ((g.n::DOUBLE) * (g.sxy::DOUBLE) - (g.sx::DOUBLE) * (g.sy::DOUBLE))
          * ((g.n::DOUBLE) * (g.sxy::DOUBLE) - (g.sx::DOUBLE) * (g.sy::DOUBLE))
          / (((g.n::DOUBLE) * (g.sxx::DOUBLE)
              - (g.sx::DOUBLE) * (g.sx::DOUBLE))
             * ((g.n::DOUBLE) * (g.syy::DOUBLE)
                - (g.sy::DOUBLE) * (g.sy::DOUBLE)))
      )) AS BIGINT) AS var_reduction_ppm
    FROM w CROSS JOIN g
    """,
)
def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED covariate adjustment (Deng et al.) — the industry-standard
    experiment variance-reduction: pre-period activity (events in the
    first 15 days) as covariate x, post-period purchase spend as
    outcome y, theta = cov(x,y)/var(x) fitted POOLED, arm difference
    reported after subtracting theta * (pre-period imbalance), plus the
    achieved variance reduction 1 - rho^2. Determinism: all sufficient
    moments are exact longs from ONE user-level aggregate; the three
    reported statistics are operand-order-pinned double compositions
    (the q_ols_regression device — the squared-covariance product would
    overflow a long), snapped at milli/ppm.

    Scale: one groupBy(user) builds (x, y) per user — map-side
    combined; the global and arm moment reduces are 1-row/2-row; the
    date bound broadcasts. Nothing about the fit grows with users
    beyond the one keyed aggregate."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    u = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            (F.col("user_id") % 2).alias("arm"),
            F.when(
                F.col("ts").cast("date") < F.date_add(F.col("d0"), 15), 1
            )
            .otherwise(0)
            .alias("pre"),
            F.when(
                (F.col("ts").cast("date") >= F.date_add(F.col("d0"), 15))
                & (F.col("event_type") == "purchase"),
                cents("value"),
            )
            .otherwise(0)
            .alias("post_cents"),
        )
        .groupBy("user_id", "arm")
        .agg(
            F.sum("pre").cast("long").alias("x"),
            F.sum("post_cents").cast("long").alias("y"),
        )
    )
    from ..functions.scale import scoped_persist

    u = scoped_persist(u, "q_ab_cuped.users")
    g = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_arm"),
        F.sum("x").alias("sx_arm"),
        F.sum("y").alias("sy_arm"),
    )
    w = a.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_arm"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("sx_arm"))).alias("sxa"),
        F.max(F.when(F.col("arm") == 0, F.col("sy_arm"))).alias("sya"),
        F.max(F.when(F.col("arm") == 1, F.col("n_arm"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("sx_arm"))).alias("sxb"),
        F.max(F.when(F.col("arm") == 1, F.col("sy_arm"))).alias("syb"),
    )
    j = w.crossJoin(F.broadcast(g))
    D = lambda c: F.col(c).cast("double")  # noqa: E731
    cov = D("n") * D("sxy") - D("sx") * D("sy")
    varx = D("n") * D("sxx") - D("sx") * D("sx")
    vary = D("n") * D("syy") - D("sy") * D("sy")
    theta = cov / varx
    adj_diff = (
        D("sya") / D("n_a") - D("syb") / D("n_b")
    ) - theta * (D("sxa") / D("n_a") - D("sxb") / D("n_b"))
    return j.select(
        "n_a",
        "n_b",
        F.round(F.lit(1000.0) * theta).cast("long").alias("theta_milli"),
        F.round(F.lit(1000.0) * adj_diff)
        .cast("long")
        .alias("adj_diff_milli_cents"),
        F.round(F.lit(1_000_000.0) * (F.lit(1.0) - cov * cov / (varx * vary)))
        .cast("long")
        .alias("var_reduction_ppm"),
    )


@query(
    "q_mann_whitney",
    extra=True,
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca
      FROM u GROUP BY y
    ),
    r AS (
      SELECT y, c, ca,
             2 * COALESCE(SUM(c) OVER (
               ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + c + 1 AS r2
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(c - ca) AS BIGINT) AS n_b,
             CAST(SUM(ca * r2) AS BIGINT) AS r2_a,
             CAST(SUM(c * c * c - c) AS BIGINT) AS ties
      FROM r
    )
    SELECT n_a, n_b,
           r2_a - n_a * (n_a + 1) AS u2,
           CAST((2 * (r2_a - n_a * (n_a + 1)) * 1000000 + 2 * n_a * n_b)
                // (2 * 2 * n_a * n_b) AS BIGINT) AS cles_ppm,
           ROUND(
             (r2_a - n_a * (n_a + 1) - n_a * n_b)
             / (2.0 * SQRT(
                 n_a * n_b
                 * ((n_a + n_b + 1)
                    - ties / (CAST(n_a + n_b AS DOUBLE)
                              * (n_a + n_b - 1)))
                 / 12.0
               )),
             6
           ) AS z
    FROM s
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) between the two experiment arms
    (user_id % 2, the q_abtest_proportions split) on per-user total
    spend — the NONPARAMETRIC two-sample test that completes the A/B
    family (z-test on proportions, CUPED on means, KS on distributions;
    this one is rank-based, outlier-immune). TIE-EXACT via the doubled
    midrank histogram device (the Spearman formulation): 2·R_A, 2·U and
    the common-language effect size U/(n_a·n_b) are exact longs (CLES
    in half-up ppm — the probability a random A-user outspends a random
    B-user); only the tie-corrected z is a composite double, snapped at
    6dp with identical operand order in both engines.

    Scale: one per-user aggregate, one value-distribution-sized rank
    relation (the window is over distinct spend values, not users),
    one 1-row moment reduce."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", cents("value").alias("v_cents")
    )
    u = ev.groupBy("user_id").agg(F.sum("v_cents").alias("y")).select(
        (F.col("user_id") % 2).alias("arm"), "y"
    )
    g = u.groupBy("y").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("ca"),
    )
    w = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "c",
        "ca",
        (2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1).alias(
            "r2"
        ),
    )
    s = r.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum(F.col("c") - F.col("ca")).cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("r2")).cast("long").alias("r2_a"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("ties"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    u2 = F.col("r2_a") - na * (na + 1)
    d = F.call_function
    return s.select(
        "n_a",
        "n_b",
        u2.alias("u2"),
        d(
            "div",
            F.lit(2) * u2 * 1_000_000 + 2 * na * nb,
            F.lit(2) * 2 * na * nb,
        ).alias("cles_ppm"),
        F.round(
            (u2 - na * nb)
            / (
                2.0
                * F.sqrt(
                    na
                    * nb
                    * (
                        (na + nb + 1)
                        - F.col("ties")
                        / ((na + nb).cast("double") * (na + nb - 1))
                    )
                    / 12.0
                )
            ),
            6,
        ).alias("z"),
    )


from ..operators.clustering import logreg_oracle_sql as _logreg_oracle_sql  # noqa: E402


@query("q_logreg_gd", extra=True, oracle=_logreg_oracle_sql())
def q_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary logistic regression fit by two unrolled distributed
    gradient-descent steps + training accuracy, all ONE lazy plan
    (operators/clustering.logreg_gd): the iterative-ML representative
    beside closed-form OLS — per-row nano-snapped gradient terms,
    map-side-combined exact long sums, 1-row weight relations broadcast
    into the next step. The oracle replays both steps and the accuracy
    pass with identical operand ordering."""
    from ..operators.clustering import logreg_gd

    emb = load_table(spark, sf_dir, "embeddings").select("embedding", "label")
    return logreg_gd(emb)


@query(
    "q_dp_noisy_counts",
    extra=True,
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    u AS (
      SELECT event_type, n,
             (CAST(md5_number_lower('dp-v1:' || event_type) % 4294967296
                   AS BIGINT) + 0.5) / 4294967296.0 AS p
      FROM g
    )
    SELECT event_type, n,
           n + CAST(ROUND(
             -1.0 * CASE WHEN p < 0.5 THEN -1.0 ELSE 1.0 END
                  * ln(1.0 - 2.0 * ABS(p - 0.5))
           ) AS BIGINT) AS noisy_n,
           CAST(1000000 AS BIGINT) AS epsilon_micro
    FROM u
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release MECHANISM: per-group counts with
    Laplace(1/epsilon) noise (epsilon = 1, sensitivity 1 for a count)
    added via the inverse-CDF transform — completing the privacy family
    (k-anonymity / l-diversity / t-closeness audit the data; this is
    the releasing side). The uniform draw is md5-derived from the group
    key and the ln() is single-op-snapped, so the oracle replays noise
    and release exactly.

    HONESTY NOTE (the sim_jl_topk discipline): a hash-seeded draw is a
    DETERMINISTIC demo of the mechanism's plumbing — real DP requires
    fresh randomness per release, or the noise cancels across repeated
    queries. The operator shape (group counts -> per-group draw ->
    inverse CDF -> integer release) is exactly what ships; only the
    entropy source is swapped, which is why it can carry a value oracle
    at all.

    Scale: one map-side-combining groupBy; the noise is a per-row
    expression. The +0.5/2^32 centering keeps the draw strictly inside
    (0,1), so ln never sees 0."""
    from ..functions.scalar import stable_hash_u32

    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = (
        stable_hash_u32(F.concat(F.lit("dp-v1:"), F.col("event_type")))
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    noise = F.round(
        F.lit(-1.0)
        * F.when(p < 0.5, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(p - F.lit(0.5))),
        0,
    ).cast("long")
    return g.select(
        "event_type",
        "n",
        (F.col("n") + noise).alias("noisy_n"),
        F.lit(1000000).cast("long").alias("epsilon_micro"),
    )


@query(
    "q_decision_stump",
    extra=True,  # rotated out round 10 (eval: q_roc_auc graded; stump form re-adjudicated by q_boosted_stumps extra oracle)
    oracle="""
    WITH lab AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 2000000 AS bin,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    hist AS (
      SELECT bin, CAST(SUM(y) AS BIGINT) AS c1,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS c0
      FROM lab GROUP BY bin
    ),
    cum AS (
      SELECT bin,
             SUM(c1) OVER (ORDER BY bin) AS l1,
             SUM(c0) OVER (ORDER BY bin) AS l0,
             SUM(c1) OVER () AS t1,
             SUM(c0) OVER () AS t0
      FROM hist
    )
    SELECT bin,
           CAST(l0 + l1 AS BIGINT) AS n_left,
           CAST((t0 - l0) + (t1 - l1) AS BIGINT) AS n_right,
           CAST((l0 + l1 - GREATEST(l0, l1))
                + ((t0 - l0) + (t1 - l1) - GREATEST(t0 - l0, t1 - l1))
                AS BIGINT) AS misclassified,
           CAST(ROW_NUMBER() OVER (
             ORDER BY (l0 + l1 - GREATEST(l0, l1))
                      + ((t0 - l0) + (t1 - l1) - GREATEST(t0 - l0, t1 - l1)),
                      bin
           ) AS INT) AS rank
    FROM cum
    """,
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split finding by the distributed HISTOGRAM method
    (operators/trees.py:decision_stump_errors): is an order urgent
    (priority 1-2)? — candidate thresholds are $20k total-price bins,
    the criterion is integer misclassification count, and the FULL error
    curve (every candidate, ranked) is what the oracle replays, not just
    the winner. The per-bin class histogram is the only row-scale
    aggregate; every downstream step runs on the bounded bin relation —
    the same shape XGBoost's tree_method=hist uses per tree node.
    """
    from ..operators.trees import decision_stump_errors

    orders = load_table(spark, sf_dir, "orders")
    return decision_stump_errors(
        orders,
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 2000000"),
    )


@query(
    "q_als_half_step",
    extra=True,
    oracle="""
    WITH iv AS (
      SELECT DISTINCT event_type,
        CAST(md5_number_lower('alsx1-v1:' || event_type) % 4294967296 % 5
             AS BIGINT) - 2 AS x1,
        CAST(md5_number_lower('alsx2-v1:' || event_type) % 4294967296 % 5
             AS BIGINT) - 2 AS x2
      FROM events
    ),
    obs AS (
      SELECT e.user_id, iv.x1, iv.x2,
             CAST(ROUND(e.value * 100) AS BIGINT) AS y
      FROM events e JOIN iv ON iv.event_type = e.event_type
    ),
    norm AS (
      SELECT user_id,
             CAST(SUM(x1 * x1) + 1 AS BIGINT) AS a11,
             CAST(SUM(x1 * x2) AS BIGINT) AS a12,
             CAST(SUM(x2 * x2) + 1 AS BIGINT) AS a22,
             CAST(SUM(x1 * y) AS BIGINT) AS b1,
             CAST(SUM(x2 * y) AS BIGINT) AS b2
      FROM obs GROUP BY user_id
    )
    SELECT user_id,
           CAST(a22 * b1 - a12 * b2 AS BIGINT) AS w1_num,
           CAST(a11 * b2 - a12 * b1 AS BIGINT) AS w2_num,
           CAST(a11 * a22 - a12 * a12 AS BIGINT) AS det
    FROM norm
    """,
)
def q_als_half_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS half-step — the matrix-factorization building block: with
    item vectors FIXED (deterministic hash-derived 2-dim integer vectors
    per event_type), solve each user's ridge least squares
    (XᵀX + I)w = Xᵀy in closed form via Cramer's rule and emit the EXACT
    rational solution as (numerator, numerator, determinant) longs — no
    division anywhere, so signed values need no rounding device at all
    (the strongest form of the integer-exactness contract; w = num/det
    reconstructs the float solution losslessly). Alternating these
    per-user and per-item solves IS distributed ALS; each half-step is
    what's shown here: one observation join + ONE map-side-combined
    groupBy per entity — the 100 TB recommender-training shape.

    Completes the supervised/recsys set: Naive Bayes, logreg GD, kNN,
    decision stump, item-item CF, and now the factorization half-step.
    """
    from ..functions.scalar import stable_hash_u32

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", cents("value").alias("y")
    )
    iv = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            (
                stable_hash_u32(
                    F.concat(F.lit("alsx1-v1:"), F.col("event_type"))
                )
                % 5
                - 2
            ).alias("x1"),
            (
                stable_hash_u32(
                    F.concat(F.lit("alsx2-v1:"), F.col("event_type"))
                )
                % 5
                - 2
            ).alias("x2"),
        )
    )
    obs = ev.join(F.broadcast(iv), "event_type")
    norm = obs.groupBy("user_id").agg(
        (F.sum(F.col("x1") * F.col("x1")) + F.lit(1)).cast("long").alias("a11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("a12"),
        (F.sum(F.col("x2") * F.col("x2")) + F.lit(1)).cast("long").alias("a22"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("b1"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("b2"),
    )
    return norm.select(
        "user_id",
        (F.col("a22") * F.col("b1") - F.col("a12") * F.col("b2"))
        .cast("long")
        .alias("w1_num"),
        (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1"))
        .cast("long")
        .alias("w2_num"),
        (F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12"))
        .cast("long")
        .alias("det"),
    )


_ALS_ITERATION_ORACLE = """
    WITH iv AS (
      SELECT DISTINCT event_type,
        CAST(md5_number_lower('alsx1-v1:' || event_type) % 4294967296 % 5
             AS BIGINT) - 2 AS x1,
        CAST(md5_number_lower('alsx2-v1:' || event_type) % 4294967296 % 5
             AS BIGINT) - 2 AS x2
      FROM events
    ),
    obs AS (
      SELECT e.user_id, e.event_type, iv.x1, iv.x2,
             CAST(ROUND(e.value * 100) AS BIGINT) AS y,
             CAST(ROUND(e.value) AS BIGINT) AS y_d
      FROM events e JOIN iv ON iv.event_type = e.event_type
    ),
    unorm AS (
      SELECT user_id,
             CAST(SUM(x1 * x1) + 1 AS BIGINT) AS a11,
             CAST(SUM(x1 * x2) AS BIGINT) AS a12,
             CAST(SUM(x2 * x2) + 1 AS BIGINT) AS a22,
             CAST(SUM(x1 * y) AS BIGINT) AS b1,
             CAST(SUM(x2 * y) AS BIGINT) AS b2
      FROM obs GROUP BY user_id
    ),
    usolve AS (
      SELECT user_id,
             CAST(a22 * b1 - a12 * b2 AS BIGINT) AS w1_num,
             CAST(a11 * b2 - a12 * b1 AS BIGINT) AS w2_num,
             CAST(a11 * a22 - a12 * a12 AS BIGINT) AS det
      FROM unorm
    ),
    uq AS (
      SELECT user_id,
             GREATEST(-200, LEAST(200,
               CAST(FLOOR((2 * w1_num * 2 + det * 100)
                          / (2.0 * (det * 100))) AS BIGINT))) AS u1,
             GREATEST(-200, LEAST(200,
               CAST(FLOOR((2 * w2_num * 2 + det * 100)
                          / (2.0 * (det * 100))) AS BIGINT))) AS u2
      FROM usolve
    ),
    obsq AS (
      SELECT o.event_type, u.u1, u.u2, o.y_d
      FROM obs o JOIN uq u ON u.user_id = o.user_id
    ),
    inorm AS (
      SELECT event_type,
             CAST(SUM(u1 * u1) + 4 AS BIGINT) AS a11,
             CAST(SUM(u1 * u2) AS BIGINT) AS a12,
             CAST(SUM(u2 * u2) + 4 AS BIGINT) AS a22,
             CAST(SUM(u1 * y_d) AS BIGINT) AS b1,
             CAST(SUM(u2 * y_d) AS BIGINT) AS b2,
             COUNT(*) AS n_obs
      FROM obsq GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_obs AS BIGINT) AS n_obs,
           CAST(a22 * b1 - a12 * b2 AS BIGINT) AS v1_num,
           CAST(a11 * b2 - a12 * b1 AS BIGINT) AS v2_num,
           CAST(a11 * a22 - a12 * a12 AS BIGINT) AS det
    FROM inorm
"""


# graded since round 13: the matrix-factorization family's representative
@query("q_als_iteration", oracle=_ALS_ITERATION_ORACLE)
def q_als_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One FULL ALS alternation (operators/factorization.py:als_iteration)
    — completes q_als_half_step per the round-8 verdict: user ridge solve
    with hash-init item vectors fixed, half-up snap of the rational user
    factors to clamped half-dollar integers, then the symmetric ITEM
    ridge solve with those users fixed. Every arithmetic step is integer-
    exact (Cramer numerator/determinant longs; the one division — the
    snap — uses the FLOOR half-up device), so the oracle replays the
    entire alternation and hash-matches the item factors. The monotone
    objective-decrease gate lives in tests/test_trees.py.

    Scale: two observation joins + two map-side-combined groupBys;
    factor state is entity-sized, never driver-side. Rank 2 keeps the
    normal equations as columns — the same decomposition MLlib ALS uses,
    minus the black box.
    """
    from ..operators.factorization import als_iteration

    return als_iteration(load_table(spark, sf_dir, "events"))



def _boosted_oracle(rounds: int) -> str:
    """Unrolled DuckDB replay of boosted_stump_curves: per round one
    weighted histogram + curve + best-split CTE, then the reweighted row
    relation. AS MATERIALIZED throughout — rows_t is referenced by both
    curve_t and rows_t+1, and plain CTEs would re-inline the whole chain
    exponentially and exhaust file descriptors)."""
    parts = [
        """
    WITH rows1 AS MATERIALIZED (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) // 2000000 AS bin,
             CAST(1 AS BIGINT) AS w
      FROM orders
    )"""
    ]
    curve_tpl = """,
    hist{t} AS MATERIALIZED (
      SELECT bin, CAST(SUM(w * y) AS BIGINT) AS c1,
             CAST(SUM(w * (1 - y)) AS BIGINT) AS c0
      FROM rows{t} GROUP BY bin
    ),
    cum{t} AS MATERIALIZED (
      SELECT bin,
             SUM(c1) OVER (ORDER BY bin) AS l1,
             SUM(c0) OVER (ORDER BY bin) AS l0,
             SUM(c1) OVER () AS t1,
             SUM(c0) OVER () AS t0
      FROM hist{t}
    ),
    curve{t} AS MATERIALIZED (
      SELECT bin,
             CAST(l0 + l1 AS BIGINT) AS w_left,
             CAST((t0 - l0) + (t1 - l1) AS BIGINT) AS w_right,
             CAST((l0 + l1 - GREATEST(l0, l1))
                  + ((t0 - l0) + (t1 - l1) - GREATEST(t0 - l0, t1 - l1))
                  AS BIGINT) AS w_misclassified,
             CAST(l1 > l0 AS INT) AS maj_left,
             CAST((t1 - l1) > (t0 - l0) AS INT) AS maj_right
      FROM cum{t}
    ),
    ranked{t} AS MATERIALIZED (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY w_misclassified, bin)
                     AS INT) AS rank
      FROM curve{t}
    )"""
    rows_tpl = """,
    best{t} AS (
      SELECT bin AS b, maj_left AS m_l, maj_right AS m_r
      FROM ranked{t} WHERE rank = 1
    ),
    rows{n} AS MATERIALIZED (
      SELECT y, r.bin,
             CAST(w * CASE WHEN (r.bin <= b AND y <> m_l)
                             OR (r.bin > b AND y <> m_r)
                      THEN 2 ELSE 1 END AS BIGINT) AS w
      FROM rows{t} r, best{t}
    )"""
    for t in range(1, rounds + 1):
        parts.append(curve_tpl.format(t=t))
        if t < rounds:
            parts.append(rows_tpl.format(t=t, n=t + 1))
    selects = [
        "SELECT CAST({t} AS INT) AS boost_round, * FROM ranked{t}".format(t=t)
        for t in range(1, rounds + 1)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@query("q_boosted_stumps", extra=True, oracle=_boosted_oracle(3))
def q_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boosted stump ensemble (operators/trees.py:boosted_stump_curves):
    3 rounds of reweight -> refit over the urgent-order stump's exact
    feature/label/bin contract, integer weights doubling on each round's
    misclassified rows, the FULL weighted error curve of every round
    replayed by the oracle — the hist-GBDT training loop the decision
    stump's docstring names as its reason to exist (round-9 VERDICT
    item 6). Per round: one map-side-combined groupBy(bin) + bounded
    #bins arithmetic; the best stump rides back as a broadcast 1-row
    cross join, never a driver collect.
    """
    from ..operators.trees import boosted_stump_curves

    orders = load_table(spark, sf_dir, "orders")
    return boosted_stump_curves(
        orders,
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 2000000"),
        rounds=3,
    )


@query(
    "q_cv_stump_oof",
    extra=True,
    oracle="""
    WITH rows_ AS (
      SELECT CAST(md5_number_lower('fold-v1:' || CAST(o_orderkey AS VARCHAR))
                  % 4294967296 % 5 AS INT) AS fold,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) // 2000000 AS bin
      FROM orders
    ),
    hist AS (
      SELECT fold, bin, CAST(SUM(y) AS BIGINT) AS c1,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS c0
      FROM rows_ GROUP BY 1, 2
    ),
    folds AS (SELECT DISTINCT fold AS f FROM hist),
    train AS (
      SELECT f, bin, CAST(SUM(c1) AS BIGINT) AS c1,
             CAST(SUM(c0) AS BIGINT) AS c0
      FROM folds JOIN hist ON fold <> f GROUP BY 1, 2
    ),
    cum AS (
      SELECT f, bin,
             SUM(c1) OVER (PARTITION BY f ORDER BY bin) AS l1,
             SUM(c0) OVER (PARTITION BY f ORDER BY bin) AS l0,
             SUM(c1) OVER (PARTITION BY f) AS t1,
             SUM(c0) OVER (PARTITION BY f) AS t0
      FROM train
    ),
    scored AS (
      SELECT f, bin,
             CAST((l0 + l1 - GREATEST(l0, l1))
                  + ((t0 - l0) + (t1 - l1)
                     - GREATEST(t0 - l0, t1 - l1)) AS BIGINT)
               AS train_misclassified,
             CAST(l1 > l0 AS INT) AS maj_left,
             CAST((t1 - l1) > (t0 - l0) AS INT) AS maj_right,
             CAST(t0 + t1 AS BIGINT) AS n_train
      FROM cum
    ),
    best AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY f ORDER BY train_misclassified, bin) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT h.fold,
           CAST(MAX(b.bin) AS BIGINT) AS split_bin,
           MAX(b.train_misclassified) AS train_misclassified,
           CAST(SUM(CASE WHEN h.bin <= b.bin
                    THEN CASE WHEN b.maj_left = 1 THEN h.c0 ELSE h.c1 END
                    ELSE CASE WHEN b.maj_right = 1 THEN h.c0 ELSE h.c1 END
               END) AS BIGINT) AS holdout_misclassified,
           MAX(b.n_train) AS n_train,
           CAST(SUM(h.c0 + h.c1) AS BIGINT) AS n_holdout
    FROM hist h JOIN best b ON h.fold = b.f
    GROUP BY h.fold
    """,
)
def q_cv_stump_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold OUT-OF-FOLD stump evaluation (operators/trees.py:
    cv_stump_oof) — 5 deterministic hash folds over orders, one
    per-(fold, bin) class histogram scan, every fold's training
    histogram formed by LEAVE-ONE-FOLD-OUT SUBTRACTION-free addition
    (train_f = sum of the other folds — histogram additivity, the reason
    hist-GBDTs can cross-validate without re-scanning), winning split
    per fold evaluated on the held-out fold's own histogram. Completes
    the evaluation side of the stump family: q_decision_stump is the
    in-sample curve, q_boosted_stumps the ensemble, this the honest
    generalization number — all exact integer misclassification counts.
    """
    from ..functions.scalar import stable_hash_u32
    from ..operators.trees import cv_stump_oof

    orders = load_table(spark, sf_dir, "orders")
    fold = stable_hash_u32(
        F.concat(F.lit("fold-v1:"), F.col("o_orderkey").cast("string"))
    ) % 5
    return cv_stump_oof(
        orders,
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 2000000"),
        fold,
    )


@query(
    "q_isotonic_calibration",
    extra=True,
    oracle="""
    WITH r AS (
      SELECT CAST(MIN(n_chars) AS BIGINT) AS lo, CAST(MAX(n_chars) AS BIGINT) AS hi
      FROM documents
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR((d.n_chars - r.lo) * 10.0 / (r.hi - r.lo + 1))
                        AS BIGINT), 9) AS bin,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents d, r
    ),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
      FROM b GROUP BY bin
    ),
    iv AS (
      SELECT k.bin AS k, j.bin AS j,
             CAST(SUM(m.n) AS BIGINT) AS n_kj, CAST(SUM(m.pos) AS BIGINT) AS p_kj
      FROM bins k JOIN bins j ON k.bin <= j.bin
      JOIN bins m ON m.bin BETWEEN k.bin AND j.bin
      GROUP BY 1, 2
    ),
    ivm AS (
      SELECT k, j, (2 * p_kj * 1000000 + n_kj) // (2 * n_kj) AS mean_ppm FROM iv
    ),
    inner_min AS (
      SELECT i.bin AS bin, v.k AS k, MIN(v.mean_ppm) AS minm
      FROM bins i JOIN ivm v ON v.k <= i.bin AND v.j >= i.bin
      GROUP BY 1, 2
    ),
    fit AS (
      SELECT bin, CAST(MAX(minm) AS BIGINT) AS iso_ppm FROM inner_min GROUP BY bin
    )
    SELECT s.bin, s.n AS n_docs, s.pos AS n_pos,
           CAST((2 * s.pos * 1000000 + s.n) // (2 * s.n) AS BIGINT) AS raw_ppm,
           f.iso_ppm
    FROM bins s JOIN fit f USING (bin)
    """,
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) calibration of the q_calibration_bins reliability
    table (operators/quality.py:isotonic_fit): the monotone score map a
    production classifier actually serves, next to the raw per-bin rates.
    Raw empirical rates are non-monotone under sampling noise; isotonic
    regression pools adjacent violators into the closest non-decreasing
    fit — here via the closed minimax form ``fit_i = max_{k<=i} min_{j>=i}
    mean(k..j)`` over interval means, every mean ppm-snapped FIRST so the
    whole lattice is integer-exact in both engines.

    Scale: ONE data-sized pass (the binning groupBy, map-side combining
    into <=10 rows); everything downstream is |bins|^2-bounded broadcast
    joins. The non-equi joins here are BroadcastNestedLoopJoins over
    10-row inputs — bounded by construction, never data-sized."""
    from ..operators.quality import isotonic_fit

    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").cast("int").alias("y")
    )
    r = F.broadcast(
        docs.agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
    )
    binned = docs.crossJoin(r).select(
        F.least(
            F.floor(
                (F.col("n_chars") - F.col("lo"))
                * 10.0
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("long"),
            F.lit(9).cast("long"),
        ).alias("bin"),
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("pos")
    )
    fit = isotonic_fit(bins)
    return bins.join(fit, "bin").select(
        "bin",
        F.col("n").alias("n_docs"),
        F.col("pos").alias("n_pos"),
        F.call_function(
            "div", 2 * F.col("pos") * 1000000 + F.col("n"), 2 * F.col("n")
        ).alias("raw_ppm"),
        "iso_ppm",
    )


@query(
    "q_target_encode_loo",
    extra=True,
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    cs AS (
      SELECT cat, CAST(COUNT(*) AS BIGINT) AS n_cat,
             CAST(SUM(y) AS BIGINT) AS s_cat
      FROM base GROUP BY cat
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(y) AS BIGINT) AS s_all
      FROM base
    )
    SELECT b.o_orderkey, b.cat, CAST(b.y AS BIGINT) AS y,
           CAST(CASE WHEN c.n_cat > 1
             THEN (2 * (c.s_cat - b.y) * 1000000 + (c.n_cat - 1))
                  // (2 * (c.n_cat - 1))
             ELSE (2 * (g.s_all - b.y) * 1000000 + (g.n_all - 1))
                  // (2 * (g.n_all - 1))
           END AS BIGINT) AS enc_ppm
    FROM base b JOIN cs c ON c.cat = b.cat CROSS JOIN g
    """,
)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out TARGET ENCODING of a categorical feature — the
    feature-engineering step gradient-boosted models consume in place of
    one-hot for high-cardinality categories. Naive mean encoding leaks
    each row's own label into its feature (train metrics inflate, the
    q_cv_stump_oof / pipeline_leakage_safe_split failure class at the
    FEATURE level); the LOO form subtracts the row's own label first:
    enc_i = (sum_y(cat) - y_i) / (n(cat) - 1), half-up integer ppm.
    Singleton categories (n=1, where LOO is undefined) fall back to the
    leave-one-out GLOBAL prior — same device, corpus-level sums.

    Scale: one map-side-combining groupBy builds the per-category sums
    (category-cardinality exchange); both the category relation and the
    1-row global relation broadcast back onto the fact, so the encode is
    a map-side expression — no fact-sized shuffle anywhere."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    cs = base.groupBy("cat").agg(
        F.count(F.lit(1)).alias("n_cat"),
        F.sum("y").cast("long").alias("s_cat"),
    )
    g = base.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("y").cast("long").alias("s_all"),
    )
    loo = F.call_function(
        "div",
        2 * (F.col("s_cat") - F.col("y")) * 1000000 + (F.col("n_cat") - 1),
        2 * (F.col("n_cat") - 1),
    )
    prior = F.call_function(
        "div",
        2 * (F.col("s_all") - F.col("y")) * 1000000 + (F.col("n_all") - 1),
        2 * (F.col("n_all") - 1),
    )
    return (
        base.join(F.broadcast(cs), "cat")
        .crossJoin(F.broadcast(g))
        .select(
            "o_orderkey",
            "cat",
            F.col("y").cast("long").alias("y"),
            F.when(F.col("n_cat") > 1, loo).otherwise(prior).alias("enc_ppm"),
        )
    )


@query(
    "q_randomized_response",
    extra=True,
    oracle="""
    WITH base AS (
      SELECT source,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
             CAST(md5_number_lower('rr-v1:' || CAST(doc_id AS VARCHAR))
                  % 4294967296 AS BIGINT) AS u
      FROM documents
    ),
    rep AS (
      SELECT source, truth,
             CASE WHEN u < 3221225472 THEN truth ELSE 1 - truth END AS reported
      FROM base
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(truth) AS BIGINT) AS n_true,
           CAST(SUM(reported) AS BIGINT) AS n_reported,
           CAST(4 * SUM(reported) - COUNT(*) AS BIGINT) AS est_x2,
           (4 * SUM(reported) - COUNT(*) - 2 * SUM(truth))
             * (4 * SUM(reported) - COUNT(*) - 2 * SUM(truth))
             <= 64 * COUNT(*) AS ok
    FROM rep GROUP BY source
    """,
)
def q_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized response — the LOCAL differential-privacy member of
    the governance family (q_dp_noisy_counts is the central-DP one):
    each row reports its sensitive bit (lang = 'en') truthfully with
    p = 3/4, flipped otherwise (epsilon = ln 3 per row), and the curator
    debiases the per-source rate as n_hat = (4*n_reported - n) / 2. The
    coin is a deterministic md5-uniform (u32 < 3 * 2^30), so the whole
    mechanism — flips, counts, debias — replays hash-exact; ``est_x2``
    stays an exact integer (2 * n_hat) so no signed division device is
    needed, and ``ok`` checks the debiased estimate against the truth
    within 4*sqrt(n) via a cross-multiplied integer square (sd of n_hat
    is ~0.87*sqrt(n) at p = 3/4).

    Scale: one map-side-combining groupBy; the mechanism is a per-row
    expression. Real deployments emit only (n, n_reported, est) — the
    truth column here exists to adjudicate the estimator itself."""
    from ..functions.scalar import stable_hash_u32

    base = load_table(spark, sf_dir, "documents").select(
        "source",
        (F.col("lang") == "en").cast("long").alias("truth"),
        stable_hash_u32(
            F.concat(F.lit("rr-v1:"), F.col("doc_id").cast("string"))
        ).alias("u"),
    )
    rep = base.select(
        "source",
        "truth",
        F.when(F.col("u") < 3221225472, F.col("truth"))
        .otherwise(1 - F.col("truth"))
        .alias("reported"),
    )
    est = 4 * F.sum("reported") - F.count(F.lit(1))
    diff = est - 2 * F.sum("truth")
    return rep.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("truth").cast("long").alias("n_true"),
        F.sum("reported").cast("long").alias("n_reported"),
        est.cast("long").alias("est_x2"),
        (diff * diff <= 64 * F.count(F.lit(1))).alias("ok"),
    )


@query(
    "q_conformal_interval",
    # promoted r14: conformal prediction, never graded (ROTATION.md)
    oracle="""
    WITH rows_ AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y,
             CAST(md5_number_lower('conf-v1:' || CAST(o_orderkey AS VARCHAR))
                  % 4294967296 % 4 AS BIGINT) AS fold
      FROM orders
    ),
    model AS (
      SELECT o_orderpriority,
             CAST(FLOOR((2 * SUM(y) + COUNT(*)) / (2.0 * COUNT(*)))
                  AS BIGINT) AS pred
      FROM rows_ WHERE fold <= 1 GROUP BY 1
    ),
    cal AS (
      SELECT r.o_orderkey, ABS(r.y - m.pred) AS resid
      FROM rows_ r JOIN model m ON m.o_orderpriority = r.o_orderpriority
      WHERE r.fold = 2
    ),
    kq AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
             CAST((9 * (COUNT(*) + 1) + 9) // 10 AS BIGINT) AS k
      FROM cal
    ),
    q AS (
      SELECT resid AS q FROM cal CROSS JOIN kq
      QUALIFY ROW_NUMBER() OVER (ORDER BY resid, o_orderkey) = k
    ),
    test AS (
      SELECT r.o_orderpriority, r.y, m.pred
      FROM rows_ r JOIN model m ON m.o_orderpriority = r.o_orderpriority
      WHERE r.fold = 3
    )
    SELECT t.o_orderpriority, CAST(ANY_VALUE(t.pred) AS BIGINT) AS pred_cents,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(COUNT(*) FILTER (WHERE ABS(t.y - t.pred) <= q.q) AS BIGINT)
             AS n_covered,
           CAST(q.q AS BIGINT) AS q_cents, kq.n_cal, kq.k
    FROM test t CROSS JOIN q CROSS JOIN kq
    GROUP BY 1, q.q, kq.n_cal, kq.k
    """,
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction intervals (Vovk; Lei et al.) — the
    distribution-free uncertainty layer the ML-primitive family (stumps,
    logreg, ALS) was missing: md5 folds split orders into train/
    calibration/test, the model is the per-priority train mean (half-up
    cents — any point predictor slots in), and the interval half-width q
    is the ceil(0.9(n+1))-th smallest calibration |residual|, giving the
    finite-sample ~90% marginal coverage guarantee. q is found by the
    EXACT two-pass binned selection (operators/quality.py:
    kth_smallest_binned — bounded histogram, then rank inside one
    bucket), never a global sort; the oracle selects by plain QUALIFY
    (value-identical by definition of order statistics). The coverage
    gate lives in tests/test_quality.py.

    Output per priority: prediction, test count, covered count, the
    global q, n_cal and k — coverage reconstructs as n_covered/n_test.
    """
    from ..functions.scalar import stable_hash_u32
    from ..operators.quality import kth_smallest_binned

    rows = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
        F.pmod(
            stable_hash_u32(
                F.concat(F.lit("conf-v1:"), F.col("o_orderkey").cast("string"))
            ),
            F.lit(4),
        ).alias("fold"),
    ).localCheckpoint()  # model, calibration and test all read it
    model = (
        rows.where(F.col("fold") <= 1)
        .groupBy("o_orderpriority")
        .agg(
            F.floor(
                (2 * F.sum("y") + F.count(F.lit(1)))
                / (2.0 * F.count(F.lit(1)))
            )
            .cast("long")
            .alias("pred")
        )
    )
    cal = rows.where(F.col("fold") == 2).join(
        F.broadcast(model), "o_orderpriority"
    ).select(
        F.abs(F.col("y") - F.col("pred")).cast("long").alias("v"),
        F.col("o_orderkey").alias("tie"),
    )
    kq = cal.agg(
        F.count(F.lit(1)).cast("long").alias("n_cal"),
        F.floor((9 * (F.count(F.lit(1)) + 1) + 9) / 10)
        .cast("long")
        .alias("k"),
    )
    q = kth_smallest_binned(
        cal.crossJoin(F.broadcast(kq.select("k"))), "k", "v", "tie"
    )
    test = rows.where(F.col("fold") == 3).join(
        F.broadcast(model), "o_orderpriority"
    )
    return (
        test.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(kq))
        .groupBy("o_orderpriority", "q", "n_cal", "k")
        .agg(
            F.any_value("pred").cast("long").alias("pred_cents"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.count(
                F.when(F.abs(F.col("y") - F.col("pred")) <= F.col("q"), 1)
            )
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "o_orderpriority", "pred_cents", "n_test", "n_covered",
            F.col("q").cast("long").alias("q_cents"), "n_cal", "k",
        )
    )


@query(
    "q_fd_repair",
    extra=True,
    oracle="""
    WITH r AS (
      SELECT c.c_custkey, c.c_nationkey AS nk,
             CASE WHEN md5_number_lower('fd-v1:' ||
                    CAST(c.c_custkey AS VARCHAR)) % 4294967296 % 20 = 0
                  THEN (n.n_regionkey + 1) % 5
                  ELSE n.n_regionkey END AS rk
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    votes AS (
      SELECT nk, rk, CAST(COUNT(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
    ),
    winner AS (
      SELECT nk, rk AS maj_rk, c AS maj_c FROM (
        SELECT nk, rk, c,
               ROW_NUMBER() OVER (PARTITION BY nk ORDER BY c DESC, rk) AS rn
        FROM votes
      ) WHERE rn = 1
    ),
    stats AS (
      SELECT r.nk, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) FILTER (WHERE r.rk <> w.maj_rk) AS BIGINT)
               AS n_repaired
      FROM r JOIN winner w ON w.nk = r.nk
      GROUP BY 1
    )
    SELECT s.nk AS nationkey, w.maj_rk AS regionkey_repaired,
           w.maj_c, s.n_rows, s.n_repaired
    FROM stats s JOIN winner w ON w.nk = s.nk
    """,
)
def q_fd_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY violation repair by majority vote — the
    HoloClean-style data-repair member of the quality family (the
    audits DETECT: orphans, duplicate keys, drift; this one FIXES): the
    FD nationkey → regionkey is planted-corrupted on ~5% of customer
    rows (md5-selected, +1 mod 5 — built identically in both engines),
    then each nation's regionkey is re-derived as the majority vote
    with a (count, value) tie-break, and violating rows are counted as
    repairs. The pytest gate proves the repair RECOVERS THE TRUTH:
    every majority value equals the uncorrupted regionkey and the
    repair count equals the planted corruption count exactly.

    Scale: one vote census groupBy (nation × region keys), a bounded
    per-nation winner window, and one broadcast re-join — the repair
    itself never shuffles the fact twice.
    """
    from ..functions.scalar import stable_hash_u32

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    r = (
        cust.join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.when(
                F.pmod(
                    stable_hash_u32(
                        F.concat(
                            F.lit("fd-v1:"),
                            F.col("c_custkey").cast("string"),
                        )
                    ),
                    F.lit(20),
                )
                == 0,
                F.pmod(F.col("n_regionkey") + 1, F.lit(5)),
            )
            .otherwise(F.col("n_regionkey"))
            .alias("rk"),
        )
        .localCheckpoint()  # vote census + repair count read it
    )
    votes = r.groupBy("nk", "rk").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("nk").orderBy(F.desc("c"), "rk")
    winner = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "nk", F.col("rk").alias("maj_rk"), F.col("c").alias("maj_c")
        )
    )
    stats = (
        r.join(F.broadcast(winner), "nk")
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(F.when(F.col("rk") != F.col("maj_rk"), 1))
            .cast("long")
            .alias("n_repaired"),
        )
    )
    return stats.join(F.broadcast(winner), "nk").select(
        F.col("nk").alias("nationkey"),
        F.col("maj_rk").alias("regionkey_repaired"),
        "maj_c",
        "n_rows",
        "n_repaired",
    )


@query(
    "q_group_impute",
    extra=True,
    oracle="""
    WITH r AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS y,
             md5_number_lower('imp-v1:' || CAST(event_id AS VARCHAR))
               % 4294967296 % 10 = 0 AS missing
      FROM events
    ),
    med AS (
      SELECT event_type, y AS med_y FROM (
        SELECT event_type, y,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY y, event_id)
                 AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM r WHERE NOT missing
      ) WHERE rn = (n + 1) // 2
    )
    SELECT r.event_type,
           CAST(COUNT(*) FILTER (WHERE r.missing) AS BIGINT) AS n_imputed,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           m.med_y AS imputed_cents,
           CAST(SUM(CASE WHEN r.missing THEN ABS(r.y - m.med_y)
                         ELSE 0 END) AS BIGINT) AS abs_err_cents
    FROM r JOIN med m ON m.event_type = r.event_type
    GROUP BY 1, m.med_y
    """,
)
def q_group_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-MEDIAN imputation — the repair member for NUMERIC columns
    (q_fd_repair fixes categorical FD breaks; this fills
    planted-missing measurements): ~10% of event values are md5-marked
    missing, the per-type exact LOWER MEDIAN of the observed rows
    (rank = (n+1)//2 with an (value, id) total order — group-keyed
    windows, never global) becomes the fill value, and the relation
    reports the imputation count plus the TRUE absolute error against
    the held-back values — the judge of whether group-median was an
    acceptable imputer at all. All cents-integer arithmetic.

    Scale: one group-keyed rank window over observed rows + one
    broadcast median join; the error audit reuses the same pass.
    """
    from ..functions.scalar import stable_hash_u32

    r = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("y"),
        (
            F.pmod(
                stable_hash_u32(
                    F.concat(
                        F.lit("imp-v1:"), F.col("event_id").cast("string")
                    )
                ),
                F.lit(10),
            )
            == 0
        ).alias("missing"),
    ).localCheckpoint()  # median window + the error audit read it
    w = Window.partitionBy("event_type").orderBy("y", "event_id")
    obs = r.where(~F.col("missing")).select(
        "event_type",
        "y",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    med = obs.where(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select(
        "event_type", F.col("y").alias("med_y")
    )
    return (
        r.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med_y")
        .agg(
            F.count(F.when(F.col("missing"), 1))
            .cast("long")
            .alias("n_imputed"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.when(
                    F.col("missing"), F.abs(F.col("y") - F.col("med_y"))
                ).otherwise(0)
            )
            .cast("long")
            .alias("abs_err_cents"),
        )
        .select(
            "event_type", "n_imputed", "n_rows",
            F.col("med_y").alias("imputed_cents"), "abs_err_cents",
        )
    )


@query(
    "q_uplift_segments",
    # graded r11-r12 (green in CORRECTNESS_r11/r12); rotated to extra in r13
    extra=True,
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_ev,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 200
                 THEN 1 ELSE 0 END) AS conv,
             CAST(md5_number_lower('uplift-v1:' || CAST(user_id AS VARCHAR))
                  % 4294967296 % 2 AS BIGINT) AS treated
      FROM events GROUP BY 1
    ),
    seg AS (
      SELECT LEAST(n_ev // 25, 3) AS segment, treated, conv FROM u
    ),
    g AS (
      SELECT segment,
             CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_t,
             CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_c,
             CAST(SUM(CASE WHEN treated = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_t,
             CAST(SUM(CASE WHEN treated = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_c
      FROM seg GROUP BY 1
    )
    SELECT segment, n_t, n_c, conv_t, conv_c,
           CASE WHEN n_t > 0
             THEN (2 * conv_t * 1000000 + n_t) // (2 * n_t) END AS rate_t_ppm,
           CASE WHEN n_c > 0
             THEN (2 * conv_c * 1000000 + n_c) // (2 * n_c) END AS rate_c_ppm,
           CASE WHEN n_t > 0 AND n_c > 0
             THEN (2 * conv_t * 1000000 + n_t) // (2 * n_t)
                - (2 * conv_c * 1000000 + n_c) // (2 * n_c)
           END AS uplift_ppm
    FROM g
    """,
)
def q_uplift_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPLIFT (incremental-effect) evaluation per activity segment — the
    causal-analytics member of the eval family (ROC/AUC scores a
    predictor; uplift scores an INTERVENTION): users hash-split into a
    deterministic pseudo-treatment (md5 residue — the oracle replays
    it), conversion = a HIGH-VALUE purchase (value >= 200 — any purchase is
    near-universal on this stream, which would degenerate every rate to
    1.0), segments by activity
    buckets (n_events div 25, capped at 3), and per segment the
    treated/control conversion rates plus their difference, all
    half-up-snapped ppm from exact counts. On A/B-log data the same
    relation IS the per-segment uplift report (T-learner difference);
    here the null treatment makes the expected uplift ~0, so the
    non-zero finite-sample differences double as a seed-split sanity
    check (an |uplift| far from 0 in a null split flags a broken
    randomizer — the SRM-adjacent audit).

    Scale: one map-side-combining per-user aggregate, then a
    segment-bounded rollup — two shuffles total, no joins; the rate
    math is scalar projection over <= 4 rows. NULL-safe: segments with
    an empty arm emit NULL rates rather than dividing by zero.
    """
    from ..functions.scalar import stable_hash_u32

    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ev"),
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 200)
                ).cast("int")
            ).alias("conv"),
        )
        .select(
            F.least(
                F.call_function("div", F.col("n_ev"), F.lit(25)), F.lit(3)
            ).alias("segment"),
            F.pmod(
                stable_hash_u32(
                    F.concat(F.lit("uplift-v1:"), F.col("user_id").cast("string"))
                ),
                F.lit(2),
            ).alias("treated"),
            "conv",
        )
    )
    g = u.groupBy("segment").agg(
        F.sum((F.col("treated") == 1).cast("int")).cast("long").alias("n_t"),
        F.sum((F.col("treated") == 0).cast("int")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("treated") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_t"),
        F.sum(F.when(F.col("treated") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_c"),
    )
    d = F.call_function
    rate_t = d("div", 2 * F.col("conv_t") * 1_000_000 + F.col("n_t"), 2 * F.col("n_t"))
    rate_c = d("div", 2 * F.col("conv_c") * 1_000_000 + F.col("n_c"), 2 * F.col("n_c"))
    return g.select(
        "segment",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.when(F.col("n_t") > 0, rate_t).alias("rate_t_ppm"),
        F.when(F.col("n_c") > 0, rate_c).alias("rate_c_ppm"),
        F.when((F.col("n_t") > 0) & (F.col("n_c") > 0), rate_t - rate_c).alias(
            "uplift_ppm"
        ),
    )


# Shared integer DCG position weights: round(1e6 / log2(i+1)) for rank i.
# Hardcoded ONCE and inlined into BOTH engines (the _BURST_TRANS device) —
# per-engine log2() could differ in the last ulp; a literal cannot.
_NDCG_W = (1_000_000, 630_930, 500_000, 430_677, 386_853)


def _ndcg_oracle() -> str:
    w_case = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
    )
    return f"""
    WITH ut AS (
      SELECT user_id, event_type,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS score_cents,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00'
                  THEN 1 ELSE 0 END) AS BIGINT) AS rel
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, rel,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY score_cents DESC, event_type) AS rk,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY rel DESC, event_type) AS irk
      FROM ut
    ),
    agg AS (
      SELECT user_id,
        CAST(SUM(rel * CASE rk {w_case} ELSE 0 END) AS BIGINT) AS dcg_micro,
        CAST(SUM(rel * CASE irk {w_case} ELSE 0 END) AS BIGINT) AS idcg_micro
      FROM ranked GROUP BY 1
    )
    SELECT user_id, dcg_micro, idcg_micro,
      CASE WHEN idcg_micro > 0 THEN
        CAST((2 * dcg_micro * 1000000 + idcg_micro)
             // (2 * idcg_micro) AS BIGINT)
      END AS ndcg_ppm
    FROM agg
    """


@query("q_ndcg_ranking", extra=True, oracle=_ndcg_oracle())
def q_ndcg_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKING-QUALITY evaluation (nDCG@5) — the graded-relevance member
    of the offline-eval family (q_roc_auc grades binary classification;
    this grades a RANKING against graded relevance, the recommender /
    retrieval-eval metric). Time-split protocol: each user's items
    (event types) are ranked by train-period engagement (sum of value
    before 2024-01-22, exact cents) and evaluated against test-period
    interaction counts as relevance grades — the standard
    leakage-free offline replay.

    Determinism: the irrational position discounts 1/log2(i+1) are
    snapped ONCE to shared integer micro-weights (_NDCG_W, the
    _BURST_TRANS device), so DCG and ideal-DCG are exact integer dot
    products in both engines; ndcg_ppm is the half-up integer ratio.
    Ties in both rankings break on event_type for a total order.

    Scale: one map-side-partial aggregation to the (user, item) grain,
    then two windows over <= |items-per-user| rows per user (5 here,
    catalog-bounded in general) and a user-grain rollup — no joins, no
    corpus-sized shuffle beyond the first aggregation.
    """
    cutoff = F.lit("2024-01-22 00:00:00").cast("timestamp")
    ut = (
        fan_out(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "event_type")
        .agg(
            F.sum(
                F.when(F.col("ts") < cutoff, cents("value")).otherwise(
                    F.lit(0).cast("long")
                )
            )
            .cast("long")
            .alias("score_cents"),
            F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0))
            .cast("long")
            .alias("rel"),
        )
    )
    w_rk = Window.partitionBy("user_id").orderBy(
        F.col("score_cents").desc(), "event_type"
    )
    w_irk = Window.partitionBy("user_id").orderBy(
        F.col("rel").desc(), "event_type"
    )
    ranked = ut.select(
        "user_id",
        "rel",
        F.row_number().over(w_rk).alias("rk"),
        F.row_number().over(w_irk).alias("irk"),
    )

    def disc(rank_col: str):
        e = F.lit(0).cast("long")
        for i, w in enumerate(_NDCG_W):
            e = F.when(F.col(rank_col) == i + 1, F.lit(w).cast("long")).otherwise(e)
        return e

    agg = ranked.groupBy("user_id").agg(
        F.sum(F.col("rel") * disc("rk")).cast("long").alias("dcg_micro"),
        F.sum(F.col("rel") * disc("irk")).cast("long").alias("idcg_micro"),
    )
    d = F.call_function
    return agg.select(
        "user_id",
        "dcg_micro",
        "idcg_micro",
        F.when(
            F.col("idcg_micro") > 0,
            d(
                "div",
                F.lit(2) * F.col("dcg_micro") * 1_000_000 + F.col("idcg_micro"),
                F.lit(2) * F.col("idcg_micro"),
            ),
        ).alias("ndcg_ppm"),
    )


@query(
    "q_ipw_ate",
    # graded r12-r13 (green in CORRECTNESS_r12/r13); rotated to extra in
    # r14 to free a slot for never-graded families (ROTATION.md)
    extra=True,
    oracle="""
    WITH u AS (
      SELECT user_id,
        CAST(MAX(CASE WHEN event_type = 'signup'
             AND ts < TIMESTAMP '2024-01-08 00:00:00'
             THEN 1 ELSE 0 END) AS BIGINT) AS treated,
        CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00'
             THEN 1 ELSE 0 END) AS BIGINT) AS pre_n,
        CAST(SUM(CASE WHEN event_type = 'purchase'
             AND ts >= TIMESTAMP '2024-01-08 00:00:00'
             THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS y_cents
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT LEAST(pre_n // 5, 4) AS stratum, treated, y_cents FROM u
    ),
    agg AS (
      SELECT stratum,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(treated) AS BIGINT) AS n_t,
        CAST(COUNT(*) - SUM(treated) AS BIGINT) AS n_c,
        CAST(SUM(CASE WHEN treated = 1 THEN y_cents ELSE 0 END)
             AS BIGINT) AS sum_t,
        CAST(SUM(CASE WHEN treated = 0 THEN y_cents ELSE 0 END)
             AS BIGINT) AS sum_c
      FROM s GROUP BY 1
    ),
    eff AS (
      SELECT stratum, n, n_t, n_c,
        CAST((2 * n_t * 1000000 + n) // (2 * n) AS BIGINT)
          AS propensity_ppm,
        CASE WHEN n_t > 0 THEN
          CAST((2 * sum_t * 1000 + n_t) // (2 * n_t) AS BIGINT)
        END AS mean_t_milli,
        CASE WHEN n_c > 0 THEN
          CAST((2 * sum_c * 1000 + n_c) // (2 * n_c) AS BIGINT)
        END AS mean_c_milli
      FROM agg
    ),
    strata AS (
      SELECT CAST(stratum AS BIGINT) AS stratum, n, n_t, n_c,
        propensity_ppm, mean_t_milli, mean_c_milli,
        CASE WHEN mean_t_milli IS NOT NULL AND mean_c_milli IS NOT NULL
          THEN mean_t_milli - mean_c_milli END AS effect_milli
      FROM eff
    )
    SELECT * FROM strata
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS stratum,
      CAST(SUM(n) AS BIGINT) AS n,
      CAST(SUM(n_t) AS BIGINT) AS n_t,
      CAST(SUM(n_c) AS BIGINT) AS n_c,
      CAST(NULL AS BIGINT) AS propensity_ppm,
      CAST(NULL AS BIGINT) AS mean_t_milli,
      CAST(NULL AS BIGINT) AS mean_c_milli,
      CAST((2 * SUM(n * effect_milli) + SUM(n)) // (2 * SUM(n)) AS BIGINT)
        AS effect_milli
    FROM strata WHERE effect_milli IS NOT NULL
    """,
)
def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBSERVATIONAL causal effect — stratified / inverse-propensity-
    weighted average treatment effect, the non-experimental sibling of
    q_uplift_segments (which assumes a randomized split; here treatment
    is self-selected and must be ADJUSTED for). Protocol: treatment =
    user signed up in week 1; outcome = post-week-1 purchase cents;
    confounder = week-1 activity (event count, fixed-width strata
    LEAST(pre_n // 5, 4) — fixed bins, not data-dependent quantiles, so
    both engines bin identically). Within a stratum the propensity is
    n_t/n, and the stratified difference-of-means estimator emitted here
    is ALGEBRAICALLY the Horvitz-Thompson IPW estimator with
    within-stratum propensities — the form that stays exact-integer.
    The stratum = -1 row is the overall ATE: the n-weighted half-up
    average of the per-stratum effects over strata with both arms
    populated (computed from the already-snapped integers, so the two
    engines combine identically).

    Scale: one map-side-partial aggregation to the user grain, one to
    the 5-row strata grain, one 5-row rollup — no joins, no corpus-sized
    shuffle beyond the first aggregation; strata are bounded by the
    binning, never the corpus.
    """
    d = F.call_function
    wk1 = F.lit("2024-01-08 00:00:00").cast("timestamp")
    u = (
        fan_out(load_table(spark, sf_dir, "events"))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "signup") & (F.col("ts") < wk1), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("treated"),
            F.sum(F.when(F.col("ts") < wk1, 1).otherwise(0))
            .cast("long")
            .alias("pre_n"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= wk1),
                    cents("value"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("y_cents"),
        )
    )
    agg = (
        u.select(
            F.least(d("div", F.col("pre_n"), F.lit(5)), F.lit(4).cast("long")).alias(
                "stratum"
            ),
            "treated",
            "y_cents",
        )
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("treated").cast("long").alias("n_t"),
            (F.count(F.lit(1)) - F.sum("treated")).cast("long").alias("n_c"),
            F.sum(F.when(F.col("treated") == 1, F.col("y_cents")).otherwise(0))
            .cast("long")
            .alias("sum_t"),
            F.sum(F.when(F.col("treated") == 0, F.col("y_cents")).otherwise(0))
            .cast("long")
            .alias("sum_c"),
        )
    )
    mean_t = F.when(
        F.col("n_t") > 0,
        d("div", 2 * F.col("sum_t") * 1000 + F.col("n_t"), 2 * F.col("n_t")),
    )
    mean_c = F.when(
        F.col("n_c") > 0,
        d("div", 2 * F.col("sum_c") * 1000 + F.col("n_c"), 2 * F.col("n_c")),
    )
    strata = agg.select(
        "stratum",
        "n",
        "n_t",
        "n_c",
        d("div", 2 * F.col("n_t") * 1_000_000 + F.col("n"), 2 * F.col("n")).alias(
            "propensity_ppm"
        ),
        mean_t.alias("mean_t_milli"),
        mean_c.alias("mean_c_milli"),
        (mean_t - mean_c).alias("effect_milli"),
    ).localCheckpoint()  # the per-stratum relation and the rollup read it
    overall = (
        strata.where(F.col("effect_milli").isNotNull())
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("n_t").cast("long").alias("n_t"),
            F.sum("n_c").cast("long").alias("n_c"),
            F.sum(F.col("n") * F.col("effect_milli")).cast("long").alias("num"),
        )
        .select(
            F.lit(-1).cast("long").alias("stratum"),
            "n",
            "n_t",
            "n_c",
            F.lit(None).cast("long").alias("propensity_ppm"),
            F.lit(None).cast("long").alias("mean_t_milli"),
            F.lit(None).cast("long").alias("mean_c_milli"),
            d("div", 2 * F.col("num") + F.col("n"), 2 * F.col("n")).alias(
                "effect_milli"
            ),
        )
    )
    return strata.unionByName(overall)


# SPRT constants, snapped ONCE to shared integer micro-nats (the
# _BURST_TRANS device): H0 p=0.75 vs H1 p=0.85, alpha = beta = 0.05.
_SPRT_S = 125_163  # round(1e6 * ln(0.85/0.75)) — success increment
_SPRT_F = -510_826  # round(1e6 * ln(0.15/0.25)) — failure increment
_SPRT_A = 2_944_439  # round(1e6 * ln((1-0.05)/0.05)) — accept-H1 bound


@query(
    "q_sprt_sequential",
    extra=True,
    oracle=f"""
    WITH obs AS (
      SELECT event_type AS t, ts, event_id,
             CASE WHEN value >= 10 THEN {_SPRT_S}
                  ELSE {_SPRT_F} END AS inc
      FROM events
    ),
    walk AS (
      SELECT t, ts, event_id,
        CAST(SUM(inc) OVER (PARTITION BY t ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr,
        CAST(ROW_NUMBER() OVER (PARTITION BY t ORDER BY ts, event_id)
             AS BIGINT) AS n
      FROM obs
    ),
    crossing AS (
      SELECT t, MIN(n) AS n_dec FROM walk
      WHERE llr >= {_SPRT_A} OR llr <= -{_SPRT_A}
      GROUP BY t
    ),
    final AS (
      SELECT t, MAX(n) AS n_total,
             MAX(CASE WHEN n = mn THEN llr END) AS llr_final
      FROM (SELECT *, MAX(n) OVER (PARTITION BY t) AS mn FROM walk)
      GROUP BY t
    )
    SELECT f.t AS experiment, f.n_total,
      c.n_dec AS n_at_decision,
      CASE WHEN c.n_dec IS NULL THEN 'continue'
           WHEN w.llr >= {_SPRT_A} THEN 'accept_h1'
           ELSE 'accept_h0' END AS decision,
      COALESCE(w.llr, f.llr_final) AS llr_micro
    FROM final f
    LEFT JOIN crossing c ON c.t = f.t
    LEFT JOIN walk w ON w.t = f.t AND w.n = c.n_dec
    """,
)
def q_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD SPRT — sequential probability ratio test per event-type
    "experiment": the SEQUENTIAL member of the eval family (the fixed-
    horizon tests — q_abtest_proportions, Mann-Whitney, KS — decide at a
    preset n; SPRT walks the cumulative log-likelihood ratio in event-
    time order and stops at the FIRST boundary crossing, the optimal-
    expected-sample-size design). Success = value >= 10 (~0.82 here);
    H0 p=0.75 vs H1 p=0.85, alpha = beta = 0.05. Both per-observation
    increments AND the Wald boundaries are irrational constants snapped
    ONCE to shared integer micro-nats, so the walk is an exact integer
    random walk in both engines; the decision time is genuinely
    SF-dependent (small streams may exhaust before crossing ->
    'continue' — honest sequential behavior, not vacuity: every row
    carries its final state).

    Scale: one window partitioned by EXPERIMENT (the natural key — at
    production each experiment's stream fits a partition; a single
    experiment too large for one is tiled by the running-sum carry
    device), plus experiment-grain rollups. No corpus-sized shuffle
    beyond the partition-by-experiment exchange.
    """
    obs = fan_out(load_table(spark, sf_dir, "events")).select(
        F.col("event_type").alias("t"),
        "ts",
        "event_id",
        F.when(F.col("value") >= 10, F.lit(_SPRT_S))
        .otherwise(F.lit(_SPRT_F))
        .cast("long")
        .alias("inc"),
    )
    w = Window.partitionBy("t").orderBy("ts", "event_id")
    walk = obs.select(
        "t",
        F.sum("inc").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("llr"),
        F.row_number().over(w).cast("long").alias("n"),
    ).localCheckpoint()  # crossing, final and the decision join read it
    # fresh column aliases at every derivation: crossing/final/dec all
    # share walk's lineage and Spark 4's ambiguous-self-join analyzer
    # rejects joins through the shared attribute ids otherwise (the
    # markov chains/ea lesson)
    crossing = (
        walk.where(
            (F.col("llr") >= _SPRT_A) | (F.col("llr") <= -_SPRT_A)
        )
        .groupBy(F.col("t").alias("t_c"))
        .agg(F.min("n").alias("n_dec"))
        .localCheckpoint()
    )
    final = walk.groupBy(F.col("t").alias("t_f")).agg(
        F.max("n").alias("n_total"),
        F.max_by("llr", "n").alias("llr_final"),
    )
    dec = walk.join(
        F.broadcast(crossing),
        (F.col("t") == F.col("t_c")) & (F.col("n") == F.col("n_dec")),
    ).select(
        F.col("t_c").alias("tc"), "n_dec", F.col("llr").alias("llr_dec")
    )
    return (
        final.join(F.broadcast(dec), F.col("t_f") == F.col("tc"), "left")
        .select(
            F.col("t_f").alias("experiment"),
            "n_total",
            F.col("n_dec").alias("n_at_decision"),
            F.when(F.col("n_dec").isNull(), F.lit("continue"))
            .when(F.col("llr_dec") >= _SPRT_A, F.lit("accept_h1"))
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
            F.coalesce(F.col("llr_dec"), F.col("llr_final")).alias(
                "llr_micro"
            ),
        )
    )


@query(
    "q_quantile_normalize",
    extra=True,
    oracle="""
    WITH pooled AS (
      SELECT n_chars AS v,
        ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS grank,
        COUNT(*) OVER () AS nn
      FROM documents
    ),
    src AS (
      SELECT doc_id, source, n_chars,
        CAST(ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY n_chars, doc_id) AS BIGINT) AS src_rank,
        CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
      FROM documents
    ),
    tgt AS (
      SELECT doc_id, source, n_chars, src_rank,
        LEAST(GREATEST(
          CAST((2 * src_rank * (SELECT MAX(nn) FROM pooled) + n_src)
               // (2 * n_src) AS BIGINT), 1),
          (SELECT MAX(nn) FROM pooled)) AS target_rank
      FROM src
    )
    SELECT t.doc_id, t.source, CAST(t.n_chars AS BIGINT) AS n_chars,
           t.src_rank, t.target_rank, CAST(p.v AS BIGINT) AS qn_value
    FROM tgt t JOIN pooled p ON p.grank = t.target_rank
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION — cross-source distribution alignment, the
    rank-based member of the feature-preprocessing family
    (q_feature_scale shifts/scales moments; this maps each source's
    empirical distribution ONTO the pooled one, the batch-effect
    correction / empirical QuantileTransformer used to make quality
    scores comparable across scorer versions or crawl snapshots). Each
    row's within-source rank r (of n_s) maps to pooled rank
    half-up(r * N / n_s) clamped to [1, N] — the shared integer device,
    so both engines land on the identical pooled value; all orders carry
    the doc_id tiebreak. Equal-size sources therefore receive EXACTLY
    the same normalized multiset — gate-tested, the defining property.

    Scale: within-source ranks are source-partitioned windows (the
    natural key); the POOLED rank uses the dense-ids device
    (operators/ids.py — repartitionByRange + per-range offsets, no
    single-partition window anywhere); the final attach is a rank-keyed
    equi join between corpus-sized relations.
    """
    from ..operators.ids import assign_dense_ids

    docs = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "n_chars"
    )
    pooled = assign_dense_ids(docs, ["n_chars", "doc_id"], "grank0").select(
        F.col("n_chars").alias("v"), (F.col("grank0") + 1).alias("grank")
    ).localCheckpoint()  # the count and the rank attach both read it
    nn = pooled.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    src = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).cast("long").alias("src_rank"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("long")
        .alias("n_src"),
    )
    d = F.call_function
    tgt = src.crossJoin(F.broadcast(nn)).select(
        "doc_id",
        "source",
        "n_chars",
        "src_rank",
        F.least(
            F.greatest(
                d(
                    "div",
                    2 * F.col("src_rank") * F.col("nn") + F.col("n_src"),
                    2 * F.col("n_src"),
                ),
                F.lit(1).cast("long"),
            ),
            F.col("nn"),
        ).alias("target_rank"),
    )
    return tgt.join(
        pooled, tgt["target_rank"] == pooled["grank"]
    ).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        "src_rank",
        "target_rank",
        F.col("v").cast("long").alias("qn_value"),
    )


@query(
    "q_fairness_audit",
    extra=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, n_chars, text,
                      {_SQL_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, lang, n_chars,
        CAST(len(text) AS BIGINT) AS n,
        CAST(len(toks) AS BIGINT) AS ntok,
        CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS a,
        CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')) AS BIGINT) AS p,
        CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0)
             AS BIGINT) AS sl
      FROM t
    ),
    q AS (
      SELECT doc_id, lang,
        CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label,
        CASE WHEN CAST(3 * (CASE WHEN ntok >= 10 AND ntok <= 5000 THEN 1000000
                       WHEN ntok > 0 THEN 500000 ELSE 0 END)
           + 3 * (CASE WHEN n > 0 THEN (2 * a * 1000000 + n) // (2 * n) ELSE 0 END)
           + 2 * (CASE WHEN (CASE WHEN n > 0 THEN (2 * p * 1000000 + n) // (2 * n) ELSE 0 END) > 200000
                       THEN 0 ELSE 1000000 END)
           + 2 * (CASE WHEN ntok > 0
                        AND (2 * sl * 1000000 + ntok) // (2 * ntok) >= 3000000
                        AND (2 * sl * 1000000 + ntok) // (2 * ntok) <= 12000000
                       THEN 1000000 ELSE 500000 END)
          AS DOUBLE) / 10000000.0 >= 0.9465 THEN 1 ELSE 0 END AS pred
      FROM m
    ),
    g AS (
      SELECT lang AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(label) AS BIGINT) AS n_label,
        CAST(SUM(pred) AS BIGINT) AS n_pred,
        CAST(SUM(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_tp,
        CAST(SUM(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_fp
      FROM q GROUP BY 1
      UNION ALL
      SELECT 'ALL', CAST(COUNT(*) AS BIGINT), CAST(SUM(label) AS BIGINT),
        CAST(SUM(pred) AS BIGINT),
        CAST(SUM(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT),
        CAST(SUM(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM q
    )
    SELECT grp, n, n_label, n_pred,
      CAST((2 * n_pred * 1000000 + n) // (2 * n) AS BIGINT) AS pred_rate_ppm,
      CASE WHEN n_label > 0 THEN
        CAST((2 * n_tp * 1000000 + n_label) // (2 * n_label) AS BIGINT)
      END AS tpr_ppm,
      CASE WHEN n - n_label > 0 THEN
        CAST((2 * n_fp * 1000000 + (n - n_label))
             // (2 * (n - n_label)) AS BIGINT)
      END AS fpr_ppm
    FROM g
    """,
)
def q_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-FAIRNESS AUDIT of the corpus quality gate — the
    responsible-AI member of the eval family (roc_auc grades global
    discrimination; this reports PER-GROUP selection behavior: the
    demographic-parity base pred_rate_ppm and the equalized-odds
    components tpr_ppm/fpr_ppm per language, plus the ALL row the gaps
    are read against — the audit a data-curation pipeline publishes so a
    quality filter's language skew is visible before training). The
    predictor thresholds the quality score at its 0.9465 median split
    (the pipeline's own 0.7 gate passes every synthetic doc — the
    registration-time vacuity class — so the audit uses the score's
    actual median, stable across SFs); the reference label is the fixed
    n_chars >= 300 split (~0.5 base rate per group). All rates are half-up integer ppm with
    zero-guarded arms (single-class groups emit NULL, both engines
    agreeing — the q_markov_attribution lesson).

    Scale: one narrow scoring scan + a map-side-combining group rollup
    over |langs|+1 rows; no joins, no window.
    """
    from ..operators.textstats import quality_score

    docs = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "n_chars", "text"
    )
    q = docs.select(
        "lang",
        (F.col("n_chars") >= 300).cast("long").alias("label"),
        (quality_score("text") >= 0.9465).cast("long").alias("pred"),
    ).localCheckpoint()  # the per-group and ALL rollups both read it

    def roll(df, grp_col):
        return df.groupBy(grp_col.alias("grp")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_label"),
            F.sum("pred").cast("long").alias("n_pred"),
            F.sum(
                ((F.col("pred") == 1) & (F.col("label") == 1)).cast("long")
            )
            .cast("long")
            .alias("n_tp"),
            F.sum(
                ((F.col("pred") == 1) & (F.col("label") == 0)).cast("long")
            )
            .cast("long")
            .alias("n_fp"),
        )

    g = roll(q, F.col("lang")).unionByName(roll(q, F.lit("ALL")))
    d = F.call_function
    neg = F.col("n") - F.col("n_label")
    return g.select(
        "grp",
        "n",
        "n_label",
        "n_pred",
        d(
            "div", 2 * F.col("n_pred") * 1_000_000 + F.col("n"), 2 * F.col("n")
        ).alias("pred_rate_ppm"),
        F.when(
            F.col("n_label") > 0,
            d(
                "div",
                2 * F.col("n_tp") * 1_000_000 + F.col("n_label"),
                2 * F.col("n_label"),
            ),
        ).alias("tpr_ppm"),
        F.when(
            neg > 0,
            d("div", 2 * F.col("n_fp") * 1_000_000 + neg, 2 * neg),
        ).alias("fpr_ppm"),
    )


#: Mondrian k-guard: a cut is taken only if BOTH sides keep >= this many
#: rows. 100 binds scale-sensitively on the synthetic corpus: 500-doc
#: SFs stop at 4 leaves (a level-3 cut would make ~62-row cells), the
#: 5000-doc sf0.1 corpus runs all 3 levels to 8 leaves of ~625.
_MONDRIAN_K = 100
_MONDRIAN_DIMS = ("x0", "x1", "x0")


def _mondrian_oracle_sql() -> str:
    parts = [
        "WITH d0 AS (",
        "  SELECT doc_id, n_chars AS x0,",
        f"         CAST(len({_SQL_TOKS}) AS BIGINT) AS x1,",
        "         CAST(0 AS BIGINT) AS cell",
        "  FROM documents",
        "),",
    ]
    prev = "d0"
    for lvl, dim in enumerate(_MONDRIAN_DIMS, start=1):
        parts += [
            f"s{lvl} AS (",
            f"  SELECT cell, {dim} AS v, COUNT(*) AS c",
            f"  FROM {prev} GROUP BY 1, 2",
            "),",
            f"m{lvl} AS (",
            "  SELECT cell, v AS med, cum, n FROM (",
            "    SELECT cell, v, cum, n, ROW_NUMBER() OVER (",
            "      PARTITION BY cell ORDER BY v) AS rn",
            "    FROM (",
            "      SELECT cell, v,",
            "        SUM(c) OVER (PARTITION BY cell ORDER BY v) AS cum,",
            "        SUM(c) OVER (PARTITION BY cell) AS n",
            f"      FROM s{lvl})",
            "    WHERE cum >= (n + 1) // 2",
            "  ) WHERE rn = 1",
            "),",
            f"d{lvl} AS (",
            "  SELECT d.doc_id, d.x0, d.x1,",
            "    d.cell * 2 + CASE WHEN m.cum >= " + str(_MONDRIAN_K),
            "      AND m.n - m.cum >= " + str(_MONDRIAN_K),
            f"      AND d.{dim} > m.med THEN 1 ELSE 0 END AS cell",
            f"  FROM {prev} d JOIN m{lvl} m ON d.cell = m.cell",
            "),",
        ]
        prev = f"d{lvl}"
    parts[-1] = ")"  # close the last CTE without the chain comma
    return "\n".join(parts) + f"""
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(x0) AS BIGINT) AS x0_lo, CAST(MAX(x0) AS BIGINT) AS x0_hi,
           CAST(MIN(x1) AS BIGINT) AS x1_lo, CAST(MAX(x1) AS BIGINT) AS x1_hi
    FROM {prev} GROUP BY cell
    """


@query("q_mondrian_anon", extra=True, oracle=_mondrian_oracle_sql())
def q_mondrian_anon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian multidimensional k-anonymity partitioning (LeFevre et
    al.) — the ALGORITHMIC member of the privacy family (q_k_anonymity
    audits class sizes, q_k_anon_generalize applies a FIXED hierarchy;
    Mondrian FINDS the partition): 3 levels of binary median cuts over
    the (n_chars, token-count) quasi-identifier plane, alternating
    dimensions, each cut taken only if both sides keep >= k = 100 rows
    — the k-guard binds scale-sensitively (4 leaves at the 500-doc SFs,
    8 at sf0.1). The cut point is the LOWER MEDIAN read off the
    distinct-value spine (min v with cum >= (n+1) div 2) so every
    quantity is an exact integer; ties go left; the leaf id is the cut
    bit-path. Output: each leaf's generalized bounding box and size —
    the anonymized release schema.

    Scale: per level ONE map-side-combining groupBy(cell, value) to the
    spine, windows over the SPINE only (value-domain-sized, never the
    corpus — the q_ks_two_sample shape), and a broadcast join of the
    <= 2^level-row median relation back onto the corpus; the corpus is
    never windowed, sorted, or shuffled beyond the spine rollups.
    """
    from ..operators.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    df = docs.select(
        "doc_id",
        F.col("n_chars").alias("x0"),
        token_count("text").cast("long").alias("x1"),
        F.lit(0).cast("long").alias("cell"),
    )
    div = F.call_function
    for dim in _MONDRIAN_DIMS:
        spine = df.groupBy("cell", F.col(dim).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        wcum = (
            Window.partitionBy("cell")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        sp = spine.select(
            "cell",
            "v",
            F.sum("c").over(wcum).alias("cum"),
            F.sum("c").over(Window.partitionBy("cell")).alias("n"),
        )
        med = (
            sp.where(F.col("cum") >= div("div", F.col("n") + 1, F.lit(2)))
            .groupBy("cell")
            .agg(
                F.min_by(
                    F.struct(F.col("v"), F.col("cum"), F.col("n")), F.col("v")
                ).alias("m")
            )
            .select(
                "cell",
                F.col("m.v").alias("med"),
                (
                    (F.col("m.cum") >= _MONDRIAN_K)
                    & (F.col("m.n") - F.col("m.cum") >= _MONDRIAN_K)
                ).alias("allowed"),
            )
        )
        df = (
            df.join(F.broadcast(med), "cell")
            .withColumn(
                "cell",
                F.col("cell") * 2
                + F.when(
                    F.col("allowed") & (F.col(dim) > F.col("med")), 1
                ).otherwise(0),
            )
            .drop("med", "allowed")
        )
    return df.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("x0").cast("long").alias("x0_lo"),
        F.max("x0").cast("long").alias("x0_hi"),
        F.min("x1").cast("long").alias("x1_lo"),
        F.max("x1").cast("long").alias("x1_hi"),
    )
