r"""Driver-contract queries, batch 4: cleaning / filtering / robust outliers.

Text normalization (markup strip + Unicode NFC), C4-style line filtering,
and median/MAD robust outlier flags — the cleaning passes that run before
dedup in a web-corpus pipeline, plus the robust-statistics variant of the
reference's quantile thresholding (end_to_end_prediction.py:447).

Same corpus-injection pattern as the dedup/curation batches: the fixture
text has no markup / combining characters / multi-line structure, so each
query derives a corpus with deterministic injected snippets that the
DuckDB oracle re-derives in plain SQL. All patterns are engine-portable
(Java regex and RE2 agree on every string used here; the control-char
strip runs BEFORE the whitespace collapse so RE2's ASCII-only ``\s`` and
Java's ``\x0B``-including ``\s`` can never disagree).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomalydetection_spark.operators import normalize, stats

# ---------------------------------------------------------------------------
# text normalization: markup strip (JVM) + NFC canonicalization (Arrow UDF)
# ---------------------------------------------------------------------------


def _norm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with injected markup, entities, a combining-accent NFC
    case, a control char, and double spacing — every transform the
    normalizer handles, keyed off n_chars so the oracle re-derives it."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.col("n_chars")
    txt = F.col("text")
    txt = F.when(
        n % 6 == 0, F.concat(txt, F.lit(" <b>Bold</b> &amp; cafe\u0301"))
    ).otherwise(txt)
    txt = F.when(n % 9 == 0, F.concat(txt, F.lit(" x\x07y"))).otherwise(txt)
    txt = F.when(n % 4 == 0, F.concat(txt, F.lit("  double  spaced."))).otherwise(txt)
    return d.select("doc_id", "source", txt.alias("text"))


def normalize_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source normalization accounting over the injected corpus:
    docs touched by markup/whitespace stripping, chars removed, docs whose
    text was not NFC (combining sequences composed), and the final
    normalized char volume. Map-only until the final hash agg."""
    corpus = _norm_corpus(spark, sf_dir)
    normed = normalize.normalize_docs(corpus, "doc_id", "text", keep_cols=["source"])
    return normed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("chars_removed") > 0).cast("long")).alias("docs_markup"),
        F.sum("chars_removed").cast("long").alias("chars_removed"),
        F.sum(F.col("nfc_changed").cast("long")).alias("docs_nfc_changed"),
        F.sum(F.length("normalized")).cast("long").alias("norm_chars"),
    )


_NORM_CORPUS_SQL = """
norm_corpus AS (
  SELECT doc_id, source,
    text
    || CASE WHEN n_chars % 6 = 0
         THEN ' <b>Bold</b> &amp; cafe' || chr(769) ELSE '' END
    || CASE WHEN n_chars % 9 = 0 THEN ' x' || chr(7) || 'y' ELSE '' END
    || CASE WHEN n_chars % 4 = 0 THEN '  double  spaced.' ELSE '' END
    AS text
  FROM documents
)
"""

# replace() chain mirrors normalize.ENTITIES order ('&amp;' last); the
# strip order tags → entities → control → whitespace → trim is the
# operator's documented contract
NORMALIZE_TEXT_SQL = f"""
WITH {_NORM_CORPUS_SQL},
n AS (
  SELECT doc_id, source, text,
    trim(regexp_replace(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(text, '{normalize.TAG_PATTERN}', '', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '), '&amp;', '&'),
      '{normalize.CONTROL_PATTERN}', '', 'g'), '\\s+', ' ', 'g')) AS stripped
  FROM norm_corpus
),
m AS (
  SELECT doc_id, source, text, stripped, nfc_normalize(stripped) AS normalized
  FROM n
)
SELECT source, count(*)::bigint AS n_docs,
  sum(CASE WHEN length(text) - length(stripped) > 0 THEN 1 ELSE 0 END)::bigint AS docs_markup,
  sum(length(text) - length(stripped))::bigint AS chars_removed,
  sum(CASE WHEN normalized <> stripped THEN 1 ELSE 0 END)::bigint AS docs_nfc_changed,
  sum(length(normalized))::bigint AS norm_chars
FROM m GROUP BY source
"""

# ---------------------------------------------------------------------------
# C4-style line filtering
# ---------------------------------------------------------------------------


def _c4_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with multi-line structure: two always-good lines, a third
    good line for every 5th doc, a too-short line for every 2nd, a
    ban-phrase line for every 17th, a code-brace line for every 19th."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.col("n_chars")
    txt = F.concat(
        F.col("text"),
        F.lit("\nA good line with sufficient words here."),
        F.lit("\nAnother solid line with many words inside."),
    )
    txt = F.when(
        n % 5 == 0,
        F.concat(txt, F.lit("\nA third good sentence with plenty of words too.")),
    ).otherwise(txt)
    txt = F.when(n % 2 == 0, F.concat(txt, F.lit("\nshort line"))).otherwise(txt)
    txt = F.when(
        n % 17 == 0, F.concat(txt, F.lit("\nincludes lorem ipsum dolor sit amet."))
    ).otherwise(txt)
    txt = F.when(
        n % 19 == 0, F.concat(txt, F.lit("\nvar f = function() { return 1; }"))
    ).otherwise(txt)
    return d.select("doc_id", "source", txt.alias("text"))


def c4_quality_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, verdict-reason) accounting of C4 line filtering over
    the injected corpus: docs, total lines, lines surviving the per-line
    rule. One map-only pass (split + higher-order filter) + hash agg."""
    corpus = _c4_corpus(spark, sf_dir)
    filtered = normalize.c4_line_filter(corpus, "doc_id", "text", keep_cols=["source"])
    return filtered.groupBy("source", "reason").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_lines").cast("long").alias("total_lines"),
        F.sum("n_kept_lines").cast("long").alias("kept_lines"),
    )


C4_FILTER_SQL = r"""
WITH c4_corpus AS (
  SELECT doc_id, source,
    text
    || chr(10) || 'A good line with sufficient words here.'
    || chr(10) || 'Another solid line with many words inside.'
    || CASE WHEN n_chars % 5 = 0
         THEN chr(10) || 'A third good sentence with plenty of words too.' ELSE '' END
    || CASE WHEN n_chars % 2 = 0 THEN chr(10) || 'short line' ELSE '' END
    || CASE WHEN n_chars % 17 = 0
         THEN chr(10) || 'includes lorem ipsum dolor sit amet.' ELSE '' END
    || CASE WHEN n_chars % 19 = 0
         THEN chr(10) || 'var f = function() { return 1; }' ELSE '' END
    AS text
  FROM documents
),
per_doc AS (
  SELECT doc_id, source,
    len(string_split(text, chr(10))) AS n_lines,
    len(list_filter(string_split(text, chr(10)), x ->
      length(trim(x)) > 0
      AND (ends_with(trim(x), '.') OR ends_with(trim(x), '!')
           OR ends_with(trim(x), '?') OR ends_with(trim(x), '"'))
      AND len(string_split_regex(trim(x), '\s+')) >= 5)) AS n_kept,
    (contains(lower(text), 'lorem ipsum') OR contains(lower(text), 'javascript')) AS ban,
    contains(text, '{') AS brace
  FROM c4_corpus
),
v AS (
  SELECT source, n_lines, n_kept,
    CASE WHEN ban THEN 'ban_phrase' WHEN brace THEN 'brace'
         WHEN n_kept < 3 THEN 'too_few_lines' ELSE 'kept' END AS reason
  FROM per_doc
)
SELECT source, reason, count(*)::bigint AS n_docs,
  sum(n_lines)::bigint AS total_lines,
  sum(n_kept)::bigint AS kept_lines
FROM v GROUP BY source, reason
"""

# ---------------------------------------------------------------------------
# robust (median/MAD) outlier flags over hourly event counts
# ---------------------------------------------------------------------------


def mad_outlier_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event volumes flagged by robust z-score (|x−median|/MAD >
    3.5) — the heavy-tail-safe variant of the reference's quantile
    threshold. The hourly agg reduces the corpus first; median/MAD are
    scalar-agg crossJoins over that small frame (operators/stats.py)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hours = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    return stats.mad_outliers(hours, "n_events", z_threshold=3.5)


MAD_OUTLIER_SQL = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour, count(*)::bigint AS n_events
  FROM events GROUP BY 1
),
m AS (SELECT quantile_cont(n_events, 0.5) AS med FROM h),
d AS (SELECT h.*, abs(n_events - med) AS dev FROM h, m),
md AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
SELECT hour, n_events,
  CASE WHEN mad > 0 THEN round(dev / mad, 6) END AS rz,
  CASE WHEN mad > 0 THEN dev / mad > 3.5 ELSE n_events <> med END AS is_outlier
FROM d, m, md
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "normalize_text_stats": normalize_text_stats,
    "c4_quality_filter_stats": c4_quality_filter_stats,
    "mad_outlier_hours": mad_outlier_hours,
}

ORACLE_SQL: dict[str, str] = {
    "normalize_text_stats": NORMALIZE_TEXT_SQL,
    "c4_quality_filter_stats": C4_FILTER_SQL,
    "mad_outlier_hours": MAD_OUTLIER_SQL,
}

# ---------------------------------------------------------------------------
# incremental ingest dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------


def _inc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with injected cross-set and within-batch exact duplicates:
    every 5th doc (by n_chars, both sides of the doc_id%3 split) collapses
    to one of 9 shared passages; every batch doc with n_chars%7==3
    collapses to one of 11 batch-local snippets. CASE order (shared wins)
    is part of the contract and mirrored in the oracle."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.col("n_chars")
    txt = (
        F.when(n % 5 == 0, F.concat(F.lit("shared boilerplate passage "), (n % 9).cast("string")))
        .when(
            (F.col("doc_id") % 3 == 0) & (n % 7 == 3),
            F.concat(F.lit("batch repeated snippet "), (n % 11).cast("string")),
        )
        .otherwise(F.col("text"))
    )
    return d.select("doc_id", "source", txt.alias("text"))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, status) counts of classifying the doc_id%3==0 batch
    against the doc_id%3!=0 corpus by exact normalized-text identity
    (dedup.incremental_exact_dedup, bloom short-circuit on): the
    continuous-ingestion dedup pass, corpus hashes never shuffled."""
    inc = _inc_corpus(spark, sf_dir)
    corpus = inc.filter(F.col("doc_id") % 3 != 0)
    batch = inc.filter(F.col("doc_id") % 3 == 0)
    from anomalydetection_spark.operators import dedup

    # smaller filter at gate scale: the verify join removes false
    # positives, so m_bits trades plan-literal size against FP rate only
    labeled = dedup.incremental_exact_dedup(batch, corpus, "doc_id", "text", m_bits=1 << 17)
    joined = labeled.join(batch.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source", "status").agg(F.count("*").cast("long").alias("n_docs"))


DEDUP_INCREMENTAL_SQL = """
WITH inc AS (
  SELECT doc_id, source,
    CASE WHEN n_chars % 5 = 0 THEN 'shared boilerplate passage ' || (n_chars % 9)
         WHEN doc_id % 3 = 0 AND n_chars % 7 = 3
           THEN 'batch repeated snippet ' || (n_chars % 11)
         ELSE text END AS text
  FROM documents
),
corpus AS (
  SELECT md5(lower(trim(text))) AS h FROM inc WHERE doc_id % 3 <> 0 GROUP BY 1
),
batch AS (
  SELECT doc_id, source, md5(lower(trim(text))) AS h FROM inc WHERE doc_id % 3 = 0
),
bs AS (SELECT h, min(doc_id) AS keep_id, count(*) AS n FROM batch GROUP BY h),
j AS (
  SELECT b.source,
    CASE WHEN c.h IS NOT NULL THEN 'dup_vs_corpus'
         WHEN bs.n > 1 AND b.doc_id <> bs.keep_id THEN 'dup_in_batch'
         ELSE 'unique' END AS status
  FROM batch b LEFT JOIN corpus c ON b.h = c.h JOIN bs ON b.h = bs.h
)
SELECT source, status, count(*)::bigint AS n_docs FROM j GROUP BY source, status
"""

QUERIES["dedup_incremental"] = dedup_incremental
ORACLE_SQL["dedup_incremental"] = DEDUP_INCREMENTAL_SQL


# ---------------------------------------------------------------------------
# batch 9: DSIR importance weights + exact class-centroid statistics
# ---------------------------------------------------------------------------


def dsir_importance_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language DSIR importance accounting with English as the target
    distribution: docs resembling the target's hashed-n-gram profile get
    positive weights. 'en' must surface with the highest average weight —
    a built-in sanity check the oracle hash also pins. One feature-stream
    hash agg fits both bag models; the 2^16-bucket weight table
    broadcasts back (see textops.dsir_importance for the scale shape)."""
    from anomalydetection_spark.operators import textops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = textops.dsir_importance(
        docs, "doc_id", "text", F.col("lang") == "en", keep_cols=["lang"]
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_feats").alias("n_feats"),
            F.sum("weight_fp").alias("weight_fp"),
        )
        .withColumn(
            "avg_weight",
            F.round(F.col("weight_fp") / (F.lit(1e9) * F.col("n_feats")), 6),
        )
    )


DSIR_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang, (lang = 'en')::bigint AS tgt,
         string_split_regex(trim(text), '\s+') AS t
  FROM documents),
feats AS (
  SELECT doc_id, lang, tgt, unnest(list_concat(
    t,
    CASE WHEN len(t) >= 2 THEN
      [t[i] || ' ' || t[i+1] FOR i IN generate_series(1, len(t) - 1)]
    ELSE [] END)) AS f
  FROM toks),
bucketed AS (
  SELECT doc_id, lang, tgt,
    (('0x' || substr(md5(f), 1, 15))::bigint % 1048576) % 65536 AS b
  FROM feats),
buckets AS (
  SELECT b, sum(tgt)::bigint AS ct, count(*)::bigint AS cr
  FROM bucketed GROUP BY b),
totals AS (SELECT sum(ct)::bigint AS nt, sum(cr)::bigint AS nr FROM buckets),
weights AS (
  SELECT b, round(ln(((ct + 1) * (nr + 65536)) /
                     ((cr + 1) * (nt + 65536))) * 1e9, 0)::bigint AS w
  FROM buckets, totals),
perdoc AS (
  SELECT doc_id, lang, count(*)::bigint AS n_feats, sum(w)::bigint AS weight_fp
  FROM bucketed JOIN weights USING (b)
  GROUP BY doc_id, lang)
SELECT lang, count(*)::bigint AS n_docs, sum(n_feats)::bigint AS n_feats,
       sum(weight_fp)::bigint AS weight_fp,
       round(sum(weight_fp) / (1e9 * sum(n_feats)), 6) AS avg_weight
FROM perdoc
GROUP BY lang
"""


def class_centroid_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point per-label centroid norms and dispersions over the
    embedding table (see similarity.class_centroid_stats): the vector sums
    a float implementation would make run-order-dependent are bigint-exact
    here, so the hash matches DuckDB bit-for-bit."""
    from anomalydetection_spark.operators import similarity

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.class_centroid_stats(em, "label", "embedding")


CENTROID_SQL = """
WITH ex AS (
  SELECT label, i - 1 AS dim,
         floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5)::bigint AS x_fp
  FROM (SELECT label, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)),
per_dim AS (
  SELECT label, dim, sum(x_fp)::bigint AS sum_fp,
         sum(x_fp * x_fp)::bigint AS sumsq_fp, count(*)::bigint AS n
  FROM ex GROUP BY 1, 2),
per_label AS (
  SELECT label, max(n)::bigint AS n_vecs,
         sum(sum_fp * sum_fp)::bigint AS norm2_num,
         sum(sumsq_fp)::bigint AS sumsq_total
  FROM per_dim GROUP BY 1)
SELECT label, n_vecs, norm2_num,
  round(sqrt(norm2_num) / (1000000.0 * n_vecs), 6) AS centroid_norm,
  round((n_vecs * sumsq_total - norm2_num)
        / (n_vecs * n_vecs * 1000000000000.0), 6) AS mean_sq_dist
FROM per_label
"""

QUERIES["dsir_importance_by_lang"] = dsir_importance_by_lang
ORACLE_SQL["dsir_importance_by_lang"] = DSIR_SQL
QUERIES["class_centroid_stats"] = class_centroid_stats_q
ORACLE_SQL["class_centroid_stats"] = CENTROID_SQL


# ---------------------------------------------------------------------------
# constraint suggestion: generic column profiler over the documents table
# ---------------------------------------------------------------------------


def profile_suggest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-ConstraintSuggestion shape (plans/suggest.profile_suggest):
    profile every column of the documents table in one hash aggregate
    (plus one domain pass over only the proven-low-cardinality columns)
    and emit the (column, rule, param) constraints the data satisfies —
    complete / max_null_rate_ppm / unique / isin / value_range. Every
    param is a bigint-derived or sorted-domain string, so an external SQL
    engine derives the identical suggestion set from the same table."""
    from anomalydetection_spark.plans.suggest import profile_suggest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return profile_suggest(docs, max_domain=8)


PROFILE_SUGGEST_SQL = """
WITH s AS (
  SELECT count(*) AS n,
         count(doc_id) AS nn_doc, count(DISTINCT doc_id) AS nd_doc,
         count(text) AS nn_text, count(DISTINCT text) AS nd_text,
         count(lang) AS nn_lang, count(DISTINCT lang) AS nd_lang,
         count(source) AS nn_src, count(DISTINCT source) AS nd_src,
         count(n_chars) AS nn_nc, count(DISTINCT n_chars) AS nd_nc,
         min(doc_id) AS mn_doc, max(doc_id) AS mx_doc,
         min(n_chars) AS mn_nc, max(n_chars) AS mx_nc,
         count(DISTINCT regexp_replace(regexp_replace(text, '[0-9]+', '9', 'g'),
                                       '[A-Za-z]+', 'A', 'g')) AS nskel_text,
         count(DISTINCT regexp_replace(regexp_replace(lang, '[0-9]+', '9', 'g'),
                                       '[A-Za-z]+', 'A', 'g')) AS nskel_lang,
         count(DISTINCT regexp_replace(regexp_replace(source, '[0-9]+', '9', 'g'),
                                       '[A-Za-z]+', 'A', 'g')) AS nskel_src
  FROM documents),
doms AS (
  SELECT string_agg(DISTINCT lang, '|' ORDER BY lang) AS dom_lang,
         string_agg(DISTINCT source, '|' ORDER BY source) AS dom_src,
         max(regexp_replace(regexp_replace(text, '[0-9]+', '9', 'g'),
                            '[A-Za-z]+', 'A', 'g')) AS sk_text,
         max(regexp_replace(regexp_replace(lang, '[0-9]+', '9', 'g'),
                            '[A-Za-z]+', 'A', 'g')) AS sk_lang,
         max(regexp_replace(regexp_replace(source, '[0-9]+', '9', 'g'),
                            '[A-Za-z]+', 'A', 'g')) AS sk_src
  FROM documents),
rules AS (
  -- completeness / null-rate per column
  SELECT 'doc_id' AS col, CASE WHEN n = nn_doc THEN 'complete' ELSE 'max_null_rate_ppm' END AS rule,
         CASE WHEN n = nn_doc THEN '' ELSE CAST(least(1000000, 2 * ((n - nn_doc) * 1000000 + n - 1) // n) AS VARCHAR) END AS param FROM s
  UNION ALL
  SELECT 'text', CASE WHEN n = nn_text THEN 'complete' ELSE 'max_null_rate_ppm' END,
         CASE WHEN n = nn_text THEN '' ELSE CAST(least(1000000, 2 * ((n - nn_text) * 1000000 + n - 1) // n) AS VARCHAR) END FROM s
  UNION ALL
  SELECT 'lang', CASE WHEN n = nn_lang THEN 'complete' ELSE 'max_null_rate_ppm' END,
         CASE WHEN n = nn_lang THEN '' ELSE CAST(least(1000000, 2 * ((n - nn_lang) * 1000000 + n - 1) // n) AS VARCHAR) END FROM s
  UNION ALL
  SELECT 'source', CASE WHEN n = nn_src THEN 'complete' ELSE 'max_null_rate_ppm' END,
         CASE WHEN n = nn_src THEN '' ELSE CAST(least(1000000, 2 * ((n - nn_src) * 1000000 + n - 1) // n) AS VARCHAR) END FROM s
  UNION ALL
  SELECT 'n_chars', CASE WHEN n = nn_nc THEN 'complete' ELSE 'max_null_rate_ppm' END,
         CASE WHEN n = nn_nc THEN '' ELSE CAST(least(1000000, 2 * ((n - nn_nc) * 1000000 + n - 1) // n) AS VARCHAR) END FROM s
  -- uniqueness
  UNION ALL SELECT 'doc_id', 'unique', '' FROM s WHERE n = nn_doc AND nd_doc = n
  UNION ALL SELECT 'text', 'unique', '' FROM s WHERE n = nn_text AND nd_text = n
  UNION ALL SELECT 'lang', 'unique', '' FROM s WHERE n = nn_lang AND nd_lang = n
  UNION ALL SELECT 'source', 'unique', '' FROM s WHERE n = nn_src AND nd_src = n
  UNION ALL SELECT 'n_chars', 'unique', '' FROM s WHERE n = nn_nc AND nd_nc = n
  -- low-cardinality domains (max_domain = 8)
  UNION ALL SELECT 'lang', 'isin', dom_lang FROM s, doms WHERE nd_lang <= 8
  UNION ALL SELECT 'source', 'isin', dom_src FROM s, doms WHERE nd_src <= 8
  -- numeric ranges
  UNION ALL SELECT 'doc_id', 'value_range', mn_doc || '..' || mx_doc FROM s
  UNION ALL SELECT 'n_chars', 'value_range', mn_nc || '..' || mx_nc FROM s
  -- single-skeleton string shapes
  UNION ALL SELECT 'text', 'pattern_skeleton', sk_text FROM s, doms WHERE nskel_text = 1
  UNION ALL SELECT 'lang', 'pattern_skeleton', sk_lang FROM s, doms WHERE nskel_lang = 1
  UNION ALL SELECT 'source', 'pattern_skeleton', sk_src FROM s, doms WHERE nskel_src = 1)
SELECT col AS column, rule, param FROM rules
"""

QUERIES["profile_suggest_documents"] = profile_suggest_documents
ORACLE_SQL["profile_suggest_documents"] = PROFILE_SUGGEST_SQL


# ---------------------------------------------------------------------------
# information-theoretic analyzers: entropy / distinctness / MI / correlation
# ---------------------------------------------------------------------------


def entropy_lang_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source entropy + distinctness of the lang distribution
    (operators/infotheory.entropy_fp): Deequ's Entropy/Distinctness
    analyzers as exact bigint rows — entropy is the Σ cnt·round(ln(n/cnt)
    ·1e9) numerator (nats·1e9·n) so equal inputs hash equal cross-engine;
    a batch where one language floods a source shows as the numerator
    collapsing toward 0."""
    from anomalydetection_spark.operators.infotheory import entropy_fp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return entropy_fp(docs, "lang", ["source"])


ENTROPY_LANG_SQL = """
WITH counts AS (
  SELECT source, lang, count(*)::bigint AS cnt
  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
tot AS (
  SELECT source, sum(cnt)::bigint AS n, count(*)::bigint AS nd
  FROM counts GROUP BY 1)
SELECT source, n, nd AS n_distinct,
       (nd * 1000000) // n AS distinctness_ppm,
       sum(cnt * cast(round(ln(n / cnt) * 1000000000.0, 0) AS bigint))::bigint
         AS entropy_fp_n
FROM counts JOIN tot USING (source)
GROUP BY source, n, nd
"""


def mi_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between lang and source (one row): Deequ's
    MutualInformation analyzer as the exact bigint numerator
    Σ cnt_xy·round(ln(cnt_xy·n/(cnt_x·cnt_y))·1e9). The marginals derive
    from the joint counts (never a second table pass) and broadcast back
    onto it — at 10^12 docs the only full-table work is the one joint
    hash aggregate."""
    from anomalydetection_spark.operators.infotheory import mutual_information_fp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mutual_information_fp(docs, "lang", "source")


MI_LANG_SOURCE_SQL = """
WITH pairs AS (
  SELECT lang, source, count(*)::bigint AS cnt_xy
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
mx AS (SELECT lang, sum(cnt_xy)::bigint AS cnt_x FROM pairs GROUP BY 1),
my AS (SELECT source, sum(cnt_xy)::bigint AS cnt_y FROM pairs GROUP BY 1),
tot AS (SELECT sum(cnt_xy)::bigint AS n FROM pairs)
SELECT n, count(*)::bigint AS n_cells,
       sum(cnt_xy * cast(round(ln((cnt_xy::double * n) / (cnt_x::double * cnt_y))
                               * 1000000000.0, 0) AS bigint))::bigint AS mi_fp_n
FROM pairs JOIN mx USING (lang) JOIN my USING (source), tot
GROUP BY n
"""


def corr_hour_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Pearson correlation between hour-of-day and the
    cents-fixed-point value (operators/infotheory.correlation_exact):
    Deequ's Correlation analyzer emitting the exact bigint moment sums
    (n, Σx, Σy, Σxy, Σx², Σy² — the mergeable sufficient statistics) plus
    corr rounded to 6. One map-side-partial hash aggregate."""
    from anomalydetection_spark.operators.infotheory import correlation_exact

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_type",
            F.hour("ts").alias("hour"),
            F.round(F.col("value") * 100.0).cast("long").alias("value_fp"),
        )
    )
    return correlation_exact(ev, "hour", "value_fp", ["event_type"])


CORR_HOUR_VALUE_SQL = """
WITH ev AS (
  SELECT event_type, extract(hour FROM ts)::bigint AS x,
         cast(round(value * 100.0, 0) AS bigint) AS y
  FROM events),
m AS (
  SELECT event_type, count(*)::bigint AS n,
         sum(x)::bigint AS sx, sum(y)::bigint AS sy,
         sum(x * y)::bigint AS sxy, sum(x * x)::bigint AS sxx,
         sum(y * y)::bigint AS syy
  FROM ev GROUP BY 1)
SELECT event_type, n, sx, sy, sxy, sxx, syy,
       CASE WHEN (n::hugeint * sxx - sx::hugeint * sx) > 0
             AND (n::hugeint * syy - sy::hugeint * sy) > 0
            THEN round((n::hugeint * sxy - sx::hugeint * sy)
                       / sqrt((n::hugeint * sxx - sx::hugeint * sx)::double
                              * (n::hugeint * syy - sy::hugeint * sy)::double), 6)
       END AS corr
FROM m
"""

QUERIES["entropy_lang_by_source"] = entropy_lang_by_source
ORACLE_SQL["entropy_lang_by_source"] = ENTROPY_LANG_SQL
QUERIES["mi_lang_source"] = mi_lang_source
ORACLE_SQL["mi_lang_source"] = MI_LANG_SOURCE_SQL
QUERIES["corr_hour_value_by_type"] = corr_hour_value_by_type
ORACLE_SQL["corr_hour_value_by_type"] = CORR_HOUR_VALUE_SQL


# ---------------------------------------------------------------------------
# placement audit: partition-transform consistency
# ---------------------------------------------------------------------------


def placement_audit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-placement audit (operators/placement.py) over the derived
    interleaved table, deliberately declaring a DIFFERENT transform
    (bucket-8) than the one the table was laid out with (bucket-4): every
    doc whose doc_id lands in buckets 4..7 under the declared transform is
    a misplaced row. One map-only pass; verdicts group by the physical
    partition whose files would need rewriting."""
    from anomalydetection_spark.operators.placement import (
        PlacementThresholds,
        check,
    )
    from anomalydetection_spark.plans.flagship import derive_spans_documents

    docs = derive_spans_documents(spark, sf_dir)
    verdicts, _ = check(
        docs, PlacementThresholds(expr="pmod(cast(doc_id as bigint), 8)")
    )
    return verdicts.select(
        "partition_id", "constraint", "passed", "violation_count", "row_count"
    )


PLACEMENT_AUDIT_SQL = """
WITH d AS (
  SELECT (doc_id % 4)::int AS partition_id, (doc_id % 8)::int AS expected
  FROM documents)
SELECT partition_id, 'placement' AS "constraint",
       sum(CASE WHEN expected <> partition_id THEN 1 ELSE 0 END) = 0 AS passed,
       sum(CASE WHEN expected <> partition_id THEN 1 ELSE 0 END)::bigint
         AS violation_count,
       count(*)::bigint AS row_count
FROM d GROUP BY partition_id
"""

QUERIES["placement_audit_docs"] = placement_audit_docs
ORACLE_SQL["placement_audit_docs"] = PLACEMENT_AUDIT_SQL


# ---------------------------------------------------------------------------
# expression rules: named row-level SQL predicates (dbt-test analog)
# ---------------------------------------------------------------------------


def expression_rules_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three fused expression rules (operators/expression.py) over the
    documents table: an invariant that holds everywhere (n_chars matches
    length(text)), a bound that many rows break (n_chars <= 300), and a
    where-scoped rule checked only on English docs (n_chars >= 120). One
    scan evaluates all three; verdict rows exist for every
    (partition × rule) pair including all-pass ones."""
    from anomalydetection_spark.operators.expression import ExpressionRule, check

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "partition_id", F.pmod(F.col("doc_id"), F.lit(8)).cast("int")
    )
    rules = (
        ExpressionRule("chars_match_text", "n_chars = length(text)"),
        ExpressionRule("chars_bounded", "n_chars <= 300"),
        ExpressionRule("en_min_len", "n_chars >= 120", where="lang = 'en'"),
    )
    verdicts, _ = check(d, rules)
    return verdicts.select(
        "partition_id",
        "constraint",
        "passed",
        "violation_count",
        "row_count",
        F.col("metrics")["n_checked"].cast("long").alias("n_checked"),
    )


EXPRESSION_RULES_SQL = """
WITH d AS (
  SELECT *, (doc_id % 8)::int AS partition_id FROM documents)
SELECT partition_id, 'expression:chars_match_text' AS "constraint",
       sum(CASE WHEN NOT coalesce(n_chars = length(text), FALSE)
                THEN 1 ELSE 0 END) = 0 AS passed,
       sum(CASE WHEN NOT coalesce(n_chars = length(text), FALSE)
                THEN 1 ELSE 0 END)::bigint AS violation_count,
       count(*)::bigint AS row_count,
       count(*)::bigint AS n_checked
FROM d GROUP BY partition_id
UNION ALL
SELECT partition_id, 'expression:chars_bounded',
       sum(CASE WHEN NOT coalesce(n_chars <= 300, FALSE)
                THEN 1 ELSE 0 END) = 0,
       sum(CASE WHEN NOT coalesce(n_chars <= 300, FALSE)
                THEN 1 ELSE 0 END)::bigint,
       count(*)::bigint,
       count(*)::bigint
FROM d GROUP BY partition_id
UNION ALL
SELECT partition_id, 'expression:en_min_len',
       sum(CASE WHEN coalesce(lang = 'en', FALSE)
                 AND NOT coalesce(n_chars >= 120, FALSE)
                THEN 1 ELSE 0 END) = 0,
       sum(CASE WHEN coalesce(lang = 'en', FALSE)
                 AND NOT coalesce(n_chars >= 120, FALSE)
                THEN 1 ELSE 0 END)::bigint,
       count(*)::bigint,
       sum(CASE WHEN coalesce(lang = 'en', FALSE) THEN 1 ELSE 0 END)::bigint
FROM d GROUP BY partition_id
"""

QUERIES["expression_rules_documents"] = expression_rules_documents
ORACLE_SQL["expression_rules_documents"] = EXPRESSION_RULES_SQL


# ---------------------------------------------------------------------------
# two-table reconciliation: source vs perturbed copy
# ---------------------------------------------------------------------------


def reconcile_orders_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation gate + drill-down (operators/reconcile.py) between
    orders and a deterministically corrupted copy of itself: keys dropped
    (%997), values bumped (%991), alien keys injected (%983). Returns the
    per-status accounting a migration validator reports. Raw checksums are
    engine-specific; only their EQUALITY crosses the oracle boundary."""
    from anomalydetection_spark.operators.reconcile import diff, summary

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    left = spark.read.parquet(f"{sf_dir}/orders.parquet").select(*cols)
    right = left.filter(F.col("o_orderkey") % 997 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 991 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        left.filter(F.col("o_orderkey") % 983 == 0).withColumn(
            "o_orderkey", -F.col("o_orderkey")
        )
    )
    s = summary(left, right, ["o_orderkey"], ["o_totalprice"], "o_orderstatus")
    d = (
        diff(left, right, ["o_orderkey"], ["o_totalprice"], "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.sum((F.col("status") == "missing_in_right").cast("long")).alias(
                "n_missing_in_right"
            ),
            F.sum((F.col("status") == "missing_in_left").cast("long")).alias(
                "n_missing_in_left"
            ),
            F.sum((F.col("status") == "value_mismatch").cast("long")).alias(
                "n_value_mismatch"
            ),
        )
    )
    return (
        s.join(d, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            "n_left",
            "n_right",
            "counts_match",
            "checksum_match",
            F.coalesce("n_missing_in_right", F.lit(0)).alias("n_missing_in_right"),
            F.coalesce("n_missing_in_left", F.lit(0)).alias("n_missing_in_left"),
            F.coalesce("n_value_mismatch", F.lit(0)).alias("n_value_mismatch"),
        )
    )


RECONCILE_ORDERS_SQL = """
WITH l AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
r AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice
  FROM l WHERE o_orderkey % 997 <> 0
  UNION ALL
  SELECT -o_orderkey, o_orderstatus, o_totalprice FROM l
  WHERE o_orderkey % 983 = 0
),
ls AS (SELECT o_orderstatus, count(*)::bigint AS n_left,
              sum(hash(o_orderkey, o_totalprice)::hugeint) AS cs
       FROM l GROUP BY 1),
rs AS (SELECT o_orderstatus, count(*)::bigint AS n_right,
              sum(hash(o_orderkey, o_totalprice)::hugeint) AS cs
       FROM r GROUP BY 1),
d AS (
  SELECT coalesce(l.o_orderstatus, r.o_orderstatus) AS o_orderstatus,
         CASE WHEN r.o_orderkey IS NULL THEN 'missing_in_right'
              WHEN l.o_orderkey IS NULL THEN 'missing_in_left'
              WHEN l.o_totalprice <> r.o_totalprice THEN 'value_mismatch'
              END AS status
  FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
),
dc AS (
  SELECT o_orderstatus,
         sum(CASE WHEN status = 'missing_in_right' THEN 1 ELSE 0 END)::bigint
           AS n_missing_in_right,
         sum(CASE WHEN status = 'missing_in_left' THEN 1 ELSE 0 END)::bigint
           AS n_missing_in_left,
         sum(CASE WHEN status = 'value_mismatch' THEN 1 ELSE 0 END)::bigint
           AS n_value_mismatch
  FROM d WHERE status IS NOT NULL GROUP BY 1
)
SELECT ls.o_orderstatus, ls.n_left, rs.n_right,
       ls.n_left = rs.n_right AS counts_match,
       ls.cs = rs.cs AS checksum_match,
       coalesce(dc.n_missing_in_right, 0) AS n_missing_in_right,
       coalesce(dc.n_missing_in_left, 0) AS n_missing_in_left,
       coalesce(dc.n_value_mismatch, 0) AS n_value_mismatch
FROM ls JOIN rs USING (o_orderstatus)
LEFT JOIN dc USING (o_orderstatus)
"""

QUERIES["reconcile_orders_copy"] = reconcile_orders_copy
ORACLE_SQL["reconcile_orders_copy"] = RECONCILE_ORDERS_SQL


# ---------------------------------------------------------------------------
# skew audit + Benford conformance
# ---------------------------------------------------------------------------


def skew_audit_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key audit (operators/skew.key_skew): the 10 heaviest users in
    the event stream with their share of all events and multiple of the
    mean user load — the diagnostic that picks between targeted salting
    (few named hot keys) and AQE + repartitioning (broad heavy tail).
    Deterministic tie-break (n desc, user_id asc)."""
    from anomalydetection_spark.operators.skew import key_skew

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return key_skew(e, "user_id", top_k=10)


SKEW_AUDIT_SQL = """
WITH c AS (SELECT user_id, count(*)::bigint AS n FROM events GROUP BY 1),
t AS (SELECT sum(n)::bigint AS total, count(*)::bigint AS n_keys FROM c)
SELECT user_id, n,
       round(n / (SELECT total FROM t), 6) AS share,
       round(n * (SELECT n_keys FROM t) / (SELECT total FROM t), 6) AS x_mean
FROM c ORDER BY n DESC, user_id ASC LIMIT 10
"""


def benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance (operators/drift.benford) over
    order totals: observed leading-digit shares vs log10(1+1/d). Digit
    extracted from the decimal string rendering so engines cannot
    disagree on float log rounding at powers of ten."""
    from anomalydetection_spark.operators.drift import benford

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return benford(o, "o_totalprice")


def _benford_sql() -> str:
    # same driver-computed expected literals + deterministic quantizer the
    # Spark operator uses (drift.BENFORD_EXPECTED / detquant.det_round6) —
    # no per-engine log10 and no engine-native double round on the boundary
    from anomalydetection_spark.functions.detquant import det_round6_sql
    from anomalydetection_spark.operators.drift import BENFORD_EXPECTED

    values = ", ".join(
        f"({d}, {e!r})" for d, e in enumerate(BENFORD_EXPECTED, start=1)
    )
    share = det_round6_sql("coalesce(o.n, 0) / (SELECT total FROM t)")
    return f"""
WITH digits AS (SELECT * FROM (VALUES {values}) AS v(digit, expected)),
obs AS (
  SELECT regexp_extract(o_totalprice::varchar, '[1-9]')::int AS digit,
         count(*)::bigint AS n
  FROM orders
  WHERE regexp_extract(o_totalprice::varchar, '[1-9]') <> ''
  GROUP BY 1
),
t AS (SELECT sum(n)::bigint AS total FROM obs)
SELECT d.digit::int AS digit, coalesce(o.n, 0)::bigint AS n,
       {share} AS share,
       d.expected::double AS expected
FROM digits d LEFT JOIN obs o USING (digit)
"""


BENFORD_SQL = _benford_sql()

QUERIES["skew_audit_user_events"] = skew_audit_user_events
ORACLE_SQL["skew_audit_user_events"] = SKEW_AUDIT_SQL
QUERIES["benford_totalprice"] = benford_totalprice
ORACLE_SQL["benford_totalprice"] = BENFORD_SQL


# ---------------------------------------------------------------------------
# functional-dependency audit
# ---------------------------------------------------------------------------


def fd_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD audit (operators/uniqueness.fd_audit) over the event stream: the
    identity FD event_id → user_id must hold (event ids are unique), the
    behavioral non-FD user_id → event_type must not (users emit many
    types) — one green row, one red row, both integer-exact."""
    from anomalydetection_spark.operators.uniqueness import fd_audit

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return fd_audit(e, "event_id", "user_id").unionByName(
        fd_audit(e, "user_id", "event_type")
    )


FD_AUDIT_SQL = """
WITH a AS (
  SELECT event_id, count(DISTINCT user_id) AS nv FROM events GROUP BY 1
),
b AS (
  SELECT user_id, count(DISTINCT event_type) AS nv FROM events GROUP BY 1
)
SELECT 'event_id' AS determinant, 'user_id' AS dependent,
       count(*)::bigint AS n_keys,
       sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::bigint AS n_violating_keys,
       max(nv)::bigint AS max_distinct,
       sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
FROM a
UNION ALL
SELECT 'user_id', 'event_type', count(*)::bigint,
       sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::bigint,
       max(nv)::bigint,
       sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0
FROM b
"""

QUERIES["fd_audit_events"] = fd_audit_events
ORACLE_SQL["fd_audit_events"] = FD_AUDIT_SQL


# ---------------------------------------------------------------------------
# higher-moment shape analyzers
# ---------------------------------------------------------------------------


def moments_n_chars_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language shape summary of document lengths (operators/
    moments.skewness_kurtosis): exact decimal(38,0) power-sum anchors
    Σx..Σx⁴ plus exact integer fixed-point mean/variance (value·10⁶) —
    the Deequ StandardDeviation/Skewness/Kurtosis analyzer family as ONE
    mergeable hash aggregate.

    The hashed projection is DOUBLE-FREE by design: two consecutive
    driver-red rounds (r03, r04) proved that ANY double on the hash
    boundary — even int64-limb-reconstructed inputs with a fixed IEEE
    expression shape — can flip a floor(t·1e6 + 0.5) quantization by one
    output unit across engine BUILDS (FMA contraction / codegen of
    a·b − c·d differ by 1 ulp), unobservable on a local DuckDB and
    observable on the driver's. The anchors (n, s1..s4) uniquely
    DETERMINE skewness/kurtosis, so the shape columns carry no extra
    information for the correctness gate; they remain available from
    operators/moments.skewness_kurtosis and are pinned against NumPy to
    2e-6 by tests/test_moments.py + tests/test_property_moments.py."""
    from anomalydetection_spark.operators.moments import skewness_kurtosis

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return skewness_kurtosis(d, "n_chars", ["lang"]).select(
        "lang", "n", "s1", "s2", "s3", "s4", "mean_fp6", "variance_fp6"
    )


def _moments_sql() -> str:
    # the DuckDB twin embeds the SAME generated shape formulas the Spark
    # operator runs (moments.shape_fp_sql) — one source of truth, two
    # integral-division spellings (Spark `div`, DuckDB `//`). Only the
    # exact-integer columns (mean_fp6, variance_fp6) reach the hashed
    # projection — the double-derived skew/kurt quantizations are
    # excluded (see moments_n_chars_by_lang docstring).
    from anomalydetection_spark.operators.moments import shape_fp_sql

    shapes = shape_fp_sql("h_", dialect="duckdb")
    shape_select = ",\n       ".join(
        f"{sql} AS {name}"
        for name, sql in shapes.items()
        if name in ("mean_fp6", "variance_fp6")
    )
    return f"""
WITH s AS (
  SELECT lang,
         count(n_chars)::bigint AS h_n,
         sum(n_chars::hugeint)::hugeint AS h_s1,
         sum(n_chars::hugeint * n_chars)::hugeint AS h_s2,
         sum(n_chars::hugeint * n_chars * n_chars)::hugeint AS h_s3,
         sum(n_chars::hugeint * n_chars * n_chars * n_chars)::hugeint AS h_s4
  FROM documents GROUP BY lang
)
SELECT lang, h_n AS n,
       h_s1::decimal(38,0) AS s1, h_s2::decimal(38,0) AS s2,
       h_s3::decimal(38,0) AS s3, h_s4::decimal(38,0) AS s4,
       {shape_select}
FROM s
"""


MOMENTS_SQL = _moments_sql()

QUERIES["moments_n_chars_by_lang"] = moments_n_chars_by_lang
ORACLE_SQL["moments_n_chars_by_lang"] = MOMENTS_SQL


# ---------------------------------------------------------------------------
# correlation matrix (all pairs, one pass)
# ---------------------------------------------------------------------------


def corr_matrix_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Pearson matrix (operators/infotheory.correlation_matrix)
    over three event-derived integer features — hour of day, day of
    month, floor(value) — every pair's exact bigint moment sums riding
    ONE scan, long-form pivot on the single aggregated row."""
    from anomalydetection_spark.operators.infotheory import correlation_matrix

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.hour("ts").cast("long").alias("hour_of_day"),
        F.dayofmonth("ts").cast("long").alias("day_of_month"),
        F.floor("value").cast("long").alias("value_floor"),
    )
    return correlation_matrix(e, ["hour_of_day", "day_of_month", "value_floor"])


_CM_PAIR_SQL = """
  SELECT '{cx}' AS col_x, '{cy}' AS col_y,
    count(*)::bigint AS n,
    sum({cx})::bigint AS sx, sum({cy})::bigint AS sy,
    sum({cx} * {cy})::bigint AS sxy,
    sum({cx} * {cx})::bigint AS sxx, sum({cy} * {cy})::bigint AS syy,
    round(
      cast(count(*)::hugeint * sum({cx} * {cy})::hugeint
           - sum({cx})::hugeint * sum({cy})::hugeint AS double)
      / sqrt(cast(count(*)::hugeint * sum({cx} * {cx})::hugeint
                  - sum({cx})::hugeint * sum({cx})::hugeint AS double)
           * cast(count(*)::hugeint * sum({cy} * {cy})::hugeint
                  - sum({cy})::hugeint * sum({cy})::hugeint AS double)),
      6) AS corr
  FROM feats WHERE {cx} IS NOT NULL AND {cy} IS NOT NULL
"""

CORR_MATRIX_SQL = (
    """
WITH feats AS (
  SELECT hour(ts)::bigint AS hour_of_day,
         day(ts)::bigint AS day_of_month,
         floor(value)::bigint AS value_floor
  FROM events)
"""
    + "\nUNION ALL\n".join(
        _CM_PAIR_SQL.format(cx=cx, cy=cy)
        for cx, cy in [
            ("hour_of_day", "day_of_month"),
            ("hour_of_day", "value_floor"),
            ("day_of_month", "value_floor"),
        ]
    )
)

QUERIES["corr_matrix_events"] = corr_matrix_events
ORACLE_SQL["corr_matrix_events"] = CORR_MATRIX_SQL


def join_fanout_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join explosion audit (operators/skew.join_fanout_audit): the
    exact predicted row count of orders ⋈ lineitem on orderkey plus the
    top-10 contributing keys — the many-to-many guard a pipeline runs
    BEFORE submitting an expensive join. All exact integers / one
    fixed-point ratio, so the DuckDB twin matches bit-for-bit."""
    from anomalydetection_spark.operators.skew import join_fanout_audit

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("orderkey")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("orderkey")
    )
    return join_fanout_audit(o, li, "orderkey", top_k=10)


JOIN_FANOUT_SQL = """
WITH ln AS (SELECT o_orderkey AS orderkey, count(*)::bigint AS n_left
            FROM orders GROUP BY 1),
rn AS (SELECT l_orderkey AS orderkey, count(*)::bigint AS n_right
       FROM lineitem GROUP BY 1),
pair AS (
  SELECT ln.orderkey, n_left, n_right,
         n_left::hugeint * n_right::hugeint AS p
  FROM ln JOIN rn ON ln.orderkey = rn.orderkey),
tot AS (
  SELECT sum(p) AS predicted, count(*)::bigint AS n_join_keys,
         max(p) AS maxp
  FROM pair),
sizes AS (
  SELECT (SELECT count(*) FROM orders)::hugeint AS nl,
         (SELECT count(*) FROM lineitem)::hugeint AS nr)
SELECT b.orderkey, b.n_left, b.n_right,
       least(b.p, 9223372036854775807::hugeint)::bigint AS product,
       least(t.predicted, 9223372036854775807::hugeint)::bigint AS predicted_rows,
       t.n_join_keys,
       least(t.maxp, 9223372036854775807::hugeint)::bigint AS max_product,
       CASE WHEN least(t.predicted, 9223372036854775807::hugeint)
                 > 9223372036854::hugeint * greatest(s.nl, s.nr)
            THEN 9223372036854775807::bigint
            ELSE ((least(t.predicted, 9223372036854775807::hugeint)
                     * 1000000::hugeint)
                    // greatest(s.nl, s.nr))::bigint END AS fanout_x_fp6
FROM pair b, tot t, sizes s
ORDER BY b.p DESC, b.orderkey ASC
LIMIT 10
"""

QUERIES["join_fanout_orders_lineitem"] = join_fanout_orders_lineitem
ORACLE_SQL["join_fanout_orders_lineitem"] = JOIN_FANOUT_SQL
