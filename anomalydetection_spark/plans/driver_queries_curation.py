r"""Driver-contract queries, batch 3: corpus-curation operators.

PII scanning/redaction, concat-and-chunk sequence packing, and
boilerplate-paragraph detection — the scrubbing/packing passes a training
corpus runs after dedup and before tokenization. The fixture corpus has no
PII strings or paragraph structure, so (like the dedup batch's injected
duplicates) each query derives a corpus with deterministically injected
snippets in plain relational algebra the DuckDB oracle reproduces exactly.

The regex patterns are engine-portable (no lookaround/backrefs) so the
identical pattern string drives Spark's Java engine and DuckDB's RE2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomalydetection_spark.operators import packing, pii, textops

# ---------------------------------------------------------------------------
# PII scan + redaction by source
# ---------------------------------------------------------------------------

def _pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministically injected PII snippets: every
    (n_chars % k)-th doc gains an email / ipv4 / phone / ssn string built
    from its own integer columns (no randomness — the oracle re-derives
    the same corpus)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.col("n_chars")
    txt = F.col("text")
    txt = F.when(
        n % 7 == 0, F.concat(txt, F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com"))
    ).otherwise(txt)
    txt = F.when(
        n % 5 == 0,
        F.concat(txt, F.lit(" host 10."), (n % 200).cast("string"), F.lit(".0."), (n % 250).cast("string")),
    ).otherwise(txt)
    txt = F.when(
        n % 11 == 0,
        F.concat(txt, F.lit(" call 555-"), F.lpad(((n * 7) % 1000).cast("string"), 3, "0"),
                 F.lit("-"), F.lpad((n % 10000).cast("string"), 4, "0")),
    ).otherwise(txt)
    txt = F.when(
        n % 13 == 0,
        F.concat(txt, F.lit(" ssn "), F.lpad((n % 1000).cast("string"), 3, "0"),
                 F.lit("-"), F.lpad((n % 100).cast("string"), 2, "0"),
                 F.lit("-"), F.lpad(((n * 3) % 10000).cast("string"), 4, "0")),
    ).otherwise(txt)
    return d.select("doc_id", "source", txt.alias("text"))


def pii_scan_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII accounting over the injected corpus: docs carrying
    any PII, per-kind match totals, and characters removed by redaction
    (one map-only pass: regexp_count + chained regexp_replace)."""
    corpus = _pii_corpus(spark, sf_dir)
    scanned = pii.pii_scan(corpus, "doc_id", "text")
    redacted = pii.pii_redact(corpus, "text")
    joined = redacted.join(scanned, "doc_id")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("has_pii").cast("long")).cast("long").alias("docs_with_pii"),
        F.sum("n_email").cast("long").alias("emails"),
        F.sum("n_ipv4").cast("long").alias("ipv4s"),
        F.sum("n_phone").cast("long").alias("phones"),
        F.sum("n_ssn").cast("long").alias("ssns"),
        F.sum(F.length("text") - F.length("redacted")).cast("long").alias("chars_removed"),
    )


_PII_CORPUS_SQL = """
pii_corpus AS (
  SELECT doc_id, source,
    text
    || CASE WHEN n_chars % 7 = 0
         THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN n_chars % 5 = 0
         THEN ' host 10.' || (n_chars % 200) || '.0.' || (n_chars % 250) ELSE '' END
    || CASE WHEN n_chars % 11 = 0
         THEN ' call 555-' || lpad((n_chars * 7 % 1000)::varchar, 3, '0')
              || '-' || lpad((n_chars % 10000)::varchar, 4, '0') ELSE '' END
    || CASE WHEN n_chars % 13 = 0
         THEN ' ssn ' || lpad((n_chars % 1000)::varchar, 3, '0')
              || '-' || lpad((n_chars % 100)::varchar, 2, '0')
              || '-' || lpad((n_chars * 3 % 10000)::varchar, 4, '0') ELSE '' END
    AS text
  FROM documents
)
"""

# CASE order mirrors pii.PII_PATTERNS insertion order (email → ipv4 →
# phone → ssn), and the chained regexp_replace below applies in the same
# order — the redaction-order contract is part of the operator's semantics
_PE = pii.PII_PATTERNS["email"]
_PI = pii.PII_PATTERNS["ipv4"]
_PP = pii.PII_PATTERNS["phone"]
_PS = pii.PII_PATTERNS["ssn"]
PII_SCAN_SQL = f"""
WITH {_PII_CORPUS_SQL},
per_doc AS (
  SELECT doc_id, source, text,
    len(regexp_extract_all(text, '{_PE}')) AS n_email,
    len(regexp_extract_all(text, '{_PI}')) AS n_ipv4,
    len(regexp_extract_all(text, '{_PP}')) AS n_phone,
    len(regexp_extract_all(text, '{_PS}')) AS n_ssn,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      '{_PE}', '<email>', 'g'),
      '{_PI}', '<ipv4>', 'g'),
      '{_PP}', '<phone>', 'g'),
      '{_PS}', '<ssn>', 'g') AS redacted
  FROM pii_corpus
)
SELECT source, count(*) AS n_docs,
  sum(CASE WHEN n_email + n_ipv4 + n_phone + n_ssn > 0 THEN 1 ELSE 0 END)::bigint AS docs_with_pii,
  sum(n_email)::bigint AS emails, sum(n_ipv4)::bigint AS ipv4s,
  sum(n_phone)::bigint AS phones, sum(n_ssn)::bigint AS ssns,
  sum(length(text) - length(redacted))::bigint AS chars_removed
FROM per_doc GROUP BY source
"""

# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 512


def pack_chunks_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk stats of GPT-style concat-and-chunk packing at 512 tokens:
    distributed two-phase prefix scan (operators/packing.py) — the global
    token order is doc_id ascending, a doc may straddle chunk boundaries."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = packing.pack_chunks(d, "doc_id", "text", capacity=_PACK_CAPACITY)
    return packing.chunk_stats(packed)


PACK_CHUNKS_SQL = rf"""
WITH t AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok FROM documents
),
s AS (
  SELECT doc_id, n_tok,
    coalesce(sum(n_tok) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS tok_start
  FROM t
),
c AS (
  SELECT doc_id, tok_start, tok_start + n_tok AS tok_end,
    unnest(generate_series(tok_start // {_PACK_CAPACITY},
                           (tok_start + n_tok - 1) // {_PACK_CAPACITY})) AS chunk_id
  FROM s WHERE n_tok > 0
)
SELECT chunk_id,
  count(*)::bigint AS n_docs,
  sum(least(tok_end, (chunk_id + 1) * {_PACK_CAPACITY})
      - greatest(tok_start, chunk_id * {_PACK_CAPACITY}))::bigint AS n_tokens,
  sum(CASE WHEN (tok_end - 1) // {_PACK_CAPACITY} > tok_start // {_PACK_CAPACITY}
      THEN 1 ELSE 0 END)::bigint AS n_split_docs
FROM c GROUP BY chunk_id
"""

# ---------------------------------------------------------------------------
# boilerplate paragraphs (paragraph-level exact dedup)
# ---------------------------------------------------------------------------

_B1 = "subscribe to our newsletter for updates"
_B2 = "all rights reserved by the site owner"


def _para_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with paragraph structure: the base text plus shared
    boilerplate paragraphs appended to every 3rd / 4th doc (by n_chars)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.col("n_chars")
    txt = F.col("text")
    txt = F.when(n % 3 == 0, F.concat(txt, F.lit("\n\n" + _B1))).otherwise(txt)
    txt = F.when(n % 4 == 0, F.concat(txt, F.lit("\n\n" + _B2))).otherwise(txt)
    return d.select("doc_id", txt.alias("text"))


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pii_scan_by_source": pii_scan_by_source,
    "pack_chunks_stats": pack_chunks_stats,
}

ORACLE_SQL: dict[str, str] = {
    "pii_scan_by_source": PII_SCAN_SQL,
    "pack_chunks_stats": PACK_CHUNKS_SQL,
}

# ---------------------------------------------------------------------------
# URL / domain blocklist accounting
# ---------------------------------------------------------------------------

_BLOCKLIST = ["spam.example.net", "ads.example.org"]


def _url_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministically injected URLs: every 3rd doc (by
    n_chars) gains a site URL on one of 7 hosts, every 10th a blocked
    spam-host URL — re-derivable by the oracle in plain SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.col("n_chars")
    txt = F.col("text")
    txt = F.when(
        n % 3 == 0,
        F.concat(txt, F.lit(" see http://site"), (n % 7).cast("string"),
                 F.lit(".example.org/p/"), F.col("doc_id")),
    ).otherwise(txt)
    txt = F.when(
        n % 10 == 0,
        F.concat(txt, F.lit(" via https://spam.example.net/x"), F.col("doc_id")),
    ).otherwise(txt)
    return d.select("doc_id", txt.alias("text"))


def url_domain_stats_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL/doc counts with blocklist verdicts over the injected
    corpus (operators/textops.url_domain_stats)."""
    corpus = _url_corpus(spark, sf_dir)
    return textops.url_domain_stats(corpus, "doc_id", "text", blocklist=_BLOCKLIST)


_URL_CORPUS_SQL = """
url_corpus AS (
  SELECT doc_id,
    text
    || CASE WHEN n_chars % 3 = 0
         THEN ' see http://site' || (n_chars % 7) || '.example.org/p/' || doc_id
         ELSE '' END
    || CASE WHEN n_chars % 10 = 0
         THEN ' via https://spam.example.net/x' || doc_id ELSE '' END
    AS text
  FROM documents
)
"""

URL_DOMAIN_SQL = f"""
WITH {_URL_CORPUS_SQL},
u AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{textops.URL_PATTERN}', 1)) AS domain
  FROM url_corpus
)
SELECT domain, count(*)::bigint AS n_urls,
  count(DISTINCT doc_id)::bigint AS n_docs,
  domain IN ('spam.example.net', 'ads.example.org') AS blocked
FROM u GROUP BY domain
"""

# ---------------------------------------------------------------------------
# deterministic temperature sampling
# ---------------------------------------------------------------------------

def temperature_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source kept-doc counts under T=2 temperature-flattened mixture
    sampling with a deterministic md5-hash Bernoulli
    (operators/textops.temperature_sample) — bit-reproducible across
    engines because T=2 takes the IEEE-correctly-rounded sqrt path."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textops.temperature_sample(d, "source", "text", "doc_id", temperature=2.0)


TEMPERATURE_SAMPLE_SQL = r"""
WITH per_src AS (
  SELECT source,
    sum(CASE WHEN trim(text) = '' THEN 0
        ELSE len(string_split_regex(trim(text), '\s+')) END)::bigint AS n_tok,
    count(*)::bigint AS n_docs
  FROM documents GROUP BY source
),
flat AS (
  SELECT source, n_docs, sqrt(n_tok / (SELECT sum(n_tok)::double FROM per_src)) AS f
  FROM per_src
),
probs AS (
  SELECT source, n_docs, f / (SELECT max(f) FROM flat) AS keep_prob FROM flat
)
SELECT p.source, p.n_docs,
  sum(CASE WHEN ('0x' || substr(md5(d.doc_id::varchar), 1, 15))::bigint % 1000000
           < p.keep_prob * 1000000 THEN 1 ELSE 0 END)::bigint AS n_kept,
  round(p.keep_prob, 6) AS keep_prob
FROM documents d JOIN probs p ON d.source = p.source
GROUP BY p.source, p.n_docs, p.keep_prob
"""

QUERIES.update({
    "url_domain_stats_blocked": url_domain_stats_blocked,
    "temperature_sample_sources": temperature_sample_sources,
})

ORACLE_SQL.update({
    "url_domain_stats_blocked": URL_DOMAIN_SQL,
    "temperature_sample_sources": TEMPERATURE_SAMPLE_SQL,
})
