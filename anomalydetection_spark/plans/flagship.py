"""Flagship query: full constraint suite over a spans-shaped table derived
deterministically from the driver's flat ``documents`` parquet.

The derivation (pure column expressions, no Python) reshapes each flat doc
into the BASELINE.json input_hint shape: tokens are grouped into 5-token
chunks; every 4th chunk becomes a media span with an md5-derived media_ref
(a slice of which dangles past the derived catalog), the rest are text
spans. partition_id = doc_id % 4 stands in for the Iceberg partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomalydetection_spark.operators import drift, reassembly
from anomalydetection_spark.plans.suite import SuiteConfig, run_suite

N_MEDIA = 100          # derived catalog size
MEDIA_REF_SPACE = 120  # refs are drawn from a larger space → some dangle
CHUNK = 5


def derive_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size(toks) / CHUNK).cast("int")
    chunk_text = lambda i: F.array_join(F.slice(toks, i * CHUNK + 1, CHUNK), " ")
    ref_hash = lambda i: F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#"), i.cast("string"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(MEDIA_REF_SPACE),
    )
    span = lambda i: F.when(
        F.pmod(i, F.lit(4)) == 3,
        F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.format_string("m-%05d", ref_hash(i)).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    ).otherwise(
        F.struct(
            F.lit("text").alias("kind"),
            chunk_text(i).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset"),
        )
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(F.sequence(F.lit(0), n_chunks - 1), span).alias("spans"),
        F.pmod("doc_id", F.lit(4)).cast("int").alias("partition_id"),
    )


def derived_media_assets(spark: SparkSession) -> DataFrame:
    return spark.range(N_MEDIA).select(
        F.format_string("m-%05d", F.col("id")).alias("media_ref"),
        F.lit("image").alias("media_kind"),
        (F.col("id") * 1000 + 1024).alias("n_bytes"),
    )


def _derived_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived spans table, persisted only under the suite's size gate.

    Unlike production (where docs is an Iceberg scan each branch re-reads
    cheaply), the derivation re-runs the text split + struct build per
    consuming branch if left lazy — so SMALL fixtures cache it. Above the
    gate the lazy re-derivation is the right trade: caching a corpus-sized
    derived table is exactly the persist-everything default the suite's
    size gate exists to prevent."""
    from anomalydetection_spark.plans.suite import SuiteConfig, plan_size_bytes

    docs = derive_spans_documents(spark, sf_dir)
    if plan_size_bytes(docs) <= SuiteConfig().persist_exploded_max_bytes:
        docs = docs.persist()
    return docs


def _collected(res, verdicts: DataFrame, docs: DataFrame) -> DataFrame:
    """The (partitions × constraints)-row verdict projection as a local
    frame: collected once, after which the suite's caches and the
    derived spans table are released."""
    rows = verdicts.collect()
    res.unpersist()
    docs.unpersist()
    return verdicts.sparkSession.createDataFrame(rows, verdicts.schema)


def suite_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable flagship suite: all ten constraint verdicts over
    the derived spans table, restricted to the engine-deterministic columns
    (partition_id, constraint, passed, violation_count, row_count).

    The metrics map (means/stddevs/HLL distinct counts) stays on
    ``flagship_suite`` — float-sum ordering and approx sketches aren't
    bit-reproducible across engines; everything here is integer counts and
    threshold booleans, so the DuckDB twin (SUITE_VERDICTS_SQL) hash-matches.
    """
    docs = _derived_docs(spark, sf_dir)
    media = derived_media_assets(spark)
    baseline = drift.compute_baseline(reassembly.explode_spans_meta(docs))
    res = run_suite(docs, media, baseline, SuiteConfig())
    return _collected(
        res,
        res.verdicts.select(
            "partition_id", "constraint", "passed", "violation_count", "row_count"
        ),
        docs,
    )


SUITE_VERDICTS_SQL = """
WITH docs0 AS (
  SELECT doc_id::varchar AS doc_id, (doc_id % 4)::int AS partition_id,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents),
docs1 AS (
  SELECT doc_id, partition_id, toks,
         cast(ceil(len(toks) / 5.0) AS int) AS n_chunks
  FROM docs0),
sp AS (
  SELECT doc_id, partition_id, i AS pos, i AS offset,
    CASE WHEN i % 4 = 3 THEN 'image' ELSE 'text' END AS kind,
    CASE WHEN i % 4 = 3 THEN NULL
         ELSE length(array_to_string(list_slice(toks, i*5+1, i*5+5), ' ')) END AS text_len,
    CASE WHEN i % 4 = 3 THEN
      printf('m-%05d', ('0x'||substr(md5(doc_id || '#' || i::varchar),1,15))::bigint % 120)
    END AS media_ref
  FROM (SELECT doc_id, partition_id, toks,
               unnest(generate_series(0, n_chunks - 1)) AS i
        FROM docs1 WHERE n_chunks > 0)),
doc_stats AS (
  SELECT partition_id, count(*) AS n_docs,
         avg(CASE WHEN n_chunks = 0 THEN 1.0 ELSE 0.0 END) AS empty_rate
  FROM docs1 GROUP BY 1),
span_stats AS (
  SELECT partition_id, count(*) AS n_spans,
    sum(CASE WHEN kind IN ('text','code') THEN 1 ELSE 0 END) AS n_texty,
    sum(CASE WHEN kind IN ('text','code') AND text_len IS NULL THEN 1 ELSE 0 END) AS n_null_text
  FROM sp GROUP BY 1),
stats_v AS (
  SELECT d.partition_id, 'column_stats' AS "constraint",
     (d.n_docs >= 1 AND d.empty_rate <= 0.05 AND
      (CASE WHEN s.n_texty > 0 THEN cast(s.n_null_text AS double)/s.n_texty
            ELSE 0.0 END) <= 0.05) AS passed,
     cast(coalesce(s.n_null_text, 0) AS bigint) AS violation_count,
     cast(d.n_docs AS bigint) AS row_count
  FROM doc_stats d LEFT JOIN span_stats s USING (partition_id)),
uniq_dups AS (SELECT doc_id FROM docs1 GROUP BY doc_id HAVING count(*) > 1),
uniq_v AS (
  SELECT partition_id, 'uniqueness' AS "constraint",
     sum(CASE WHEN doc_id IN (SELECT doc_id FROM uniq_dups) THEN 1 ELSE 0 END) = 0 AS passed,
     cast(sum(CASE WHEN doc_id IN (SELECT doc_id FROM uniq_dups) THEN 1 ELSE 0 END) AS bigint)
       AS violation_count,
     cast(count(*) AS bigint) AS row_count
  FROM docs1 GROUP BY 1),
media AS (SELECT printf('m-%05d', unnest(generate_series(0, 99))) AS media_ref),
ref_viol AS (
  SELECT partition_id, count(*) AS viol FROM sp
  WHERE media_ref IS NOT NULL AND media_ref NOT IN (SELECT media_ref FROM media)
  GROUP BY 1),
ref_v AS (
  SELECT s.partition_id, 'referential' AS "constraint",
     coalesce(v.viol, 0) = 0 AS passed,
     cast(coalesce(v.viol, 0) AS bigint) AS violation_count,
     cast(s.n_spans AS bigint) AS row_count
  FROM span_stats s LEFT JOIN ref_viol v USING (partition_id)),
so_doc AS (
  SELECT d.doc_id, d.partition_id,
    CASE WHEN d.n_chunks = 0 THEN TRUE
         ELSE coalesce(
           list_sort(list(s.offset::bigint)) = generate_series(0, d.n_chunks - 1), FALSE)
    END AS ok
  FROM docs1 d LEFT JOIN sp s USING (doc_id, partition_id)
  GROUP BY d.doc_id, d.partition_id, d.n_chunks),
so_v AS (
  SELECT partition_id, 'span_order' AS "constraint",
     bool_and(ok) AS passed,
     cast(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS bigint) AS violation_count,
     cast(count(*) AS bigint) AS row_count
  FROM so_doc GROUP BY 1),
fb AS (
  SELECT partition_id, 'span_kind' AS feature, kind AS bucket FROM sp
  UNION ALL
  SELECT partition_id, 'span_length',
         cast(cast(least(floor(text_len / 20), 19) AS bigint) AS varchar)
  FROM sp WHERE text_len IS NOT NULL),
cur AS (
  SELECT partition_id, feature, bucket,
         cast(count(*) AS double) / sum(count(*)) OVER (PARTITION BY partition_id, feature) AS p
  FROM fb GROUP BY 1, 2, 3),
base AS (
  SELECT feature, bucket,
         cast(count(*) AS double) / sum(count(*)) OVER (PARTITION BY feature) AS q
  FROM fb GROUP BY 1, 2),
grid AS (
  SELECT pp.partition_id, b.feature, b.bucket, b.q
  FROM (SELECT DISTINCT partition_id FROM fb) pp CROSS JOIN base b),
dj AS (
  SELECT g.partition_id, g.feature,
         coalesce(c.p, 0) + 1e-6 AS p, g.q + 1e-6 AS q
  FROM grid g LEFT JOIN cur c
    ON c.partition_id = g.partition_id AND c.feature = g.feature AND c.bucket = g.bucket),
dscores AS (
  SELECT partition_id, feature,
         sum(p * ln(p / q)) AS kl, sum((p - q) * ln(p / q)) AS psi
  FROM dj GROUP BY 1, 2),
drift_v AS (
  SELECT d.partition_id, 'distribution_drift' AS "constraint",
     bool_and(d.kl <= 0.05 AND d.psi <= 0.1) AS passed,
     cast(sum(CASE WHEN NOT (d.kl <= 0.05 AND d.psi <= 0.1) THEN 1 ELSE 0 END) AS bigint)
       AS violation_count,
     cast(max(s.n_spans) AS bigint) AS row_count
  FROM dscores d JOIN span_stats s USING (partition_id) GROUP BY 1),
fi_cnt AS (
  SELECT partition_id, media_ref, count(*) AS n FROM sp
  WHERE media_ref IS NOT NULL GROUP BY 1, 2),
fi_tot AS (
  SELECT p.partition_id, coalesce(sum(c.n), 0) AS n_refs
  FROM (SELECT DISTINCT partition_id FROM sp) p
  LEFT JOIN fi_cnt c USING (partition_id) GROUP BY 1),
fi_hot AS (
  SELECT c.partition_id, count(*) AS viol
  FROM fi_cnt c JOIN fi_tot t USING (partition_id)
  WHERE t.n_refs >= 50 AND c.n > 0.05 * t.n_refs GROUP BY 1),
fi_v AS (
  SELECT t.partition_id, 'frequent_items' AS "constraint",
     coalesce(h.viol, 0) = 0 AS passed,
     cast(coalesce(h.viol, 0) AS bigint) AS violation_count,
     cast(t.n_refs AS bigint) AS row_count
  FROM fi_tot t LEFT JOIN fi_hot h USING (partition_id)),
pat_viol AS (
  SELECT partition_id, count(*) AS viol FROM sp
  WHERE media_ref IS NOT NULL AND NOT regexp_matches(media_ref, '^m-[0-9]{5,8}$')
  GROUP BY 1),
pat_v AS (
  SELECT s.partition_id, 'pattern' AS "constraint",
     coalesce(v.viol, 0) = 0 AS passed,
     cast(coalesce(v.viol, 0) AS bigint) AS violation_count,
     cast(s.n_spans AS bigint) AS row_count
  FROM span_stats s LEFT JOIN pat_viol v USING (partition_id)),
cc_viol AS (
  SELECT partition_id, count(*) AS viol FROM sp
  WHERE (kind IN ('image','audio','video') AND media_ref IS NULL)
     OR (kind IN ('text','code') AND media_ref IS NOT NULL)
     OR kind IS NULL
     OR kind NOT IN ('image','audio','video','text','code')
  GROUP BY 1),
cc_v AS (
  SELECT s.partition_id, 'cross_column' AS "constraint",
     coalesce(v.viol, 0) = 0 AS passed,
     cast(coalesce(v.viol, 0) AS bigint) AS violation_count,
     cast(s.n_spans AS bigint) AS row_count
  FROM span_stats s LEFT JOIN cc_viol v USING (partition_id)),
vol_v AS (
  SELECT partition_id, 'volume' AS "constraint",
     n_docs >= 1 AS passed,
     cast(CASE WHEN n_docs >= 1 THEN 0 ELSE 1 END AS bigint) AS violation_count,
     cast(n_docs AS bigint) AS row_count
  FROM doc_stats),
-- schema conformance is structural (driver-side metadata in the engine);
-- the derived table matches the contract by construction, so the twin
-- emits the same all-pass, zero-rows-scanned verdict per partition
schema_v AS (
  SELECT partition_id, 'schema' AS "constraint",
     TRUE AS passed,
     cast(0 AS bigint) AS violation_count,
     cast(0 AS bigint) AS row_count
  FROM doc_stats)
SELECT * FROM schema_v
UNION ALL SELECT * FROM stats_v
UNION ALL SELECT * FROM uniq_v
UNION ALL SELECT * FROM ref_v
UNION ALL SELECT * FROM so_v
UNION ALL SELECT * FROM drift_v
UNION ALL SELECT * FROM fi_v
UNION ALL SELECT * FROM pat_v
UNION ALL SELECT * FROM cc_v
UNION ALL SELECT * FROM vol_v
"""


def flagship_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full ten-constraint suite on the derived spans table;
    returns the per-(partition, constraint) verdicts with the
    metrics map rendered to JSON (stable schema for the driver's check)."""
    docs = _derived_docs(spark, sf_dir)
    media = derived_media_assets(spark)
    baseline = drift.compute_baseline(reassembly.explode_spans_meta(docs))
    res = run_suite(docs, media, baseline, SuiteConfig())
    return _collected(
        res,
        res.verdicts.select(
            "partition_id",
            "constraint",
            "passed",
            "violation_count",
            "row_count",
            F.to_json("metrics").alias("metrics_json"),
        ).orderBy("partition_id", "constraint"),
        docs,
    )
