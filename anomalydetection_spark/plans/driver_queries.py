"""Driver-contract queries: Spark DataFrame implementations + DuckDB oracle SQL.

Each entry maps one operator family from SURVEY.md §2 onto the driver's
fixture tables (region nation customer supplier part orders lineitem events
documents embeddings). The Spark side is idiomatic DataFrame API; the
oracle is ANSI-ish SQL DuckDB 1.0 runs on the same parquet.

Cross-engine determinism rules (see SURVEY §7.3 "byte-matching floats"):
- money/double SUMs go through exact DECIMAL aggregation in BOTH engines,
  then cast to double (identical bits) — double summation order differs
  between Spark partial aggs and DuckDB otherwise;
- averages are exact-sum / count in double (one deterministic division);
- genuinely floating results (stddev from exact moments, KL/PSI, cosine)
  are rounded to 6 decimals on both sides;
- rank ties are broken by explicit key columns, and float ranking keys are
  pre-rounded so a last-ulp difference can't flip an ordering;
- timestamps stay in UTC (session TZ pinned) and gaps compare in integer
  microseconds (`unix_micros` / `epoch_us`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anomalydetection_spark.operators.drift import kl_psi


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec_sum(col, scale: int = 2):
    """Exact decimal sum cast back to double — bit-identical across engines."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


# ---------------------------------------------------------------------------
# Aggregations (SURVEY A1-A9) over the TPC-H-ish tables
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate groupBy (SURVEY A1/A2/A15).

    One hash aggregate, partial+final; Catalyst pushes the shipdate filter
    and prunes to the 7 referenced columns at the parquet scan.
    """
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dec_sum(disc_price, 6).alias("sum_disc_price"),
            _dec_sum(charge, 6).alias("sum_charge"),
            F.round(_dec_sum(F.col("l_quantity")) / F.count("*"), 6).alias("avg_qty"),
            F.round(_dec_sum(F.col("l_extendedprice")) / F.count("*"), 6).alias("avg_price"),
            F.round(_dec_sum(F.col("l_discount"), 6) / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
  cast(sum(cast(l_extendedprice*(1-l_discount) AS decimal(18,6))) AS double) AS sum_disc_price,
  cast(sum(cast(l_extendedprice*(1-l_discount)*(1+l_tax) AS decimal(18,6))) AS double) AS sum_charge,
  round(cast(sum(cast(l_quantity AS decimal(18,2))) AS double) / count(*), 6) AS avg_qty,
  round(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) / count(*), 6) AS avg_price,
  round(cast(sum(cast(l_discount AS decimal(18,6))) AS double) / count(*), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight scalar aggregate over pushed-down predicates."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


Q6_SQL = """
SELECT
  cast(sum(cast(l_extendedprice*l_discount AS decimal(18,6))) AS double) AS revenue,
  count(*) AS n_rows
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-k (SURVEY J-family, O1).

    customer and orders are broadcast-eligible relative to lineitem; AQE
    picks broadcast-hash at this scale, sort-merge with skew splitting at
    cluster scale.
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1996-03-15"))
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


Q3_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       cast(sum(cast(l_extendedprice*(1-l_discount) AS decimal(18,6))) AS double) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def group_count_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A3: group count with HAVING — the reference's template frequency
    filter (preprocessing.py:7) applied to documents.lang."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 70)
    )


GROUP_COUNT_SQL = """
SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang HAVING count(*) > 70
"""


def stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-column summary stats per source (count/mean/min/max/stddev/
    quantiles) — the engine's column_stats constraint on driver data.

    stddev is computed from exact integer moments (sum, sum of squares) so
    both engines produce bit-identical doubles; p50/p95 use exact
    percentile (NumPy-style linear interpolation, matching the reference's
    np.percentile at end_to_end_prediction.py:447).
    """
    d = _t(spark, sf_dir, "documents")
    n = F.count("*")
    s1 = F.sum("n_chars")
    s2 = F.sum(F.col("n_chars") * F.col("n_chars"))
    var = (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) / (n - 1)
    return d.groupBy("source").agg(
        n.alias("n_docs"),
        F.round(s1.cast("double") / n, 6).alias("mean_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.sqrt(var), 6).alias("std_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 6).alias("p95_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
    )


STATS_SQL = """
SELECT source,
  count(*) AS n_docs,
  round(cast(sum(n_chars) AS double) / count(*), 6) AS mean_chars,
  min(n_chars) AS min_chars,
  max(n_chars) AS max_chars,
  round(sqrt((cast(sum(n_chars*n_chars) AS double)
       - cast(sum(n_chars) AS double)*cast(sum(n_chars) AS double)/count(*))
       / (count(*)-1)), 6) AS std_chars,
  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
  round(quantile_cont(n_chars, 0.95), 6) AS p95_chars,
  count(DISTINCT lang) AS n_langs,
  cast(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_null_text
FROM documents GROUP BY source
"""


def uniqueness_partkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys with multiplicity > 1 — the uniqueness operator's combinable
    group-count (operators/uniqueness.py); l_partkey in lineitem is
    naturally non-unique."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_partkey")
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


UNIQUENESS_SQL = """
SELECT l_partkey, count(*) AS n_rows FROM lineitem GROUP BY l_partkey HAVING count(*) > 1
"""


def referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine referential operator: broadcast left-anti join against a
    restricted dimension (even part keys) → violation counts per orphan key.
    (J1/T2: the materialized complement of the reference's isin filter.)"""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 2 == 0).select("p_partkey")
    orphans = l.join(
        F.broadcast(p), l["l_partkey"] == p["p_partkey"], "left_anti"
    )
    return orphans.groupBy("l_partkey").agg(F.count("*").alias("n_orphan_rows"))


REFERENTIAL_SQL = """
SELECT l_partkey, count(*) AS n_orphan_rows
FROM lineitem l
WHERE NOT EXISTS (
  SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey AND p.p_partkey % 2 = 0
)
GROUP BY l_partkey
"""


def range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via bucket expansion — the equi-join rewrite
    of a containment predicate Spark would otherwise plan as a broadcast
    nested-loop filter.

    24 deterministic, overlapping maintenance windows (start = epoch +
    29h·w, length 13+(7w mod 31) hours) are EXPLODED into the calendar
    days they cover; events carry a day bucket column. The join is then
    a broadcast hash equi-join on the day bucket with the exact
    containment predicate as a post-filter — each event row is tested
    against only the windows touching its day, not all 24. At 10^12
    events the nested-loop variant evaluates |windows| predicates per
    row with no pruning; the bucketed rewrite stays a hash join whose
    fan-out is bounded by windows-per-day, and the same shape handles a
    non-broadcastable interval side (shuffle on bucket). An event in N
    overlapping windows legitimately contributes to all N groups."""
    e = _t(spark, sf_dir, "events")
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    wins = spark.range(24).select(
        F.col("id").alias("window_id"),
        F.timestamp_seconds(F.unix_timestamp(base) + F.col("id") * 29 * 3600).alias(
            "start_ts"
        ),
        F.timestamp_seconds(
            F.unix_timestamp(base)
            + (F.col("id") * 29 + 13 + F.pmod(F.col("id") * 7, F.lit(31))) * 3600
        ).alias("end_ts"),
    )
    win_days = wins.select(
        "window_id",
        "start_ts",
        "end_ts",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("start_ts")),
                F.date_trunc("day", F.col("end_ts")),
                F.expr("interval 1 day"),
            )
        ).alias("bucket"),
    )
    ev = e.select("ts", "value", F.date_trunc("day", F.col("ts")).alias("bucket"))
    joined = ev.join(F.broadcast(win_days), "bucket").filter(
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
    )
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        _dec_sum(F.col("value")).alias("sum_value"),
    )


RANGE_JOIN_SQL = """
WITH w AS (
  SELECT cast(i AS bigint) AS window_id,
         TIMESTAMP '2024-01-01' + to_hours(i * 29) AS start_ts,
         TIMESTAMP '2024-01-01' + to_hours(i * 29 + 13 + (i * 7) % 31) AS end_ts
  FROM (SELECT unnest(generate_series(0, 23)) AS i))
SELECT w.window_id, count(*) AS n_events,
       cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
FROM events e JOIN w ON e.ts >= w.start_ts AND e.ts < w.end_ts
GROUP BY 1
"""


def referential_orphans_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same referential complement as ``referential_orphans`` through the
    catalog-scale path (operators/bloom.py): distinct-first fact-key
    reduction, Bloom short-circuit for definitely-dangling keys, exact
    anti-join only for the maybe set, dangling keys broadcast back onto
    the fact table. Byte-identical output to the broadcast anti-join —
    the plan, not the answer, is what changes when the catalog outgrows
    a broadcast (SURVEY §2.3 J1/T2 at 10^12-row scale)."""
    from anomalydetection_spark.operators import bloom

    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 2 == 0).select("p_partkey")
    keys = bloom.dangling_keys_scalable(
        l, "l_partkey", p, catalog_col="p_partkey", m_bits=1 << 20
    )
    return (
        l.join(F.broadcast(keys), "l_partkey", "left_semi")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_orphan_rows"))
    )


def histogram_n_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: bucketed histogram (floor-width buckets, capped tail)."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 50), F.lit(19)).cast("long")
    return d.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n_docs"))


HISTOGRAM_SQL = """
SELECT cast(least(floor(n_chars / 50), 19) AS bigint) AS bucket, count(*) AS n_docs
FROM documents GROUP BY 1
"""


def drift_kl_psi_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine drift operator on driver data: per-source n_chars histogram vs
    the global baseline → KL + PSI (A11 + A14)."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 50), F.lit(19)).cast("long").cast("string")
    bucketed = d.select(F.col("source"), bucket.alias("bucket"))
    cur_counts = bucketed.groupBy("source", "bucket").agg(F.count("*").alias("n"))
    cur = cur_counts.select(
        "source",
        "bucket",
        (F.col("n") / F.sum("n").over(Window.partitionBy("source"))).alias("p"),
    )
    base_counts = bucketed.groupBy("bucket").agg(F.count("*").alias("n"))
    # total via scalar agg + broadcast crossJoin — not a partition-less
    # window (which plans a single-partition WindowExec even on tiny input);
    # the identical groupBy exchange is reused (ReusedExchange), no rescan
    total = base_counts.agg(F.sum("n").alias("total_n"))
    base = base_counts.crossJoin(F.broadcast(total)).select(
        "bucket", (F.col("n") / F.col("total_n")).alias("q")
    )
    scores = kl_psi(cur, base, "source", epsilon=1e-6)
    return scores.select(
        "source", F.round("kl", 6).alias("kl"), F.round("psi", 6).alias("psi")
    )


DRIFT_SQL = """
WITH buck AS (
  SELECT source, cast(cast(least(floor(n_chars / 50), 19) AS bigint) AS varchar) AS bucket
  FROM documents
),
cur AS (
  SELECT source, bucket,
         cast(count(*) AS double) / sum(count(*)) OVER (PARTITION BY source) AS p
  FROM buck GROUP BY source, bucket
),
base AS (
  SELECT bucket, cast(count(*) AS double) / sum(count(*)) OVER () AS q
  FROM buck GROUP BY bucket
),
grid AS (
  SELECT s.source, b.bucket, b.q
  FROM (SELECT DISTINCT source FROM cur) s CROSS JOIN base b
),
j AS (
  SELECT g.source,
         coalesce(c.p, 0) + 1e-6 AS p,
         g.q + 1e-6 AS q
  FROM grid g LEFT JOIN cur c ON c.source = g.source AND c.bucket = g.bucket
)
SELECT source,
       round(sum(p * ln(p / q)), 6) AS kl,
       round(sum((p - q) * ln(p / q)), 6) AS psi
FROM j GROUP BY source
"""


def drift_wasserstein_chisq_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-aware drift pair (operators/drift.py wasserstein_chisq):
    per-source n_chars histograms vs the global baseline → Wasserstein-1
    (CDF-gap form, decimal-exact numerator, ONE terminal division) +
    Pearson chi-square homogeneity statistic. Same bucketing as
    ``drift_kl_psi_by_source`` so the two families are directly
    comparable on the same feature."""
    from anomalydetection_spark.operators.drift import wasserstein_chisq

    d = _t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 50), F.lit(19)).cast("long")
    b = d.select("source", bucket.alias("bucket"))
    cur = b.groupBy("source", "bucket").agg(F.count("*").alias("n"))
    base = b.groupBy("bucket").agg(F.count("*").alias("n"))
    scores = wasserstein_chisq(cur, base, "source")
    return scores.select(
        "source", F.round("w1", 6).alias("w1"), F.round("chisq", 6).alias("chisq")
    )


WASSERSTEIN_SQL = """
WITH buck AS (
  SELECT source, cast(least(floor(n_chars / 50), 19) AS bigint) AS bucket
  FROM documents
),
cur AS (SELECT source, bucket, count(*) AS np FROM buck GROUP BY 1, 2),
base AS (SELECT bucket, count(*) AS nq FROM buck GROUP BY 1),
tg AS (SELECT source, sum(np) AS tg FROM cur GROUP BY 1),
tq AS (SELECT sum(nq) AS tq FROM base),
allb AS (  -- full bucket union, matching the operator's _dense_grid
           -- full-outer join: current-only buckets (np>0, nq=0) count;
           -- with this query's global-aggregate baseline cur ⊆ base so
           -- output is unchanged, but the twin stays honest for any
           -- external baseline missing buckets
  SELECT bucket FROM base UNION SELECT bucket FROM cur
),
grid AS (
  SELECT g.source, ab.bucket, coalesce(c.np, 0) AS np,
         coalesce(b.nq, 0) AS nq, g.tg, (SELECT tq FROM tq) AS tq
  FROM tg g CROSS JOIN allb ab
  LEFT JOIN base b ON b.bucket = ab.bucket
  LEFT JOIN cur c ON c.source = g.source AND c.bucket = ab.bucket
),
cums AS (
  SELECT source, bucket, np, nq, tg, tq,
         sum(np) OVER (PARTITION BY source ORDER BY bucket) AS cum_np,
         sum(nq) OVER (PARTITION BY source ORDER BY bucket) AS cum_nq
  FROM grid
)
SELECT source,
       round(cast(sum(abs(cast(cum_np AS hugeint) * tq
                          - cast(cum_nq AS hugeint) * tg)) AS double)
             / (cast(any_value(tg) AS double) * cast(any_value(tq) AS double)),
             6) AS w1,
       round(sum(CASE WHEN nq > 0 THEN
                 pow(cast(cast(np AS hugeint) * tq
                          - cast(nq AS hugeint) * tg AS double), 2)
                 / (cast(nq AS double) * cast(tg AS double) * cast(tq AS double))
                 END), 6) AS chisq
FROM cums GROUP BY source
"""


def drift_ks_js_hellinger_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded drift-metric triple (operators/drift.py ks_js_hellinger):
    per-source n_chars histograms vs the global baseline → KS statistic
    (decimal-exact CDF-gap max, ONE terminal division), Jensen–Shannon
    divergence (smoothing-free symmetric KL), Hellinger distance. Same
    bucketing as the KL/PSI and W1/chi-square entries so all three drift
    families are comparable on one feature."""
    from anomalydetection_spark.operators.drift import ks_js_hellinger

    d = _t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 50), F.lit(19)).cast("long")
    b = d.select("source", bucket.alias("bucket"))
    cur = b.groupBy("source", "bucket").agg(F.count("*").alias("n"))
    base = b.groupBy("bucket").agg(F.count("*").alias("n"))
    scores = ks_js_hellinger(cur, base, "source")
    return scores.select(
        "source",
        F.round("ks", 6).alias("ks"),
        F.round("js", 6).alias("js"),
        F.round("hellinger", 6).alias("hellinger"),
    )


KS_JS_HELLINGER_SQL = """
WITH buck AS (
  SELECT source, cast(least(floor(n_chars / 50), 19) AS bigint) AS bucket
  FROM documents
),
cur AS (SELECT source, bucket, count(*) AS np FROM buck GROUP BY 1, 2),
base AS (SELECT bucket, count(*) AS nq FROM buck GROUP BY 1),
tg AS (SELECT source, sum(np) AS tg FROM cur GROUP BY 1),
tq AS (SELECT sum(nq) AS tq FROM base),
allb AS (  -- full bucket union, matching the operator's _dense_grid
           -- full-outer join: current-only buckets (np>0, nq=0) count;
           -- with this query's global-aggregate baseline cur ⊆ base so
           -- output is unchanged, but the twin stays honest for any
           -- external baseline missing buckets
  SELECT bucket FROM base UNION SELECT bucket FROM cur
),
grid AS (
  SELECT g.source, ab.bucket, coalesce(c.np, 0) AS np,
         coalesce(b.nq, 0) AS nq, g.tg, (SELECT tq FROM tq) AS tq
  FROM tg g CROSS JOIN allb ab
  LEFT JOIN base b ON b.bucket = ab.bucket
  LEFT JOIN cur c ON c.source = g.source AND c.bucket = ab.bucket
),
cums AS (
  SELECT source, bucket, np, nq, tg, tq,
         sum(np) OVER (PARTITION BY source ORDER BY bucket) AS cum_np,
         sum(nq) OVER (PARTITION BY source ORDER BY bucket) AS cum_nq
  FROM grid
),
probs AS (
  SELECT source, np, nq, tg, tq, cum_np, cum_nq,
         cast(np AS double) / cast(tg AS double) AS p,
         cast(nq AS double) / cast(tq AS double) AS q
  FROM cums
),
terms AS (
  SELECT source, tg, tq,
         abs(cast(cum_np AS hugeint) * tq - cast(cum_nq AS hugeint) * tg) AS cum_gap,
         (CASE WHEN np > 0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END
          + CASE WHEN nq > 0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END) AS js_term,
         (sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q)) AS hell_term
  FROM probs
)
SELECT source,
       round(cast(max(cum_gap) AS double)
             / (cast(any_value(tg) AS double) * cast(any_value(tq) AS double)),
             6) AS ks,
       round(0.5 * sum(js_term), 6) AS js,
       round(sqrt(0.5 * sum(hell_term)), 6) AS hellinger
FROM terms GROUP BY source
"""


def threshold_verdict_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + P7: the reference's score→quantile-threshold→verdict chain
    (end_to_end_prediction.py:447-451) per event_type: threshold at the
    exact 95th percentile of value, verdict = value > threshold."""
    e = _t(spark, sf_dir, "events")
    th = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.95)").alias("threshold")
    )
    joined = e.join(F.broadcast(th), "event_type")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("value") > F.col("threshold")).cast("long")).alias("n_anomalies"),
            F.round(F.first("threshold"), 6).alias("threshold"),
        )
        .withColumn("anomaly_rate", F.round(F.col("n_anomalies") / F.col("n_events"), 6))
    )


THRESHOLD_SQL = """
WITH th AS (
  SELECT event_type, quantile_cont(value, 0.95) AS threshold
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n_events,
       cast(sum(CASE WHEN e.value > th.threshold THEN 1 ELSE 0 END) AS bigint) AS n_anomalies,
       round(any_value(th.threshold), 6) AS threshold,
       round(cast(sum(CASE WHEN e.value > th.threshold THEN 1 ELSE 0 END) AS double)
             / count(*), 6) AS anomaly_rate
FROM events e JOIN th ON e.event_type = th.event_type
GROUP BY e.event_type
"""


def topk_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/O1: top-3 users by exact-decimal total value per event_type via a
    rank window; ties broken on user_id so ordering is engine-independent."""
    e = _t(spark, sf_dir, "events")
    totals = e.groupBy("event_type", "user_id").agg(
        _dec_sum(F.col("value"), 6).alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("total_value"), F.asc("user_id"))
    return (
        totals.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "user_id", "total_value", "rk")
    )


TOPK_SQL = """
WITH totals AS (
  SELECT event_type, user_id,
         cast(sum(cast(value AS decimal(18,6))) AS double) AS total_value
  FROM events GROUP BY event_type, user_id
)
SELECT event_type, user_id, total_value, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY total_value DESC, user_id ASC) AS rk
  FROM totals
) WHERE rk <= 3
"""


def confusion_matrix_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 + A9: row-wise L2 norm of the embedding array (higher-order
    `aggregate`, JVM-side — the reference's np.linalg.norm at
    end_to_end_prediction.py:444), global exact-95th-percentile threshold,
    then the 2-D group count confusion matrix vs the stored label."""
    em = _t(spark, sf_dir, "embeddings")
    score = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    scored = em.select("vec_id", "label", score.alias("score"))
    th = scored.agg(F.expr("percentile(score, 0.95)").alias("threshold"))
    pred = scored.crossJoin(F.broadcast(th)).select(
        "label", (F.col("score") > F.col("threshold")).cast("int").alias("pred")
    )
    return pred.groupBy("label", "pred").agg(F.count("*").alias("n"))


CONFUSION_SQL = """
WITH scored AS (
  SELECT vec_id, label,
         sqrt(list_sum(list_transform(embedding, x -> cast(x AS double) * cast(x AS double)))) AS score
  FROM embeddings
),
th AS (SELECT quantile_cont(score, 0.95) AS threshold FROM scored)
SELECT label,
       cast(CASE WHEN s.score > th.threshold THEN 1 ELSE 0 END AS int) AS pred,
       count(*) AS n
FROM scored s CROSS JOIN th
GROUP BY 1, 2
"""


def eval_metrics_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: accuracy / precision / recall / F1 from conditional aggregates
    (confusion counts), mirroring sklearn binary metrics at
    end_to_end_prediction.py:464-466."""
    em = _t(spark, sf_dir, "embeddings")
    score = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    scored = em.select("label", score.alias("score"))
    th = scored.agg(F.expr("percentile(score, 0.95)").alias("threshold"))
    p = scored.crossJoin(F.broadcast(th)).select(
        "label", (F.col("score") > F.col("threshold")).cast("int").alias("pred")
    )
    agg = p.agg(
        F.sum(((F.col("label") == 1) & (F.col("pred") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("label") == 0) & (F.col("pred") == 1)).cast("long")).alias("fp"),
        F.sum(((F.col("label") == 1) & (F.col("pred") == 0)).cast("long")).alias("fn"),
        F.sum(((F.col("label") == 0) & (F.col("pred") == 0)).cast("long")).alias("tn"),
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    return agg.select(
        "tp", "fp", "fn", "tn",
        F.round((F.col("tp") + F.col("tn")) / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")), 6).alias("accuracy"),
        F.round(prec, 6).alias("precision_"),
        F.round(rec, 6).alias("recall_"),
        F.round(f1, 6).alias("f1"),
    )


EVAL_SQL = """
WITH scored AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding, x -> cast(x AS double) * cast(x AS double)))) AS score
  FROM embeddings
),
th AS (SELECT quantile_cont(score, 0.95) AS threshold FROM scored),
p AS (
  SELECT label, CASE WHEN s.score > th.threshold THEN 1 ELSE 0 END AS pred
  FROM scored s CROSS JOIN th
),
agg AS (
  SELECT
    cast(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS bigint) AS tp,
    cast(sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS bigint) AS fp,
    cast(sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS bigint) AS fn,
    cast(sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS bigint) AS tn
  FROM p
)
SELECT tp, fp, fn, tn,
  round(cast(tp + tn AS double) / (tp + fp + fn + tn), 6) AS accuracy,
  round(CASE WHEN tp + fp > 0 THEN cast(tp AS double)/(tp+fp) ELSE 0 END, 6) AS precision_,
  round(CASE WHEN tp + fn > 0 THEN cast(tp AS double)/(tp+fn) ELSE 0 END, 6) AS recall_,
  round(CASE WHEN (CASE WHEN tp+fp>0 THEN cast(tp AS double)/(tp+fp) ELSE 0 END)
             + (CASE WHEN tp+fn>0 THEN cast(tp AS double)/(tp+fn) ELSE 0 END) > 0
        THEN 2 * (CASE WHEN tp+fp>0 THEN cast(tp AS double)/(tp+fp) ELSE 0 END)
               * (CASE WHEN tp+fn>0 THEN cast(tp AS double)/(tp+fn) ELSE 0 END)
             / ((CASE WHEN tp+fp>0 THEN cast(tp AS double)/(tp+fp) ELSE 0 END)
              + (CASE WHEN tp+fn>0 THEN cast(tp AS double)/(tp+fn) ELSE 0 END))
        ELSE 0 END, 6) AS f1
FROM agg
"""


def parse_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/F1-F3: the reference's positional log parse
    (drain.py:11-43) over documents.text — whitespace tokenize, label
    predicate on the first token, tail re-join of tokens 9+."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    return d.select(
        "doc_id",
        F.when(F.element_at(toks, 1) == "-", 0).otherwise(1).alias("label"),
        n.cast("long").alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.when(n > 8, F.array_join(F.slice(toks, 9, n - 8), " ")).otherwise(F.lit("")).alias("content_tail"),
    )


PARSE_SQL = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
)
SELECT doc_id,
  CASE WHEN toks[1] = '-' THEN 0 ELSE 1 END AS label,
  cast(len(toks) AS bigint) AS n_tokens,
  toks[1] AS first_token,
  CASE WHEN len(toks) > 8 THEN array_to_string(toks[9:], ' ') ELSE '' END AS content_tail
FROM t
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min cumulative session ids per user
    (window functions; gap compared in exact integer microseconds)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the fixture parquet; session TZ is pinned UTC so
    # the LTZ cast preserves wall-clock and unix_micros gives exact integers.
    us = lambda c: F.unix_micros(c.cast("timestamp_ltz"))
    gap_us = us(F.col("ts")) - us(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    return (
        e.select("user_id", new_sess.alias("new_sess"))
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("long").alias("n_sessions"), F.count("*").alias("n_events"))
    )


SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, cast(sum(new_sess) AS bigint) AS n_sessions, count(*) AS n_events
FROM marked GROUP BY user_id
"""


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 analog in batch: tumbling 1-hour windows per event_type
    (date_trunc keeps both engines on identical UTC wall-clock buckets)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            _dec_sum(F.col("value"), 6).alias("sum_value"),
        )
    )


TUMBLING_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value
FROM events GROUP BY 1, 2
"""


def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: seeded sampling made engine-portable — an md5-derived uniform
    keeps ~10% of docs identically in Spark and the oracle (the reference's
    seeded df.sample at end_to_end_prediction.py:271 is library-specific)."""
    d = _t(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5(F.concat(F.lit("smp"), F.col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    return d.filter(F.pmod(u, F.lit(100)) < 10).select("doc_id", "lang", "n_chars")


SAMPLE_SQL = """
SELECT doc_id, lang, n_chars FROM documents
WHERE ('0x' || substr(md5('smp' || cast(doc_id AS varchar)), 1, 15))::bigint % 100 < 10
"""


def template_mining_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template mining (declarative Drain analog, pipeline.mine_templates):
    mask volatile numeric tokens in the event props JSON → template groups
    with counts + an extracted param sample (F5/F6: to_json/from_json and
    masked-token extraction)."""
    e = _t(spark, sf_dir, "events")
    template = F.regexp_replace(F.col("props"), r"\d+", "<*>")
    k_val = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select(template.alias("template"), k_val.alias("k"))
        .groupBy("template")
        .agg(
            F.count("*").alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


TEMPLATE_MINING_SQL = r"""
SELECT regexp_replace(props, '\d+', '<*>', 'g') AS template,
       count(*) AS n_events,
       min(cast(json_extract_string(props, '$.k') AS bigint)) AS min_k,
       max(cast(json_extract_string(props, '$.k') AS bigint)) AS max_k,
       cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS sum_k
FROM events GROUP BY 1
"""


def template_merge_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain-style template generalization (pipeline.generalize_templates,
    the cluster-refinement step the regex mask alone lacks — drain.py:53-67):
    render a log line per event, digit-mask it, then merge templates that
    share the Drain tree key and differ in ≤2 token positions. The 15 raw
    templates (5 event types × 3 regions) converge to 5 — one per event
    type, region generalized to <*>."""
    from anomalydetection_spark import pipeline

    e = _t(spark, sf_dir, "events")
    region = F.element_at(
        F.array(F.lit("us"), F.lit("eu"), F.lit("ap")),
        (F.pmod("user_id", F.lit(3)) + 1).cast("int"),
    )
    msg = F.concat_ws(
        " ",
        F.lit("evt"),
        "event_type",
        F.lit("region"),
        region,
        F.lit("took"),
        F.floor("value").cast("long").cast("string"),
        F.lit("ms"),
    )
    template = F.regexp_replace(msg, r"\d+", "<*>")
    tpl = e.select(template.alias("template")).groupBy("template").agg(
        F.count("*").alias("n")
    )
    return pipeline.generalize_templates(tpl, max_wildcards=2)


TEMPLATE_MERGE_SQL = r"""
WITH msg AS (
  SELECT 'evt ' || event_type || ' region ' ||
         (['us','eu','ap'])[cast(user_id % 3 + 1 AS int)] ||
         ' took ' || cast(cast(floor(value) AS bigint) AS varchar) || ' ms' AS m
  FROM events),
tpl AS (SELECT regexp_replace(m, '\d+', '<*>', 'g') AS template, count(*) AS n
        FROM msg GROUP BY 1),
k2 AS (SELECT template, n, toks, len(toks) AS n_tok, toks[1] AS t1, toks[2] AS t2,
              toks[len(toks)] AS tl
       FROM (SELECT template, n, string_split_regex(template, '\s+') AS toks FROM tpl)),
ptok AS (SELECT n_tok, t1, t2, tl, p, toks[p] AS tok
         FROM (SELECT n_tok, t1, t2, tl, toks,
                      unnest(generate_series(1, n_tok)) AS p FROM k2)),
per_pos AS (SELECT n_tok, t1, t2, tl, p, min(tok) AS lo, max(tok) AS hi
            FROM ptok GROUP BY 1, 2, 3, 4, 5),
merged AS (SELECT n_tok, t1, t2, tl,
       string_agg(CASE WHEN lo = hi THEN lo ELSE '<*>' END, ' ' ORDER BY p) AS merged_tpl,
       sum(CASE WHEN lo <> hi THEN 1 ELSE 0 END) AS n_new_wild
    FROM per_pos GROUP BY 1, 2, 3, 4),
grp AS (SELECT n_tok, t1, t2, tl, sum(n) AS n_events, count(*) AS n_tpls
        FROM k2 GROUP BY 1, 2, 3, 4),
dec AS (SELECT * FROM merged JOIN grp USING (n_tok, t1, t2, tl))
SELECT merged_tpl AS template, cast(n_tpls AS bigint) AS n_templates_merged,
       cast(n_events AS bigint) AS n_events
FROM dec WHERE n_new_wild <= 2
UNION ALL
SELECT k.template, cast(1 AS bigint) AS n_templates_merged, cast(k.n AS bigint) AS n_events
FROM k2 k JOIN dec d USING (n_tok, t1, t2, tl) WHERE d.n_new_wild > 2
"""


def roc_auc_embeddings(
    spark: SparkSession, sf_dir: str, n_buckets: int = 1024
) -> DataFrame:
    """A10: exact ROC AUC via a bucketed two-phase Mann-Whitney rank — NO
    global single-partition sort (the round-1 plan's scale killer).

    Phase 1: aggregate to distinct scores (map-side combine shrinks the
    shuffle to |distinct|), range-bucket them, and compute per-bucket row
    totals — a bounded ≤``n_buckets``-row collect gives each bucket its
    global rank offset.
    Phase 2: cumulative counts *within* each bucket via a window
    PARTITIONED by bucket (parallel, bounded) + the bucket's offset ⇒ the
    exact average rank of every distinct score. Ties share a score, hence
    a bucket, so tie-averaging is exact.

    All arithmetic stays integral (2·avg_rank = 2·rows_before + n + 1)
    until the single final division — deterministic across engines.
    Matches reference semantics at prediction_pipeline.py:369-373.
    """
    em = _t(spark, sf_dir, "embeddings")
    score = F.sqrt(
        F.aggregate(
            "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    # binary task: class 1 (positive) vs class 0 (negative) — the fixture's
    # label column is multiclass, so restrict to the two classes up front
    # (round 1 ranked ALL rows against n0 = |class 0|, yielding an
    # out-of-range "AUC"; both engines agreed on the same wrong number)
    scored = em.filter(F.col("label").isin(0, 1)).select("label", score.alias("score"))
    g = scored.groupBy("score").agg(
        F.count("*").alias("n"),
        F.sum((F.col("label") == 1).cast("long")).alias("n1s"),
    )
    lo, hi = g.agg(F.min("score"), F.max("score")).first()
    span = (hi - lo) or 1.0
    bkt = F.least(
        F.floor((F.col("score") - F.lit(lo)) / F.lit(span) * n_buckets),
        F.lit(n_buckets - 1),
    ).cast("int")
    gb = g.withColumn("bkt", bkt)
    bucket_counts = sorted(
        (r["bkt"], r["bn"])
        for r in gb.groupBy("bkt").agg(F.sum("n").alias("bn")).collect()
    )
    offsets, acc = [], 0
    for b, bn in bucket_counts:
        offsets.append((b, acc))
        acc += bn
    offsets_df = spark.createDataFrame(offsets, "bkt int, boffset long")
    w = Window.partitionBy("bkt").orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = gb.join(F.broadcast(offsets_df), "bkt").select(
        "n",
        "n1s",
        (F.col("boffset") + F.coalesce(F.sum("n").over(w), F.lit(0))).alias("before"),
    )
    agg = ranked.agg(
        # Σ n1s·(2·before + n + 1) = 2·Σ(rank sum of positives) — integer
        F.sum(F.col("n1s") * (2 * F.col("before") + F.col("n") + 1)).alias("two_r1"),
        F.sum("n1s").alias("n1"),
        F.sum(F.col("n") - F.col("n1s")).alias("n0"),
    )
    auc = (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)) / (
        2.0 * F.col("n1") * F.col("n0")
    )
    return agg.select("n1", "n0", F.round(auc, 6).alias("auc"))


ROC_AUC_SQL = """
WITH scored AS (
  SELECT label,
    sqrt(list_sum(list_transform(embedding, x -> cast(x AS double) * cast(x AS double)))) AS score
  FROM embeddings WHERE label IN (0, 1)),
ranked AS (
  SELECT label,
         rank() OVER (ORDER BY score) + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS avg_rank
  FROM scored),
agg AS (
  SELECT cast(sum(CASE WHEN label = 1 THEN avg_rank END) AS double) AS r1,
         cast(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS bigint) AS n1,
         cast(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS bigint) AS n0
  FROM ranked)
SELECT n1, n0, round((r1 - n1*(n1+1)/2.0) / (n1*n0), 6) AS auc FROM agg
"""


def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 generalized: CUBE over (status, priority) — counts with all
    grouping-set margins (the confusion matrix plus its marginals)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), _dec_sum(F.col("o_totalprice")).alias("sum_price"))
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP complement to the CUBE query: hierarchical margins
    (status, priority) → (status) → () with an explicit grouping-level
    column — `grouping()` flags distinguish a genuine NULL group value
    from a rollup total (the NULL-ambiguity CUBE/ROLLUP consumers hit)."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        _dec_sum(F.col("o_totalprice")).alias("sum_price"),
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("int")
        .alias("lvl"),
    )


ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS sum_price,
       cast(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS int) AS lvl
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def ntile_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 breadth: NTILE(4) quartile assignment within each event_type
    (ranking key pre-disambiguated by event_id so tile boundaries are
    deterministic), then per-quartile aggregates — the windowed-bucketing
    shape behind per-cohort percentile reporting."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    tiled = e.select(
        "event_type", "value", F.ntile(4).over(w).alias("quartile")
    )
    n = F.count("*")
    return tiled.groupBy("event_type", "quartile").agg(
        n.alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / n, 6
        ).alias("avg_value"),
    )


NTILE_SQL = """
WITH tiled AS (
  SELECT event_type, value,
         ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
  FROM events)
SELECT event_type, quartile, count(*) AS n_events,
       round(cast(sum(cast(value AS decimal(18,2))) AS double) / count(*), 6) AS avg_value
FROM tiled GROUP BY 1, 2
"""


def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 engine-portable: per-stratum deterministic sampling — each lang
    gets its own keep-rate, membership decided by an md5-derived uniform
    (the reference's seeded train_test_split stratification,
    feature_extraction.py:84-97, without library-specific RNG)."""
    d = _t(spark, sf_dir, "documents")
    u = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("strat"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "zh", 30)
        .otherwise(50)
    )
    return d.filter(u < rate).groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("first_doc"),
    )


STRATIFIED_SQL = """
WITH s AS (
  SELECT lang, doc_id,
    ('0x' || substr(md5('strat' || cast(doc_id AS varchar)), 1, 15))::bigint % 100 AS u,
    CASE WHEN lang = 'en' THEN 10 WHEN lang = 'zh' THEN 30 ELSE 50 END AS rate
  FROM documents)
SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
FROM s WHERE u < rate GROUP BY lang
"""


def except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 as a set op: users who clicked but never purchased (EXCEPT) —
    the same complement the referential constraint materializes."""
    e = _t(spark, sf_dir, "events")
    clickers = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    big_buyers = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 195))
        .select("user_id")
        .distinct()
    )
    return clickers.subtract(big_buyers)


EXCEPT_SQL = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 195
"""


def running_total_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME spec (rows unbounded preceding): per-user running event
    value total in exact decimal, sampled to the first 20 users' first 5
    events for a bounded result set."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = (
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
    )
    seq = F.row_number().over(w)
    return (
        e.select("user_id", "event_id", running.alias("running_value"), seq.alias("seq"))
        .filter(F.col("seq") <= 5)
    )


RUNNING_TOTAL_SQL = """
SELECT user_id, event_id, running_value, seq FROM (
  SELECT user_id, event_id,
    cast(sum(cast(value AS decimal(18,6)))
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double)
      AS running_value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events WHERE user_id < 20
) WHERE seq <= 5
"""


def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (conditional aggregation): events per type per user bucket —
    one row per bucket, one column per event_type."""
    e = _t(spark, sf_dir, "events")
    bucket = F.pmod(F.col("user_id"), F.lit(10)).alias("user_bucket")
    return (
        e.select(bucket, "event_type")
        .groupBy("user_bucket")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


PIVOT_SQL = """
SELECT user_id % 10 AS user_bucket,
  cast(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS bigint) AS click,
  cast(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS bigint) AS view,
  cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bigint) AS purchase,
  cast(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS bigint) AS signup,
  cast(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS bigint) AS error
FROM events GROUP BY 1
"""


def intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: users with both an error event and a high-value
    purchase."""
    e = _t(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select("user_id").distinct()
    big = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 190))
        .select("user_id")
        .distinct()
    )
    return err.intersect(big)


INTERSECT_SQL = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 190
"""


def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT + INTERSECT in one tagged union (consolidates the former
    except_users / intersect_users registry pair into one driver slot —
    both set operators still execute, each on its own branch):
    'except' = users who clicked but never big-purchased (>195);
    'intersect' = users with both an error event and a purchase >190."""
    e = _t(spark, sf_dir, "events")
    clickers = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    big_buyers = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 195))
        .select("user_id")
        .distinct()
    )
    err = e.filter(F.col("event_type") == "error").select("user_id").distinct()
    big = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 190))
        .select("user_id")
        .distinct()
    )
    return clickers.subtract(big_buyers).select(
        F.lit("except").alias("op"), "user_id"
    ).unionByName(err.intersect(big).select(F.lit("intersect").alias("op"), "user_id"))


SET_OPS_SQL = """
SELECT 'except' AS op, user_id FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 195)
UNION ALL
SELECT 'intersect' AS op, user_id FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 190)
"""


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE + ROLLUP in one tagged union (consolidates the former
    cube_order_counts / rollup_order_priority registry pair — both
    grouping-set operators still execute): counts + exact decimal sums
    over (status, priority) margins, with grouping() flags distinguishing
    a genuine NULL group value from a margin total."""
    o = _t(spark, sf_dir, "orders")

    def aggs():
        return [
            F.count("*").alias("n_orders"),
            _dec_sum(F.col("o_totalprice")).alias("sum_price"),
            (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
            .cast("int")
            .alias("lvl"),
        ]

    cube = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(*aggs())
        .select(F.lit("cube").alias("op"), "*")
    )
    roll = (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(*aggs())
        .select(F.lit("rollup").alias("op"), "*")
    )
    return cube.unionByName(roll)


GROUPING_SETS_SQL = """
SELECT 'cube' AS op, o_orderstatus, o_orderpriority, count(*) AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS sum_price,
       cast(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS int) AS lvl
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'rollup' AS op, o_orderstatus, o_orderpriority, count(*) AS n_orders,
       cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS sum_price,
       cast(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS int) AS lvl
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join (region→nation→{customer,supplier}→
    orders→lineitem) with the local-supplier condition — the join-reorder /
    broadcast-planning stress case. Catalyst broadcasts the four dimension
    sides; lineitem never shuffles for them."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    joined = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .filter(c["c_nationkey"] == s["s_nationkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
    )
    return joined.groupBy("r_name", "n_name").agg(
        _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


Q5_SQL = """
SELECT r_name, n_name,
  cast(sum(cast(l_extendedprice*(1-l_discount) AS decimal(18,6))) AS double) AS revenue,
  count(*) AS n_rows
FROM lineitem, orders, customer, supplier, nation, region
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py — Spark has no native one): each click
    event picks up the user's latest purchase at-or-before the click, via
    the union+carry-forward window composition (one shuffle, no range
    explosion). Ties on (user, ts) resolve to the largest purchase
    event_id."""
    from anomalydetection_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), F.col("value").alias("purchase_value")
    )
    out = asof_join(
        clicks, purchases, "user_id", "ts",
        right_cols=["purchase_id", "purchase_value"], tiebreak="purchase_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("purchase_id_asof").alias("purchase_id"),
        F.round("purchase_value_asof", 6).alias("purchase_value"),
    )


ASOF_SQL = """
WITH u AS (
  SELECT user_id, ts, 1 AS origin, event_id,
         NULL::bigint AS r_pid, NULL::double AS r_val
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 0 AS origin, NULL AS event_id, event_id AS r_pid, value AS r_val
  FROM events WHERE event_type = 'purchase'
),
carried AS (
  SELECT user_id, origin, event_id,
    last_value(r_pid IGNORE NULLS) OVER w AS purchase_id,
    last_value(r_val IGNORE NULLS) OVER w AS purchase_value
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, origin, r_pid ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, purchase_id, round(purchase_value, 6) AS purchase_value
FROM carried WHERE origin = 1
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation — the
    count-of-counts distribution including the zero-order customers the
    outer join preserves."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
"""


def sql_api_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's spark.sql() surface: tables registered as temp views,
    the query written as SQL text (dialect-shared with the oracle modulo
    the timestamp literal) — demonstrating that every DataFrame query here
    has an equivalent SQL-API form."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql("""
        SELECT o.o_orderstatus,
               cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,6))) AS double) AS revenue,
               count(*) AS n_rows
        FROM orders_v o JOIN lineitem_v l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_totalprice > 100000
        GROUP BY o.o_orderstatus
    """)


SQL_API_SQL = """
SELECT o.o_orderstatus,
       cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,6))) AS double) AS revenue,
       count(*) AS n_rows
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 100000
GROUP BY o.o_orderstatus
"""


def distinct_agg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (A12 in agg form — plans through Expand):
    distinct ordering customers per priority, non-final orders only,
    alongside a plain count from the same pass."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") != "F")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


DISTINCT_AGG_SQL = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders WHERE o_orderstatus <> 'F'
GROUP BY o_orderpriority
"""


def left_join_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join NULL semantics: orders joined to a restricted customer
    dim (keys < 50) — unmatched orders keep NULL customer fields, grouped
    under an explicit coalesce bucket (X3's no-silent-drops principle at
    the relational level)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 50)
    joined = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left")
    return (
        joined.groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("(no-match)")).alias("segment")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("c_custkey").isNull().cast("long")).alias("n_unmatched"),
            _dec_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


LEFT_JOIN_NULL_SQL = """
SELECT coalesce(c_mktsegment, '(no-match)') AS segment,
       count(*) AS n_orders,
       cast(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_unmatched,
       cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_price
FROM orders LEFT OUTER JOIN (SELECT * FROM customer WHERE c_custkey < 50) c
  ON o_custkey = c_custkey
GROUP BY 1
"""


def zorder_event_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleave as a JVM bit expression (operators/
    layout.py): events keyed by (user bucket, hour-of-day) get a 16-bit
    Z-value; per coarse Z-range the bounding box of BOTH dimensions stays
    tight — the per-file min/max stats a clustered write would give a
    10^12-row scan for multi-dimension skipping. The interleave itself is
    cross-engine-checkable integer arithmetic."""
    from anomalydetection_spark.operators import layout

    e = _t(spark, sf_dir, "events")
    x = F.pmod("user_id", F.lit(256)).cast("long")
    y = F.hour("ts").cast("long")
    z = layout.z_value([x, y], bits=8)
    return (
        e.select(z.alias("z"), x.alias("x"), y.alias("y"))
        .groupBy(F.shiftright("z", 10).alias("z_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def _z_interleave_sql(xexpr: str, yexpr: str, bits: int) -> str:
    terms = [f"((({xexpr}) >> {b}) & 1) << {2 * b}" for b in range(bits)]
    terms += [f"((({yexpr}) >> {b}) & 1) << {2 * b + 1}" for b in range(bits)]
    return " | ".join(f"({t})" for t in terms)


ZORDER_SQL = f"""
WITH xy AS (
  SELECT user_id % 256 AS x, hour(ts) AS y FROM events
),
zv AS (
  SELECT x, y, ({_z_interleave_sql('x', 'y', 8)}) AS z FROM xy
)
SELECT z >> 10 AS z_bucket, count(*) AS n_events,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM zv GROUP BY 1
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q1_pricing_summary": q1_pricing_summary,
    "q6_revenue_filter": q6_revenue_filter,
    "q3_shipping_priority": q3_shipping_priority,
    "stats_documents": stats_documents,
    "uniqueness_partkey": uniqueness_partkey,
    "referential_orphans": referential_orphans,
    # referential_orphans_bloom stays implemented (operators/bloom.py) but
    # out of the driver registry: it asserts output identical to
    # referential_orphans, which tests/test_bloom.py::
    # test_scalable_matches_plain_anti_join pins directly — the registry
    # slot goes to a query the driver can't otherwise see.
    "range_join_windows": range_join_windows,
    "drift_kl_psi_by_source": drift_kl_psi_by_source,
    "drift_wasserstein_chisq_by_source": drift_wasserstein_chisq_by_source,
    "drift_ks_js_hellinger_by_source": drift_ks_js_hellinger_by_source,
    "threshold_verdict_events": threshold_verdict_events,
    "topk_users_by_type": topk_users_by_type,
    "confusion_matrix_embeddings": confusion_matrix_embeddings,
    "eval_metrics_embeddings": eval_metrics_embeddings,
    "parse_logs": parse_logs,
    "sessionize_events": sessionize_events,
    "template_mining_events": template_mining_events,
    "template_merge_events": template_merge_events,
    "roc_auc_embeddings": roc_auc_embeddings,
    # cube/rollup and except/intersect each merged into one tagged-union
    # entry: every operator still executes on its own branch, in half the
    # driver slots (the per-round correctness gate checks a bounded number
    # of registry entries).
    "grouping_sets_orders": grouping_sets_orders,
    "ntile_value_quartiles": ntile_value_quartiles,
    "stratified_sample_langs": stratified_sample_langs,
    "set_ops_users": set_ops_users,
    "pivot_event_counts": pivot_event_counts,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "asof_last_purchase": asof_last_purchase,
    "q13_order_count_distribution": q13_order_count_distribution,
    "zorder_event_buckets": zorder_event_buckets,
}

ORACLE_SQL: dict[str, str] = {
    "q1_pricing_summary": Q1_SQL,
    "q6_revenue_filter": Q6_SQL,
    "q3_shipping_priority": Q3_SQL,
    "stats_documents": STATS_SQL,
    "uniqueness_partkey": UNIQUENESS_SQL,
    "referential_orphans": REFERENTIAL_SQL,
    "range_join_windows": RANGE_JOIN_SQL,
    "drift_kl_psi_by_source": DRIFT_SQL,
    "drift_wasserstein_chisq_by_source": WASSERSTEIN_SQL,
    "drift_ks_js_hellinger_by_source": KS_JS_HELLINGER_SQL,
    "threshold_verdict_events": THRESHOLD_SQL,
    "topk_users_by_type": TOPK_SQL,
    "confusion_matrix_embeddings": CONFUSION_SQL,
    "eval_metrics_embeddings": EVAL_SQL,
    "parse_logs": PARSE_SQL,
    "sessionize_events": SESSIONIZE_SQL,
    "template_mining_events": TEMPLATE_MINING_SQL,
    "template_merge_events": TEMPLATE_MERGE_SQL,
    "roc_auc_embeddings": ROC_AUC_SQL,
    "grouping_sets_orders": GROUPING_SETS_SQL,
    "ntile_value_quartiles": NTILE_SQL,
    "stratified_sample_langs": STRATIFIED_SQL,
    "set_ops_users": SET_OPS_SQL,
    "pivot_event_counts": PIVOT_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "asof_last_purchase": ASOF_SQL,
    "q13_order_count_distribution": Q13_SQL,
    "zorder_event_buckets": ZORDER_SQL,
}
