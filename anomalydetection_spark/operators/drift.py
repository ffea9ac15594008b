"""Distribution-drift constraint: KL divergence + PSI on span histograms.

The reference's drift machinery is the VAE's analytic Gaussian KL term
(VAE_utils.py:112-115) and per-class reconstruction-error histograms
(VAE_utils.py:296-301). The engine's discrete analog: per-partition
histograms of span kind and span text length (SURVEY A11) compared to a
stored baseline with

    KL(p||q)  = Σ p·ln(p/q)
    PSI(p,q)  = Σ (p-q)·ln(p/q)

computed as plain column arithmetic after the histogram agg (A14) — no
Python. Laplace-style epsilon smoothing keeps empty buckets finite.

Scale design: the histogram is one hash-agg over the exploded spans
(map-side partials), producing ≤ (partitions × features × buckets) rows —
kilobytes at any input scale. The baseline join is a broadcast.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

CONSTRAINT = "distribution_drift"

LENGTH_BUCKET_WIDTH = 20
LENGTH_BUCKET_MAX = 19  # lengths ≥ max*width collapse into the last bucket


@dataclass(frozen=True)
class DriftThresholds:
    """KL/PSI always run; the bounded pair is opt-in (None = off).

    ``max_js`` / ``max_hellinger`` gate on Jensen–Shannon divergence
    (≤ ln 2) and Hellinger distance (≤ 1) — both defined for categorical
    AND ordinal features, both smoothing-free (zero-mass terms vanish
    exactly, so unlike KL/PSI the scores carry no epsilon dependence),
    and both bounded, which makes fixed thresholds meaningful across
    features with different support sizes. KS needs ordered buckets, so
    it stays in the standalone ``ks_js_hellinger`` analyzer rather than
    the per-feature suite constraint."""

    max_kl: float = 0.05
    max_psi: float = 0.1
    epsilon: float = 1e-6
    max_js: float | None = None
    max_hellinger: float | None = None


def _bucketed(exploded: DataFrame) -> DataFrame:
    """(partition_id, feature, bucket) rows, one per span per feature.

    Single scan: both features explode from one 2-element array per span
    (a union of two selects would scan the span table twice — at 10^12
    spans that doubles the dominant cost of the whole drift check).
    """
    # NB: Spark's least() SKIPS nulls (least(NULL, 19) = 19) — null text
    # must be gated explicitly so media spans don't land in the last bucket
    len_bucket = F.when(
        F.col("text_len").isNotNull(),
        F.least(
            F.floor(F.col("text_len") / F.lit(LENGTH_BUCKET_WIDTH)),
            F.lit(LENGTH_BUCKET_MAX),
        ).cast("string"),
    )
    pairs = F.array(
        F.struct(F.lit("span_kind").alias("feature"), F.col("kind").alias("bucket")),
        F.struct(F.lit("span_length").alias("feature"), len_bucket.alias("bucket")),
    )
    return (
        exploded.select("partition_id", F.explode(pairs).alias("fb"))
        .select("partition_id", F.col("fb.feature").alias("feature"), F.col("fb.bucket").alias("bucket"))
        # span_length is undefined for NULL text (media spans) — matches the
        # two-pass formulation's filter; NULL span_kind rows are kept
        .filter(~((F.col("feature") == "span_length") & F.col("bucket").isNull()))
    )


def histograms(exploded: DataFrame) -> DataFrame:
    """Per-partition normalized histograms: (partition_id, feature, bucket, p)."""
    counts = _bucketed(exploded).groupBy("partition_id", "feature", "bucket").agg(
        F.count("*").alias("n")
    )
    total = F.sum("n").over(
        Window.partitionBy("partition_id", "feature")
    )
    return counts.select(
        "partition_id", "feature", "bucket", (F.col("n") / total).alias("p")
    )


def compute_baseline(exploded: DataFrame) -> DataFrame:
    """Global (all-partition) histograms: (feature, bucket, p) — the stored
    baseline a production deployment would persist from a blessed snapshot."""
    counts = _bucketed(exploded).groupBy("feature", "bucket").agg(F.count("*").alias("n"))
    total = F.sum("n").over(
        Window.partitionBy("feature")
    )
    return counts.select("feature", "bucket", (F.col("n") / total).alias("p"))


def kl_psi(
    cur: DataFrame,
    base: DataFrame,
    group_col: str,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Generic KL + PSI between per-group histograms and a baseline.

    ``cur``: (group_col, bucket, p); ``base``: (bucket, q) with q summing
    to 1. Returns (group_col, kl, psi). Buckets = union per group via a
    crossJoin of groups × baseline buckets + full-outer with current —
    both sides epsilon-smoothed (the discrete analog of the reference's
    Gaussian KL, VAE_utils.py:112-115).
    """
    groups = cur.select(group_col).distinct()
    base_x = groups.crossJoin(F.broadcast(base.select("bucket", "q")))
    joined = base_x.join(cur, [group_col, "bucket"], "full_outer").select(
        group_col,
        (F.coalesce(F.col("p"), F.lit(0.0)) + F.lit(epsilon)).alias("p"),
        (F.coalesce(F.col("q"), F.lit(0.0)) + F.lit(epsilon)).alias("q"),
    )
    return joined.groupBy(group_col).agg(
        F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))).alias("kl"),
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi"),
    )


def _dense_grid(
    cur_counts: DataFrame, base_counts: DataFrame, group_col: str
) -> DataFrame:
    """Dense (group × bucket) count grid shared by the distance-drift
    metrics: (group_col, bucket, np, nq, tg, tq) with missing buckets
    carrying n=0 on either side.

    Every group gets every baseline bucket (so cumulative sums see n=0
    rows); current-only buckets (absent from baseline) get nq=0 — they
    contribute to CDF-gap metrics and are excluded from chi-square
    (E=0 is outside the statistic's support, the standard convention).
    Inputs are post-aggregation histograms (≤ groups × buckets rows — KB
    at any corpus size); the baseline and the totals are broadcast.
    """
    tg = cur_counts.groupBy(group_col).agg(F.sum("n").cast("long").alias("tg"))
    base_tot = base_counts.agg(F.sum("n").cast("long").alias("tq"))
    base = base_counts.select(
        F.col("bucket"), F.col("n").cast("long").alias("nq")
    ).crossJoin(F.broadcast(base_tot))

    grid = tg.crossJoin(F.broadcast(base))
    joined = grid.join(
        cur_counts.select(
            group_col, "bucket", F.col("n").cast("long").alias("np")
        ),
        [group_col, "bucket"],
        "full_outer",
    ).select(
        group_col,
        "bucket",
        F.coalesce(F.col("np"), F.lit(0)).alias("np"),
        F.coalesce(F.col("nq"), F.lit(0)).alias("nq"),
        "tg",
        "tq",
    )
    # rows from current-only buckets have NULL tg/tq — rebroadcast totals
    totals = tg.crossJoin(F.broadcast(base_tot))
    return joined.drop("tg", "tq").join(F.broadcast(totals), group_col)


def wasserstein_chisq(
    cur_counts: DataFrame,
    base_counts: DataFrame,
    group_col: str,
) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance + Pearson chi-square statistic
    between per-group bucket histograms and a global baseline.

    Complements ``kl_psi``: KL/PSI are support-sensitive (a mass shift
    between *adjacent* length buckets scores the same as a shift across the
    whole range), while W1 weights shifts by how far the mass moved — the
    right alarm for gradual length/score drift — and the chi-square
    statistic is the classical homogeneity test for categorical features.

    ``cur_counts``: (group_col, bucket, n) with integer-orderable buckets;
    ``base_counts``: (bucket, n). Both are raw counts, NOT normalized —
    keeping counts integral lets the heavy arithmetic stay exact:

        W1  = Σ_b |cumP(b) − cumQ(b)|
            = Σ_b |cum_np·Tq − cum_nq·Tg| / (Tg·Tq)

    where the numerator is decimal(38,0)-exact (counts ≤ 1e12 × totals
    ≤ 1e12 fits 38 digits) and ONE double division happens at the end —
    summation order cannot perturb the result. Chi-square's per-bucket
    difference (np·Tq − nq·Tg) is likewise exact; its square must drop to
    double (1e48 overflows any fixed decimal), matching the oracle's
    arithmetic exactly because both engines square the same integer.

    Scale: inputs are post-aggregation histograms (≤ groups × buckets
    rows — KB at any corpus size); the baseline is broadcast onto the
    group grid and the cumulative windows partition BY GROUP (never a
    partition-less window). Returns (group_col, w1, chisq).
    """
    joined = _dense_grid(cur_counts, base_counts, group_col)

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("bucket").cast("long"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d38 = "decimal(38,0)"
    cum_gap = F.abs(
        F.sum("np").over(w).cast(d38) * F.col("tq").cast(d38)
        - F.sum("nq").over(w).cast(d38) * F.col("tg").cast(d38)
    )
    diff = (
        F.col("np").cast(d38) * F.col("tq").cast(d38)
        - F.col("nq").cast(d38) * F.col("tg").cast(d38)
    )
    per_bucket = joined.select(
        group_col,
        "tg",
        "tq",
        cum_gap.alias("cum_gap"),
        F.when(
            F.col("nq") > 0,
            F.pow(diff.cast("double"), F.lit(2.0))
            / (
                F.col("nq").cast("double")
                * F.col("tg").cast("double")
                * F.col("tq").cast("double")
            ),
        ).alias("chisq_term"),
    )
    return per_bucket.groupBy(group_col).agg(
        (
            F.sum("cum_gap").cast("double")
            / (F.first("tg").cast("double") * F.first("tq").cast("double"))
        ).alias("w1"),
        F.sum("chisq_term").alias("chisq"),
    )


def ks_js_hellinger(
    cur_counts: DataFrame,
    base_counts: DataFrame,
    group_col: str,
) -> DataFrame:
    """Kolmogorov–Smirnov statistic + Jensen–Shannon divergence +
    Hellinger distance between per-group bucket histograms and a global
    baseline — the three classical bounded drift metrics completing the
    family next to KL/PSI (support-sensitive, unbounded) and
    W1/chi-square (distance-aware, unbounded):

        KS  = max_b |cumP(b) − cumQ(b)|           ∈ [0, 1]
        JS  = ½ Σ p·ln(p/m) + ½ Σ q·ln(q/m),  m = (p+q)/2   ∈ [0, ln 2]
        H   = sqrt(½ Σ (√p − √q)²)                ∈ [0, 1]

    KS is the two-sample test's statistic on the bucketed CDFs (the
    critical-value scaling is the caller's policy knob); JS is the
    symmetric, always-finite KL variant (no epsilon smoothing needed —
    zero-mass terms vanish exactly, so unlike ``kl_psi`` the score is
    independent of any smoothing constant); Hellinger is the bounded
    geometric distance alert thresholds compose best with.

    Determinism: the KS numerator max|cum_np·Tq − cum_nq·Tg| is
    decimal(38,0)-exact with ONE terminal double division (the W1
    contract, above). JS/Hellinger need per-bucket probabilities, so p
    and q are formed by single exact-integer divisions and every
    subsequent op is double-on-double in a fixed expression shape —
    mirror it verbatim in SQL twins. Zero-mass conventions: p·ln(p/m)
    contributes only where np > 0 (limit 0 at p→0), likewise q; the
    dense grid never emits a both-zero bucket.

    Scale: identical to ``wasserstein_chisq`` — post-aggregation inputs,
    broadcast baseline/totals, cumulative window partitioned BY GROUP.
    Returns (group_col, ks, js, hellinger).
    """
    joined = _dense_grid(cur_counts, base_counts, group_col)

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("bucket").cast("long"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d38 = "decimal(38,0)"
    cum_gap = F.abs(
        F.sum("np").over(w).cast(d38) * F.col("tq").cast(d38)
        - F.sum("nq").over(w).cast(d38) * F.col("tg").cast(d38)
    )
    p = F.col("np").cast("double") / F.col("tg").cast("double")
    q = F.col("nq").cast("double") / F.col("tq").cast("double")
    m = (p + q) / F.lit(2.0)
    js_term = F.when(F.col("np") > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) + F.when(
        F.col("nq") > 0, q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    hell_term = (F.sqrt(p) - F.sqrt(q)) * (F.sqrt(p) - F.sqrt(q))
    per_bucket = joined.select(
        group_col,
        "tg",
        "tq",
        cum_gap.alias("cum_gap"),
        js_term.alias("js_term"),
        hell_term.alias("hell_term"),
    )
    return per_bucket.groupBy(group_col).agg(
        (
            F.max("cum_gap").cast("double")
            / (F.first("tg").cast("double") * F.first("tq").cast("double"))
        ).alias("ks"),
        (F.lit(0.5) * F.sum("js_term")).alias("js"),
        F.sqrt(F.lit(0.5) * F.sum("hell_term")).alias("hellinger"),
    )


def check(
    exploded: DataFrame,
    baseline: DataFrame,
    th: DriftThresholds = DriftThresholds(),
    cache: Callable[[DataFrame], DataFrame] | None = None,
    cache_counts: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """distribution_drift constraint → (verdicts, violations).

    Violations are partition-level (doc_id NULL): one row per
    (partition, feature) whose KL or PSI — or, when the opt-in bounded
    thresholds ``max_js`` / ``max_hellinger`` are set, JS divergence or
    Hellinger distance — exceeds its threshold. The bounded pair rides
    the SAME smoothed-join frame as extra aggregate columns (no
    additional scan or shuffle) but reads the raw un-smoothed
    probabilities; with both unset the output is byte-identical to the
    KL/PSI-only contract.

    ``cache`` (run_suite's recorder) takes the per-(partition, feature)
    score frame — tiny (partitions × 2 rows), but everything upstream of
    it (the histogram agg over all spans) would otherwise run once for the
    verdict action and again for the violation action.

    ``cache_counts`` takes the raw bucket counts (≤ partitions × features
    × buckets rows — KB at any input scale). Everything else — normalized
    histograms, the partition list for the baseline cross-join, and the
    per-partition row counts the verdicts carry — derives from that frame,
    so with it cached this is ONE scan of the span table; the naive
    composition (histograms + a distinct() for partitions + a groupBy for
    row counts) re-scanned every span three times per run. The suite
    leaves it unset when it caches the exploded view itself (small
    inputs): re-deriving the tiny agg from that cache is cheaper than
    another materialization barrier.
    """
    counts = (
        _bucketed(exploded)
        .groupBy("partition_id", "feature", "bucket")
        .agg(F.count("*").alias("n"))
    )
    if cache_counts is not None:
        counts = cache_counts(counts)
    total = F.sum("n").over(Window.partitionBy("partition_id", "feature"))
    cur = counts.select(
        "partition_id", "feature", "bucket", (F.col("n") / total).alias("p")
    )
    base = baseline.select("feature", "bucket", F.col("p").alias("q"))

    # full outer per (feature,bucket) within each partition: a partition may
    # miss baseline buckets and vice versa → epsilon smoothing.
    parts = counts.select("partition_id").distinct()
    base_x = parts.crossJoin(F.broadcast(base))
    # the bounded pair (JS/Hellinger, opt-in) reads the RAW probabilities —
    # its zero-mass terms vanish exactly, so smoothing would only distort it
    bounded = th.max_js is not None or th.max_hellinger is not None
    raw_cols = (
        [
            F.coalesce(F.col("p"), F.lit(0.0)).alias("p0"),
            F.coalesce(F.col("q"), F.lit(0.0)).alias("q0"),
        ]
        if bounded
        else []
    )
    joined = base_x.join(cur, ["partition_id", "feature", "bucket"], "full_outer").select(
        "partition_id",
        "feature",
        "bucket",
        (F.coalesce(F.col("p"), F.lit(0.0)) + F.lit(th.epsilon)).alias("p"),
        (F.coalesce(F.col("q"), F.lit(0.0)) + F.lit(th.epsilon)).alias("q"),
        *raw_cols,
    )

    aggs = [
        F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))).alias("kl"),
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi"),
    ]
    if bounded:
        p0, q0 = F.col("p0"), F.col("q0")
        m = (p0 + q0) / F.lit(2.0)
        js_term = F.when(p0 > 0, p0 * F.log(p0 / m)).otherwise(F.lit(0.0)) + F.when(
            q0 > 0, q0 * F.log(q0 / m)
        ).otherwise(F.lit(0.0))
        aggs.append((F.lit(0.5) * F.sum(js_term)).alias("js"))
        aggs.append(
            F.sqrt(
                F.lit(0.5)
                * F.sum((F.sqrt(p0) - F.sqrt(q0)) * (F.sqrt(p0) - F.sqrt(q0)))
            ).alias("hellinger")
        )
    scores = joined.groupBy("partition_id", "feature").agg(*aggs)
    ok = (F.col("kl") <= F.lit(th.max_kl)) & (F.col("psi") <= F.lit(th.max_psi))
    if th.max_js is not None:
        ok = ok & (F.col("js") <= F.lit(th.max_js))
    if th.max_hellinger is not None:
        ok = ok & (F.col("hellinger") <= F.lit(th.max_hellinger))
    scored = scores.withColumn("ok", ok)
    if cache is not None:
        scored = cache(scored)

    detail = (
        F.format_string(
            "drift on %s: kl=%.6f psi=%.6f js=%.6f hellinger=%.6f",
            F.col("feature"),
            F.col("kl"),
            F.col("psi"),
            F.col("js"),
            F.col("hellinger"),
        )
        if bounded
        else F.format_string(
            "drift on %s: kl=%.6f psi=%.6f", F.col("feature"), F.col("kl"), F.col("psi")
        )
    )
    violations = scored.filter(~F.col("ok")).select(
        "partition_id",
        F.lit(CONSTRAINT).alias("constraint"),
        F.lit(None).cast("string").alias("doc_id"),
        F.lit(None).cast("int").alias("pos"),
        detail.alias("detail"),
    )

    # every span contributes exactly one span_kind bucket row (NULL kinds
    # kept), so the kind-feature counts sum to the span count — no second
    # scan of the span table
    row_counts = (
        counts.filter(F.col("feature") == "span_kind")
        .groupBy("partition_id")
        .agg(F.sum("n").cast("long").alias("row_count"))
    )
    metric_keys = [
        F.lit("kl_span_kind"), F.lit("psi_span_kind"),
        F.lit("kl_span_length"), F.lit("psi_span_length"),
    ]
    metric_vals = [
        F.max(F.when(F.col("feature") == "span_kind", F.col("kl"))),
        F.max(F.when(F.col("feature") == "span_kind", F.col("psi"))),
        F.max(F.when(F.col("feature") == "span_length", F.col("kl"))),
        F.max(F.when(F.col("feature") == "span_length", F.col("psi"))),
    ]
    if bounded:
        metric_keys += [
            F.lit("js_span_kind"), F.lit("hellinger_span_kind"),
            F.lit("js_span_length"), F.lit("hellinger_span_length"),
        ]
        metric_vals += [
            F.max(F.when(F.col("feature") == "span_kind", F.col("js"))),
            F.max(F.when(F.col("feature") == "span_kind", F.col("hellinger"))),
            F.max(F.when(F.col("feature") == "span_length", F.col("js"))),
            F.max(F.when(F.col("feature") == "span_length", F.col("hellinger"))),
        ]
    verdicts = (
        scored.groupBy("partition_id")
        .agg(
            F.bool_and("ok").alias("passed"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).cast("long").alias("violation_count"),
            F.map_from_arrays(
                F.array(*metric_keys), F.array(*metric_vals)
            ).alias("metrics"),
        )
        .join(row_counts, "partition_id", "left")
        .select(
            "partition_id",
            F.lit(CONSTRAINT).alias("constraint"),
            "passed",
            "violation_count",
            F.coalesce(F.col("row_count"), F.lit(0)).cast("long").alias("row_count"),
            "metrics",
        )
    )
    return verdicts, violations


# round-6 log10(1 + 1/d) for d = 1..9, computed ONCE here and inlined as
# literals on both engine sides (log10 is not correctly rounded by libm,
# so evaluating it per-engine risks an ulp split on the hash boundary)
BENFORD_EXPECTED = [
    round(__import__("math").log10(1.0 + 1.0 / d), 6) for d in range(1, 10)
]


def benford(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit conformance vs Benford's law — the
    audit-grade sanity check for "organically grown" numeric columns
    (amounts, sizes, durations): fabricated, truncated, or unit-mangled
    data bends the leading-digit curve long before summary stats move.

    Returns the dense 9-row frame (digit, n, share, expected) with
    expected = log10(1 + 1/d). The first significant digit is extracted
    from the value's DECIMAL STRING rendering (first [1-9] character, sign
    and leading zeros skipped) rather than via floor(log10(x)) arithmetic:
    float log at exact powers of ten rounds differently across engines,
    strings don't. Use on decimal/integer columns (float columns may render
    scientifically — cast first). NULLs and zeros carry no first digit and
    are excluded from the denominator.

    Scale: one projected scan + one 9-bucket hash aggregate; the
    theoretical baseline is a broadcast literal. Nothing here is heavier
    than a count(*).
    """
    first = F.regexp_extract(F.col(col).cast("string"), "[1-9]", 0)
    counts = (
        df.select(first.alias("_d"))
        .filter(F.col("_d") != "")
        .groupBy("_d")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("_total"))
    grid = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    dense = grid.join(
        counts.select(F.col("_d").cast("int").alias("digit"), "n"),
        "digit",
        "left",
    ).select("digit", F.coalesce("n", F.lit(0)).alias("n"))
    # `expected` is nine CONSTANTS — computed once driver-side and inlined
    # as literals (mirrored verbatim in SQL twins), because log10 is not
    # IEEE-correctly-rounded and can differ by an ulp across engines.
    # `share` uses the deterministic quantizer: its input n/_total is one
    # IEEE divide of exactly converted ints, bit-identical cross-engine,
    # and det_round6 keeps the boundary engine-independent where
    # round(double, 6) is not (functions/detquant.py).
    from anomalydetection_spark.functions.detquant import det_round6

    expected = F.element_at(
        F.array(*[F.lit(e) for e in BENFORD_EXPECTED]), F.col("digit")
    )
    return dense.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        det_round6(F.col("n") / F.col("_total")).alias("share"),
        expected.alias("expected"),
    )
