r"""Driver-contract queries, batch 5: training-corpus scale operators.

Substring-level duplicate-window coverage (the window-granularity
relaxation of suffix-array substring dedup), SemDeDup semantic
deduplication over the embedding table, a fastText-style hashed linear
quality classifier, and the TPC-H Q18 group-filter-then-join-back shape.

Same determinism contract as the other batches: every float that crosses
the oracle boundary is either derived from exact integer sums or rounded
to 6 decimals after an identical sequential computation; md5-based
60-bit hashes are the shared portable hash family.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomalydetection_spark.operators import dedup, similarity, textops

# ---------------------------------------------------------------------------
# duplicate k-token window coverage (substring-dedup signal)
# ---------------------------------------------------------------------------

_DUPWIN_TAIL = " shared boilerplate tail alpha beta gamma delta epsilon zeta"


def _dupwin_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with a 9-token boilerplate tail appended to every 4th doc
    (by n_chars) — the 5 windows fully inside the tail are duplicated
    across ~25% of the corpus; bridge windows stay doc-unique."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    txt = F.when(
        F.col("n_chars") % 4 == 0, F.concat(F.col("text"), F.lit(_DUPWIN_TAIL))
    ).otherwise(F.col("text"))
    return d.select("doc_id", "source", txt.alias("text"))


def dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-window accounting over the injected corpus:
    docs, docs containing any cross-doc duplicated 5-token window, total
    and duplicated window counts, and the corpus-level duplicated
    fraction (exact long division, rounded to 6). The signal substring
    dedup (Lee et al. 2022) trims on, at window granularity."""
    corpus = _dupwin_corpus(spark, sf_dir)
    cov = dedup.duplicate_window_coverage(corpus, "doc_id", "text", k=5)
    joined = cov.join(corpus.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_dup_windows") > 0).cast("long")).alias("docs_with_dup"),
            F.sum("n_dup_windows").alias("dup_windows"),
            F.sum("n_windows").alias("total_windows"),
        )
        .withColumn(
            "dup_ratio", F.round(F.col("dup_windows") / F.col("total_windows"), 6)
        )
    )


DUP_NGRAM_SQL = rf"""
WITH corpus AS (
  SELECT doc_id, source,
    text || CASE WHEN n_chars % 4 = 0 THEN '{_DUPWIN_TAIL}' ELSE '' END AS text
  FROM documents
),
toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t FROM corpus),
w AS (
  SELECT doc_id,
    unnest(CASE WHEN len(t) >= 5 THEN generate_series(1, len(t) - 4)
           ELSE [] END) AS i, t
  FROM toks
),
wh AS (
  SELECT doc_id,
    ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))::bigint AS whash
  FROM w
),
dupset AS (
  SELECT whash FROM (SELECT DISTINCT doc_id, whash FROM wh)
  GROUP BY whash HAVING count(*) >= 2
),
perdoc AS (
  SELECT doc_id, count(*)::bigint AS n_dup
  FROM wh WHERE whash IN (SELECT whash FROM dupset) GROUP BY doc_id
),
base AS (
  SELECT doc_id, source, greatest(len(t) - 4, 0)::bigint AS n_windows FROM toks
)
SELECT source, count(*)::bigint AS n_docs,
  sum(CASE WHEN coalesce(n_dup, 0) > 0 THEN 1 ELSE 0 END)::bigint AS docs_with_dup,
  sum(coalesce(n_dup, 0))::bigint AS dup_windows,
  sum(n_windows)::bigint AS total_windows,
  round(sum(coalesce(n_dup, 0)) / sum(n_windows), 6) AS dup_ratio
FROM base LEFT JOIN perdoc USING (doc_id)
GROUP BY source
"""

# ---------------------------------------------------------------------------
# SemDeDup: cluster-blocked semantic dedup over embeddings
# ---------------------------------------------------------------------------


def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup accounting: the embedding corpus (plus exact
    copies injected for every 7th vector) is coarse-clustered to 8 fixed
    deterministic centroids, then within-cluster cosine ≥ 0.95 marks
    semantic duplicates (lower vec_id keeps). Fixed centroids keep the
    DuckDB twin exact; `similarity.kmeans_fit` trains real centroids
    (recall measured in tests/test_similarity_recall.py)."""
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    extra = em.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 200_000).alias("vec_id"), "embedding"
    )
    corpus = em.unionByName(extra)
    centroids = em.filter(F.col("vec_id") < 8)
    marked = similarity.semdedup(
        corpus, centroids, "vec_id", "embedding", threshold=0.95
    )
    return marked.groupBy("cell").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
    )


SEMDEDUP_SQL = """
WITH ecorpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 200000 AS vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0
),
cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, ct.cid AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round(list_sum(list_transform(generate_series(1, len(e.embedding)),
          i -> (cast(e.embedding[i] AS double) - cast(ct.cv[i] AS double))
             * (cast(e.embedding[i] AS double) - cast(ct.cv[i] AS double)))), 6),
          ct.cid) AS rn
    FROM ecorpus e CROSS JOIN cents ct)
  WHERE rn = 1),
v AS (SELECT e.vec_id, e.embedding, a.cell
      FROM ecorpus e JOIN assigned a USING (vec_id)),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(
      list_sum(list_transform(generate_series(1, len(a.embedding)),
        i -> cast(a.embedding[i] AS double) * cast(b.embedding[i] AS double)))
      / (sqrt(list_sum(list_transform(a.embedding, x -> cast(x AS double) * cast(x AS double))))
       * sqrt(list_sum(list_transform(b.embedding, x -> cast(x AS double) * cast(x AS double))))),
      6) >= 0.95
)
SELECT cell, count(*)::bigint AS n_vecs,
  sum(CASE WHEN v.vec_id IN (SELECT vec_id FROM dups) THEN 1 ELSE 0 END)::bigint AS n_dups
FROM v GROUP BY cell
"""

# ---------------------------------------------------------------------------
# hashed linear quality classifier
# ---------------------------------------------------------------------------


def quality_classifier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source classifier-filter accounting: docs, docs kept by the
    hashed-bag-of-words linear scorer (sigmoid > ½ ⇔ integer weight sum
    > 0), and the exact fixed-point weight / token totals. Map-only into
    one hash agg — no join, no Python."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = textops.classifier_scores(d, "doc_id", "text", keep_cols=["source"])
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum("sum_weight").alias("total_weight"),
        F.sum("n_tokens").alias("total_tokens"),
    )


_HALF = (textops.CLASSIFIER_MOD - 1) // 2

QUALITY_CLASSIFIER_SQL = rf"""
WITH s AS (
  SELECT source,
    list_sum(list_transform(string_split_regex(trim(text), '\s+'), t ->
      ((('0x' || substr(md5(t), 1, 15))::bigint % {textops.CLASSIFIER_BUCKETS})
        * {textops.CLASSIFIER_LCG_A} + {textops.CLASSIFIER_LCG_C})
      % {textops.CLASSIFIER_MOD} - {_HALF}
    ))::bigint AS sum_w,
    len(string_split_regex(trim(text), '\s+'))::bigint AS n_tok
  FROM documents
)
SELECT source, count(*)::bigint AS n_docs,
  sum(CASE WHEN sum_w > 0 THEN 1 ELSE 0 END)::bigint AS n_keep,
  sum(sum_w)::bigint AS total_weight,
  sum(n_tok)::bigint AS total_tokens
FROM s GROUP BY source
"""

# ---------------------------------------------------------------------------
# TPC-H Q18 shape: group-filter then join back
# ---------------------------------------------------------------------------


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders (TPC-H Q18 shape): orders whose lineitem
    quantity sum exceeds 250, joined back to orders + customer, top 100
    by total price. The group-filter (partial-aggregated hash agg on
    l_orderkey) reduces the fact table before any join; at scale the
    filtered key set is usually small enough for AQE to pick a broadcast
    join back, and the final top-k plans as TakeOrderedAndProject (no
    global sort). Quantities are integral — summed as longs, exact."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    j = orders.join(big, orders["o_orderkey"] == big["l_orderkey"]).join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    )
    return (
        j.select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, sum(cast(l_quantity AS bigint))::bigint AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(cast(l_quantity AS bigint)) > 250
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dup_ngram_coverage": dup_ngram_coverage,
    "semdedup_clusters": semdedup_clusters,
    "quality_classifier_stats": quality_classifier_stats,
    "q18_large_orders": q18_large_orders,
}

ORACLE_SQL: dict[str, str] = {
    "dup_ngram_coverage": DUP_NGRAM_SQL,
    "semdedup_clusters": SEMDEDUP_SQL,
    "quality_classifier_stats": QUALITY_CLASSIFIER_SQL,
    "q18_large_orders": Q18_SQL,
}

# ---------------------------------------------------------------------------
# BM25 lexical retrieval top-k
# ---------------------------------------------------------------------------

_BM25_QUERIES = [
    (1, "spark join merge"),
    (2, "window agg stream"),
    (3, "customer query filter"),
]


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per lexical query by BM25 (operators/retrieval.py):
    query vocabulary broadcast into the token stream before the tf agg,
    fixed-point integer score sums, deterministic (score desc, doc_id)
    ranks."""
    from anomalydetection_spark.operators import retrieval

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    q = spark.createDataFrame(_BM25_QUERIES, "query_id long, qtext string")
    return retrieval.bm25_topk(d, q, "doc_id", "text", k=5)


_BM25_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)

BM25_SQL = rf"""
WITH q(query_id, qtext) AS (VALUES {_BM25_VALUES}),
qterms AS (
  SELECT DISTINCT query_id,
    unnest(string_split_regex(trim(qtext), '\s+')) AS term
  FROM q),
toks AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+'))::bigint AS dl,
         unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents),
corpus AS (
  SELECT count(*)::bigint AS n_docs, sum(dl)::bigint AS total_len
  FROM (SELECT len(string_split_regex(trim(text), '\s+'))::bigint AS dl
        FROM documents)),
tf AS (
  SELECT doc_id, dl, term, count(*)::bigint AS tf
  FROM toks WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, dl, term),
dft AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY term),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
    cast(round(
      ln(1.0 + (c.n_docs - dft.df + 0.5) / (dft.df + 0.5))
      * ((tf.tf * 2.2)
         / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (c.total_len / c.n_docs))))
      * 1000000000.0, 0) AS bigint) AS fp
  FROM tf JOIN dft USING (term) JOIN qterms qt USING (term) CROSS JOIN corpus c),
s AS (
  SELECT query_id, doc_id, round(sum(fp) / 1000000000.0, 6) AS score
  FROM contrib GROUP BY query_id, doc_id)
SELECT query_id, doc_id, score, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id ASC) AS rk
  FROM s)
WHERE rk <= 5
"""

QUERIES["bm25_topk_docs"] = bm25_topk_docs
ORACLE_SQL["bm25_topk_docs"] = BM25_SQL

# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine
# ---------------------------------------------------------------------------


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/retrieval.rrf_fuse): the first 10 docs
    query the rest of the corpus through BOTH retrievers — BM25 over
    `documents.text` and brute-force cosine over the aligned
    `embeddings` row — each to depth 20, fused by reciprocal-rank
    (k=60, the SIGIR'09 constant), fused top-5 per query. Scores are
    exact int64 fixed-point rank reciprocals, so the fusion itself is
    float-free."""
    from anomalydetection_spark.operators import retrieval

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_lex = docs.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    lex = retrieval.bm25_topk(
        docs.filter(F.col("doc_id") >= 10), q_lex, "doc_id", "text", k=20
    ).select("query_id", "doc_id", "rk")
    dense = similarity.brute_force_topk(
        em.filter(F.col("vec_id") >= 10),
        em.filter(F.col("vec_id") < 10),
        "vec_id",
        "embedding",
        k=20,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    return retrieval.rrf_fuse([lex, dense], "query_id", "doc_id", k=60, topk=5)


HYBRID_RRF_SQL = r"""
WITH qdocs AS (SELECT doc_id AS query_id, text AS qtext FROM documents WHERE doc_id < 10),
lcorpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10),
qterms AS (
  SELECT DISTINCT query_id,
    unnest(string_split_regex(trim(qtext), '\s+')) AS term
  FROM qdocs),
toks AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+'))::bigint AS dl,
         unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM lcorpus),
cstats AS (
  SELECT count(*)::bigint AS n_docs, sum(dl)::bigint AS total_len
  FROM (SELECT len(string_split_regex(trim(text), '\s+'))::bigint AS dl
        FROM lcorpus)),
tf AS (
  SELECT doc_id, dl, term, count(*)::bigint AS tf
  FROM toks WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, dl, term),
dft AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY term),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
    cast(round(
      ln(1.0 + (c.n_docs - dft.df + 0.5) / (dft.df + 0.5))
      * ((tf.tf * 2.2)
         / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (c.total_len / c.n_docs))))
      * 1000000000.0, 0) AS bigint) AS fp
  FROM tf JOIN dft USING (term) JOIN qterms qt USING (term) CROSS JOIN cstats c),
bm AS (
  SELECT query_id, doc_id, round(sum(fp) / 1000000000.0, 6) AS score
  FROM contrib GROUP BY query_id, doc_id),
lexrank AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id ASC) AS rk
    FROM bm) WHERE rk <= 20),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
dscored AS (
  SELECT query_id, doc_id,
    round(
      list_sum(list_transform(generate_series(1, len(qv)),
                              i -> cast(qv[i] AS double) * cast(cv[i] AS double)))
      / (sqrt(list_sum(list_transform(qv, x -> cast(x AS double) * cast(x AS double))))
       * sqrt(list_sum(list_transform(cv, x -> cast(x AS double) * cast(x AS double))))),
      6) AS cos
  FROM q CROSS JOIN c),
denserank AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, doc_id ASC) AS rk
    FROM dscored) WHERE rk <= 20),
allfp AS (
  SELECT query_id, doc_id,
         cast(round(1000000000.0 / (60 + rk), 0) AS bigint) AS fp
  FROM lexrank
  UNION ALL
  SELECT query_id, doc_id,
         cast(round(1000000000.0 / (60 + rk), 0) AS bigint) AS fp
  FROM denserank),
fused AS (
  SELECT query_id, doc_id, sum(fp)::bigint AS rrf_fp, count(*)::bigint AS n_lists
  FROM allfp GROUP BY query_id, doc_id)
SELECT query_id, doc_id, rrf_fp, n_lists, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_fp DESC, doc_id ASC) AS rk
  FROM fused)
WHERE rk <= 5
"""

QUERIES["hybrid_rrf_topk"] = hybrid_rrf_topk
ORACLE_SQL["hybrid_rrf_topk"] = HYBRID_RRF_SQL

# ---------------------------------------------------------------------------
# self-trained unigram LM scoring (perplexity-filter analog)
# ---------------------------------------------------------------------------

# 3.45 nats/token in fixed-point units — flag ⇔ nll_fp > THRESH·n_tokens,
# a pure bigint predicate (never a float boundary)
_NLL_THRESH_FP = 3_450_000_000


def unigram_nll_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-LM accounting: docs, tokens, exact fixed-point
    NLL totals, and docs flagged above 3.45 nats/token (the off-
    distribution tail — the corpus-self-trained stand-in for KenLM
    perplexity filtering). Two token-stream passes (train + score), vocab
    broadcast, all flags integer-exact."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = textops.unigram_logprob_scores(d, "doc_id", "text", keep_cols=["source"])
    return s.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("nll_fp").alias("total_nll_fp"),
        F.sum(
            (F.col("nll_fp") > F.lit(_NLL_THRESH_FP) * F.col("n_tokens")).cast("long")
        ).alias("n_flagged"),
    )


UNIGRAM_NLL_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source,
    unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents),
vocab AS (SELECT term, count(*)::bigint AS cnt FROM toks GROUP BY term),
tot AS (SELECT sum(cnt)::bigint AS total FROM vocab),
vp AS (
  SELECT term,
    cast(round(-ln(cnt / total) * 1000000000.0, 0) AS bigint) AS lp_fp
  FROM vocab, tot),
per_doc AS (
  SELECT doc_id, source, count(*)::bigint AS n_tok, sum(lp_fp)::bigint AS nll_fp
  FROM toks JOIN vp USING (term) GROUP BY doc_id, source)
SELECT source, count(*)::bigint AS n_docs,
  sum(n_tok)::bigint AS total_tokens,
  sum(nll_fp)::bigint AS total_nll_fp,
  sum(CASE WHEN nll_fp > {_NLL_THRESH_FP} * n_tok THEN 1 ELSE 0 END)::bigint
    AS n_flagged
FROM per_doc GROUP BY source
"""

QUERIES["unigram_nll_by_source"] = unigram_nll_by_source
ORACLE_SQL["unigram_nll_by_source"] = UNIGRAM_NLL_SQL

# ---------------------------------------------------------------------------
# retention cohort matrix over events
# ---------------------------------------------------------------------------


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen day, distinct
    active users per (cohort_day, day_offset ≤ 6). First-seen is one hash
    agg on user_id; the join back is user-keyed (AQE broadcasts the
    cohort side while it fits); the cell counts are a distinct aggregate.
    All values integer/date-exact — no float boundary anywhere."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = e.join(first, "user_id").withColumn(
        "day_offset", F.datediff("day", "cohort_day")
    )
    return (
        j.filter(F.col("day_offset") <= 6)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


RETENTION_SQL = """
WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
j AS (
  SELECT e.user_id, f.cohort_day,
         datediff('day', f.cohort_day, e.day) AS day_offset
  FROM e JOIN f USING (user_id))
SELECT cohort_day, day_offset, count(DISTINCT user_id)::bigint AS n_users
FROM j WHERE day_offset <= 6 GROUP BY cohort_day, day_offset
"""

QUERIES["retention_cohorts"] = retention_cohorts
ORACLE_SQL["retention_cohorts"] = RETENTION_SQL

# ---------------------------------------------------------------------------
# deterministic training-shard assignment
# ---------------------------------------------------------------------------


def epoch_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (packing.epoch_order, 16 shards, epoch
    seed 3): per-shard doc counts, a position-weighted integer checksum
    pinning the exact permutation, and the first/last doc each shard's
    loader would see. Shard membership is seed-free (the partitioned
    export is written once; an epoch is just a new read order); the rank
    window partitions by shard — never a global sort."""
    from anomalydetection_spark.operators import packing

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ordered = packing.epoch_order(d, "doc_id", 16, seed=3)
    return ordered.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("pos") * F.pmod(F.col("doc_id") + 7, F.lit(1_000_003)))
        .cast("long")
        .alias("order_checksum"),
        F.min_by("doc_id", "pos").alias("first_doc"),
        F.max_by("doc_id", "pos").alias("last_doc"),
    )


EPOCH_ORDER_SQL = """
WITH sh AS (
  SELECT doc_id,
    ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint % 16 AS shard,
    ('0x' || substr(md5('3:' || cast(doc_id AS varchar)), 1, 15))::bigint AS ok
  FROM documents),
ordered AS (
  SELECT doc_id, shard,
         row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id) AS pos
  FROM sh)
SELECT shard, count(*)::bigint AS n_docs,
       sum(pos * ((doc_id + 7) % 1000003))::bigint AS order_checksum,
       min_by(doc_id, pos) AS first_doc,
       max_by(doc_id, pos) AS last_doc
FROM ordered GROUP BY shard
"""

QUERIES["epoch_order_stats"] = epoch_order_stats
ORACLE_SQL["epoch_order_stats"] = EPOCH_ORDER_SQL

# ---------------------------------------------------------------------------
# quality-aware duplicate-cluster canonicalization
# ---------------------------------------------------------------------------


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best canonicalization of near-dup clusters: MinHash-verified
    pairs → connected components → per cluster, keep the member with the
    highest deterministic quality score (ties → lowest id) instead of the
    lowest id — the survivor policy real curation pipelines want. The
    argmax is a struct-max hash agg (partial-aggregated, no window); the
    DuckDB twin re-derives components with a recursive CTE and ranks by
    (quality desc, id)."""
    from anomalydetection_spark.plans.driver_queries_dedup import _dup_corpus

    corpus = _dup_corpus(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(corpus, "doc_id", "text", threshold=0.5)
    comp = dedup.connected_components(pairs)
    q = textops.quality_score(corpus, "doc_id", "text").select("doc_id", "quality")
    return dedup.keep_best(comp, q, "doc_id", "quality")


def _keep_best_sql() -> str:
    from anomalydetection_spark.plans.driver_queries_dedup import _MINHASH_VP_CTES

    return (
        "WITH RECURSIVE "
        + _MINHASH_VP_CTES
        + r""",
sym AS (SELECT id_a AS src, id_b AS dst FROM vp
        UNION ALL SELECT id_b AS src, id_a AS dst FROM vp),
nodes AS (SELECT DISTINCT src AS node FROM sym),
reach(node, comp) AS (
  SELECT node, node AS comp FROM nodes
  UNION
  SELECT s.dst AS node, r.comp FROM reach r JOIN sym s ON s.src = r.node
),
components AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
qtok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM corpus),
qq AS (
  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_types,
    len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS n_stop
  FROM qtok),
scored AS (
  SELECT doc_id,
    round(0.4 * least(n_tokens / 64.0, 1.0)
        + 0.4 * (CASE WHEN n_tokens > 0 THEN cast(n_types AS double)/n_tokens ELSE 0 END)
        + 0.2 * (1.0 - (CASE WHEN n_tokens > 0 THEN cast(n_stop AS double)/n_tokens ELSE 0 END)),
      6) AS quality
  FROM qq),
ranked AS (
  SELECT c.comp AS cluster_id, c.node, s.quality,
    row_number() OVER (PARTITION BY c.comp ORDER BY s.quality DESC, c.node ASC) AS rk,
    count(*) OVER (PARTITION BY c.comp) AS n_members
  FROM components c JOIN scored s ON s.doc_id = c.node)
SELECT cluster_id, node AS keep_id, n_members::bigint AS n_members,
       quality AS best_score
FROM ranked WHERE rk = 1
"""
    )


QUERIES["dedup_keep_best_quality"] = dedup_keep_best_quality
ORACLE_SQL["dedup_keep_best_quality"] = _keep_best_sql()

# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------


def ppl_buckets_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing by per-doc nats/token vs the
    corpus mean: head ≤ 0.8×mean, tail > 1.2×mean. Every comparison is an
    integer one — per-doc and corpus mean NLL are fixed-point integer
    divisions (DIV), and the 0.8/1.2 factors become ×10 vs ×8/×12 cross
    multiplications — so no float ever sits on a bucket boundary. The
    corpus mean is one scalar agg broadcast via crossJoin (never a
    partition-less window)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = textops.unigram_logprob_scores(d, "doc_id", "text", keep_cols=["source"])
    tot = s.agg(F.sum("nll_fp").alias("tnll"), F.sum("n_tokens").alias("ttok"))
    j = s.filter(F.col("n_tokens") > 0).crossJoin(F.broadcast(tot))
    doc_mean = F.expr("nll_fp DIV n_tokens")
    corp_mean = F.expr("tnll DIV ttok")
    bucket = (
        F.when(doc_mean * 10 <= corp_mean * 8, F.lit("head"))
        .when(doc_mean * 10 > corp_mean * 12, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return j.groupBy("source", bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )


PPL_BUCKETS_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
    unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents),
vocab AS (SELECT term, count(*)::bigint AS cnt FROM toks GROUP BY term),
tot AS (SELECT sum(cnt)::bigint AS total FROM vocab),
vp AS (
  SELECT term,
    cast(round(-ln(cnt / total) * 1000000000.0, 0) AS bigint) AS lp_fp
  FROM vocab, tot),
per_doc AS (
  SELECT doc_id, source, count(*)::bigint AS n_tok, sum(lp_fp)::bigint AS nll_fp
  FROM toks JOIN vp USING (term) GROUP BY doc_id, source),
corp AS (SELECT sum(nll_fp)::bigint AS tnll, sum(n_tok)::bigint AS ttok FROM per_doc),
b AS (
  SELECT source,
    CASE WHEN (nll_fp // n_tok) * 10 <= (tnll // ttok) * 8 THEN 'head'
         WHEN (nll_fp // n_tok) * 10 > (tnll // ttok) * 12 THEN 'tail'
         ELSE 'middle' END AS bucket,
    n_tok
  FROM per_doc CROSS JOIN corp WHERE n_tok > 0)
SELECT source, bucket, count(*)::bigint AS n_docs, sum(n_tok)::bigint AS n_tokens
FROM b GROUP BY source, bucket
"""

QUERIES["ppl_buckets_by_source"] = ppl_buckets_by_source
ORACLE_SQL["ppl_buckets_by_source"] = PPL_BUCKETS_SQL


# ---------------------------------------------------------------------------
# Stupid-Backoff bigram LM scoring
# ---------------------------------------------------------------------------

# 5.0 nats/token in fixed-point units — flag ⇔ nll_fp > THRESH·n_tokens,
# a pure bigint predicate (the unigram threshold contract)
_BIGRAM_THRESH_FP = 5_000_000_000


def bigram_nll_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 perplexity filtering (textops.bigram_logprob_scores,
    Stupid Backoff α=0.4): train on the documents corpus, score a variant
    whose every 7th doc has its token ORDER reversed — unigram-identical
    but bigram-novel, so reversed docs light up the backoff path and the
    NLL flag while in-order docs stay cheap. Per-source accounting with
    exact fixed-point sums and a bigint flag predicate."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    rev = F.array_join(F.reverse(toks), " ")
    score = d.select(
        "doc_id",
        "source",
        F.when(F.col("n_chars") % 7 == 0, rev).otherwise(F.col("text")).alias("text"),
    )
    scored = textops.bigram_logprob_scores(
        d, score, "doc_id", "text", keep_cols=["source"]
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_backoff").cast("long").alias("n_backoff"),
        F.sum("nll_fp").cast("long").alias("nll_fp_total"),
        F.sum(
            F.when(
                F.col("nll_fp") > F.lit(_BIGRAM_THRESH_FP) * F.col("n_tokens"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_flagged"),
    )


BIGRAM_NLL_SQL = r"""
WITH tr AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
uni AS (
  SELECT term, count(*)::bigint AS c1
  FROM (SELECT unnest(toks) AS term FROM tr) GROUP BY 1),
tot AS (SELECT sum(c1)::bigint AS n FROM uni),
bi AS (
  SELECT prev, cur, count(*)::bigint AS c2
  FROM (SELECT toks[i] AS prev, toks[i + 1] AS cur
        FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM tr WHERE len(toks) >= 2))
  GROUP BY 1, 2),
sc AS (
  SELECT doc_id, source,
    CASE WHEN n_chars % 7 = 0
      THEN array_to_string(list_reverse(string_split_regex(trim(text), '\s+')), ' ')
      ELSE text END AS text
  FROM documents),
st AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM sc),
first AS (
  SELECT doc_id, source,
    cast(round(ln(cast(t.n AS double) / cast(coalesce(u.c1, 1) AS double))
               * 1000000000.0, 0) AS bigint) AS lp,
    0 AS backoff
  FROM st CROSS JOIN tot t
  LEFT JOIN uni u ON u.term = st.toks[1]
  WHERE st.toks[1] IS NOT NULL AND st.toks[1] <> ''),
rest AS (
  SELECT p.doc_id, p.source,
    CASE WHEN b.c2 IS NOT NULL
      THEN cast(round(ln(cast(up.c1 AS double) / cast(b.c2 AS double))
                      * 1000000000.0, 0) AS bigint)
      ELSE 916290732
           + cast(round(ln(cast(t.n AS double) / cast(coalesce(uc.c1, 1) AS double))
                        * 1000000000.0, 0) AS bigint)
    END AS lp,
    CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END AS backoff
  FROM (SELECT doc_id, source, toks[i] AS prev, toks[i + 1] AS cur
        FROM (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM st WHERE len(toks) >= 2)) p
  CROSS JOIN tot t
  LEFT JOIN bi b ON b.prev = p.prev AND b.cur = p.cur
  LEFT JOIN uni up ON up.term = p.prev
  LEFT JOIN uni uc ON uc.term = p.cur),
per_doc AS (
  SELECT doc_id, source, count(*)::bigint AS n_tokens,
         sum(backoff)::bigint AS n_backoff, sum(lp)::bigint AS nll_fp
  FROM (SELECT * FROM first UNION ALL SELECT * FROM rest) GROUP BY 1, 2)
SELECT source, count(*)::bigint AS n_docs,
  sum(n_tokens)::bigint AS n_tokens,
  sum(n_backoff)::bigint AS n_backoff,
  sum(nll_fp)::bigint AS nll_fp_total,
  sum(CASE WHEN nll_fp > 5000000000 * n_tokens THEN 1 ELSE 0 END)::bigint AS n_flagged
FROM per_doc GROUP BY source
"""

QUERIES["bigram_nll_by_source"] = bigram_nll_by_source
ORACLE_SQL["bigram_nll_by_source"] = BIGRAM_NLL_SQL
