r"""Driver-contract queries, batch 2: dedup / similarity / text analysis.

Near-dup queries run over a *derived corpus with injected duplicates*
(documents ∪ shifted copies of every 7th doc) because the fixture corpus
has no exact duplicates — the injection is plain relational algebra so the
DuckDB oracle reproduces it exactly.

Portable primitives shared with the engine operators (operators/dedup.py):
60-bit md5-derived hashes, minhash with fixed (a,b) families mod 2^31-1,
banded LSH keys as md5 of signature slices, 32-bit simhash, exact Jaccard
from integer overlap counts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomalydetection_spark.functions.detquant import det_round6 as _det_round6_col
from anomalydetection_spark.operators import dedup, similarity, textops

# SQL prefix shared by text-dedup oracles: the dup-injected corpus + shingles
_CORPUS_CTE = r"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(CASE WHEN len(t) >= 3
      THEN list_transform(generate_series(1, len(t)-2), i -> t[i]||' '||t[i+1]||' '||t[i+2])
      ELSE [] END) AS shingle
    FROM tok)
)
"""


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    extra = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return d.unionByName(extra)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified ≥ 0.5."""
    return dedup.minhash_dedup_pairs(
        _dup_corpus(spark, sf_dir), "doc_id", "text", threshold=0.5
    )


# minhash pipeline CTEs up to verified pairs — shared by the pair query
# and the connected-components canonicalization oracle
_MINHASH_VP_CTES = (
    _CORPUS_CTE
    + r""",
h AS (SELECT doc_id, ('0x'||substr(md5(shingle),1,15))::bigint % 2147483647 AS h FROM sh),
sig AS (SELECT doc_id,
  min((131*h+7) % 2147483647) AS m0, min((137*h+11) % 2147483647) AS m1,
  min((139*h+13) % 2147483647) AS m2, min((149*h+17) % 2147483647) AS m3,
  min((151*h+19) % 2147483647) AS m4, min((157*h+23) % 2147483647) AS m5,
  min((163*h+29) % 2147483647) AS m6, min((167*h+31) % 2147483647) AS m7
  FROM h GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0::varchar||'_'||m1::varchar) AS band_key FROM sig
  UNION ALL SELECT doc_id, 1, md5(m2::varchar||'_'||m3::varchar) FROM sig
  UNION ALL SELECT doc_id, 2, md5(m4::varchar||'_'||m5::varchar) FROM sig
  UNION ALL SELECT doc_id, 3, md5(m6::varchar||'_'||m7::varchar) FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS ic
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b),
vp AS (SELECT i.id_a, i.id_b,
       round(cast(ic AS double)/(za.sz + zb.sz - ic), 6) AS jaccard
  FROM inter i JOIN sz za ON za.doc_id = i.id_a JOIN sz zb ON zb.doc_id = i.id_b
  WHERE cast(ic AS double)/(za.sz + zb.sz - ic) >= 0.5)
"""
)

DEDUP_MINHASH_SQL = "WITH " + _MINHASH_VP_CTES + "SELECT id_a, id_b, jaccard FROM vp"


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit majority signature, Manku
    block-combination banding, hamming ≤ 3 verified via bit_count(xor).
    (The oracle keeps the simpler 4×8-bit banding: every returned pair is
    hamming-verified, so the result set is identical under either
    blocking.)"""
    return dedup.simhash_near_pairs(_dup_corpus(spark, sf_dir), "doc_id", "text")


DEDUP_SIMHASH_SQL = (
    "WITH " + _CORPUS_CTE + r""",
h AS (SELECT doc_id, ('0x'||substr(md5(shingle),1,15))::bigint AS h FROM sh),
bits AS (
  SELECT doc_id, j, ((h >> j) & 1) * 2 - 1 AS sgn
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) js),
bitsum AS (SELECT doc_id, j, sum(sgn) AS s FROM bits GROUP BY doc_id, j),
sig AS (SELECT doc_id,
  cast(sum(CASE WHEN s > 0 THEN (1::bigint << j) ELSE 0 END) AS bigint) AS simhash
  FROM bitsum GROUP BY doc_id),
bands AS (
  SELECT doc_id, simhash, b AS band, (simhash >> (b*8)) & 255 AS band_key
  FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b) bs),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.simhash AS sig_a, b.simhash AS sig_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, cast(bit_count(xor(sig_a, sig_b)) AS int) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""
)


NGRAM_DF_CAP = 50


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard with frequency-capped shingle blocking:
    candidates share ≥1 rare shingle (doc frequency ≤ 50 — a hot
    stop-shingle is quadratic in its popularity), Jaccard verified over
    ALL shingles against threshold 0.35."""
    return dedup.ngram_jaccard_pairs(
        _dup_corpus(spark, sf_dir), "doc_id", "text", threshold=0.35, k=3,
        df_cap=NGRAM_DF_CAP,
    )


DEDUP_NGRAM_SQL = (
    "WITH " + _CORPUS_CTE + rf""",
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {NGRAM_DF_CAP}),
cand AS (
  SELECT DISTINCT sa.doc_id AS id_a, sb.doc_id AS id_b
  FROM sh sa JOIN rare r ON r.shingle = sa.shingle
  JOIN sh sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS ic
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
SELECT i.id_a, i.id_b,
       round(cast(ic AS double)/(za.sz + zb.sz - ic), 6) AS jaccard
FROM inter i JOIN sz za ON za.doc_id = i.id_a JOIN sz zb ON zb.doc_id = i.id_b
WHERE cast(ic AS double)/(za.sz + zb.sz - ic) >= 0.35
"""
)


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5: query set broadcast over the corpus,
    JVM higher-order dot products, rank on pre-rounded cosine."""
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = em.filter(F.col("vec_id") < 10)
    corpus = em.filter(F.col("vec_id") >= 10)
    return similarity.brute_force_topk(corpus, queries, "vec_id", "embedding", k=5)


ANN_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
scored AS (
  SELECT query_id, neighbor_id,
    round(
      list_sum(list_transform(generate_series(1, len(qv)),
                              i -> cast(qv[i] AS double) * cast(cv[i] AS double)))
      / (sqrt(list_sum(list_transform(qv, x -> cast(x AS double) * cast(x AS double))))
       * sqrt(list_sum(list_transform(cv, x -> cast(x AS double) * cast(x AS double))))),
      6) AS cos
  FROM q CROSS JOIN c)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM scored)
WHERE rk <= 5
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs over a dup-injected corpus: SRP vector-LSH
    band blocking (the default — the fixture is unit-normalized, so any
    norm-derived scalar key degenerates to one O(n²) block) then exact
    cosine ≥ 0.999 verification."""
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    extra = em.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = em.unionByName(extra)
    return similarity.norm_blocked_near_pairs(
        corpus, "vec_id", "embedding", threshold=0.999
    ).select("id_a", "id_b", "cos")


def _srp_matrix_literal(dim: int, n_bits: int) -> str:
    """The engine's deterministic ±1 hyperplane matrix as a DuckDB nested
    list literal — oracle and engine share one md5-derived matrix."""
    m = similarity.srp_sign_matrix(dim, n_bits)
    return "[" + ",".join("[" + ",".join(str(v) for v in row) + "]" for row in m) + "]"


_SRP_BANDS, _SRP_BITS, _SRP_DIM = 8, 12, 64

DEDUP_EMB_SQL = f"""
WITH ecorpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 11 = 0
),
pm AS (SELECT {_srp_matrix_literal(_SRP_DIM, _SRP_BANDS * _SRP_BITS)} AS m),
sig AS (
  SELECT vec_id,
    list_transform(generate_series(0, {_SRP_BANDS * _SRP_BITS - 1}), j ->
      CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i ->
        cast(floor(cast(embedding[i] AS double) * 1000000) AS bigint) * m[j+1][i])) >= 0
      THEN 1 ELSE 0 END) AS bits
  FROM ecorpus, pm),
bands AS (
  SELECT vec_id, band,
    list_sum(list_transform(generate_series(1, {_SRP_BITS}), t ->
      cast(bits[band*{_SRP_BITS} + t] AS bigint) * (cast(1 AS bigint) << (t-1)))) AS band_val
  FROM (SELECT vec_id, bits, unnest(generate_series(0, {_SRP_BANDS - 1})) AS band FROM sig)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
scored AS (
  SELECT id_a, id_b,
    round(
      list_sum(list_transform(generate_series(1, len(ea.embedding)),
                              i -> cast(ea.embedding[i] AS double) * cast(eb.embedding[i] AS double)))
      / (sqrt(list_sum(list_transform(ea.embedding, x -> cast(x AS double) * cast(x AS double))))
       * sqrt(list_sum(list_transform(eb.embedding, x -> cast(x AS double) * cast(x AS double))))),
      6) AS cos
  FROM cand JOIN ecorpus ea ON ea.vec_id = cand.id_a
            JOIN ecorpus eb ON eb.vec_id = cand.id_b)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.999
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN (similarity.ivf_topk): coarse-quantize the corpus to
    8 fixed centroid cells, each query probes its 2 nearest cells
    (nprobe=2) — the scale path next to the brute-force baseline
    (`ann_cosine_topk`). Fixed deterministic centroids keep the DuckDB
    twin exact; `similarity.kmeans_fit` trains real centroids (recall
    measured in tests/test_similarity_recall.py)."""
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = em.filter(F.col("vec_id") < 8)
    corpus = em.filter(F.col("vec_id") >= 10)
    queries = em.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    return similarity.ivf_topk(
        corpus, queries, centroids, "vec_id", "embedding", k=5, nprobe=2
    )


ANN_IVF_SQL = """
WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT c.vec_id, ct.cid AS cell,
      row_number() OVER (
        PARTITION BY c.vec_id
        ORDER BY round(list_sum(list_transform(generate_series(1, len(c.embedding)),
            i -> (cast(c.embedding[i] AS double) - cast(ct.cv[i] AS double))
               * (cast(c.embedding[i] AS double) - cast(ct.cv[i] AS double)))), 6),
          ct.cid) AS rn
    FROM corp c CROSS JOIN cents ct)
  WHERE rn = 1),
q_assigned AS (
  SELECT vec_id, cell FROM (
    SELECT c.vec_id, ct.cid AS cell,
      row_number() OVER (
        PARTITION BY c.vec_id
        ORDER BY round(list_sum(list_transform(generate_series(1, len(c.embedding)),
            i -> (cast(c.embedding[i] AS double) - cast(ct.cv[i] AS double))
               * (cast(c.embedding[i] AS double) - cast(ct.cv[i] AS double)))), 6),
          ct.cid) AS rn
    FROM corp c CROSS JOIN cents ct
    WHERE c.vec_id BETWEEN 100 AND 109)
  WHERE rn <= 2),
q AS (SELECT c.vec_id AS query_id, c.embedding AS qv, a.cell
      FROM corp c JOIN q_assigned a ON a.vec_id = c.vec_id
      WHERE c.vec_id BETWEEN 100 AND 109),
c2 AS (SELECT c.vec_id AS neighbor_id, c.embedding AS cv, a.cell
       FROM corp c JOIN assigned a ON a.vec_id = c.vec_id),
scored AS (
  SELECT q.query_id, c2.neighbor_id,
    round(
      list_sum(list_transform(generate_series(1, len(q.qv)),
                              i -> cast(q.qv[i] AS double) * cast(c2.cv[i] AS double)))
      / (sqrt(list_sum(list_transform(q.qv, x -> cast(x AS double) * cast(x AS double))))
       * sqrt(list_sum(list_transform(c2.cv, x -> cast(x AS double) * cast(x AS double))))),
      6) AS cos
  FROM q JOIN c2 ON q.cell = c2.cell)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM scored)
WHERE rk <= 5
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-vote language ID vs the labeled lang column → confusion counts."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pred = textops.language_id(d, "doc_id", "text")
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


_MARKER_FILTERS = {
    "de": "('der','die','das','und','ist')",
    "en": "('the','a','of','and','is')",
    "es": "('el','la','de','los','es')",
    "fr": "('le','la','les','et','est')",
    "zh": "('的','是','了','在','我')",
}
_G = "greatest(s_de, s_en, s_es, s_fr, s_zh)"
LANG_ID_SQL = (
    r"""
WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents),
s AS (SELECT doc_id, lang,
"""
    + ",\n".join(
        f"  len(list_filter(toks, x -> x IN {flt})) AS s_{lang}"
        for lang, flt in sorted(_MARKER_FILTERS.items())
    )
    + f"""
  FROM t),
p AS (SELECT lang,
  CASE WHEN {_G} = 0 THEN 'und'
"""
    + "\n".join(
        f"       WHEN s_{lang} = {_G} THEN '{lang}'" for lang in sorted(_MARKER_FILTERS)
    )
    + """
       ELSE 'und' END AS predicted_lang
  FROM s)
SELECT lang, predicted_lang, count(*) AS n FROM p GROUP BY 1, 2
"""
)


def quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus quality rollup from per-doc composite scores
    (exact decimal sums of the pre-rounded per-doc values)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = textops.quality_score(d, "doc_id", "text")
    joined = d.select("doc_id", "source").join(q, "doc_id")
    n = F.count("*")
    return joined.groupBy("source").agg(
        n.alias("n_docs"),
        F.round(F.sum(F.col("quality").cast("decimal(12,6)")).cast("double") / n, 6).alias(
            "avg_quality"
        ),
        F.round(F.sum(F.col("diversity").cast("decimal(12,6)")).cast("double") / n, 6).alias(
            "avg_diversity"
        ),
    )


QUALITY_SQL = r"""
WITH t AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks, length(text) AS len
  FROM documents),
q AS (
  SELECT doc_id, source,
    len(toks) AS n_tokens,
    len(list_distinct(toks)) AS n_types,
    len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS n_stop
  FROM t),
scored AS (
  SELECT source,
    round(0.4 * least(n_tokens / 64.0, 1.0)
        + 0.4 * (CASE WHEN n_tokens > 0 THEN cast(n_types AS double)/n_tokens ELSE 0 END)
        + 0.2 * (1.0 - (CASE WHEN n_tokens > 0 THEN cast(n_stop AS double)/n_tokens ELSE 0 END)),
      6) AS quality,
    round(CASE WHEN n_tokens > 0 THEN cast(n_types AS double)/n_tokens ELSE 0 END, 6) AS diversity
  FROM q)
SELECT source, count(*) AS n_docs,
  round(cast(sum(cast(quality AS decimal(12,6))) AS double) / count(*), 6) AS avg_quality,
  round(cast(sum(cast(diversity AS decimal(12,6))) AS double) / count(*), 6) AS avg_diversity
FROM scored GROUP BY source
"""


def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-shingle-hash content fingerprint per doc."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textops.fingerprint(d, "doc_id", "text")


FINGERPRINT_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents)
SELECT doc_id,
  CASE WHEN len(tk) >= 3 THEN
    list_min(list_transform(generate_series(1, len(tk)-2),
      i -> ('0x'||substr(md5(tk[i]||' '||tk[i+1]||' '||tk[i+2]),1,15))::bigint))
  ELSE NULL END AS fingerprint
FROM t
"""


def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload decode plumbing (operators/multimodal.py): text bytes
    as opaque payloads → Arrow-batched mapInPandas decode stub → per-source
    byte/checksum accounting. The stub is pure byte arithmetic, so the
    oracle reproduces it in SQL (ascii sums over the same ASCII corpus)."""
    from anomalydetection_spark.operators import multimodal

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payloads = d.select("doc_id", "source", F.encode("text", "utf-8").alias("content"))
    decoded = multimodal.decode_media(payloads, "doc_id", "content")
    return (
        payloads.select("doc_id", "source")
        .join(decoded, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("checksum").alias("sum_checksum"),
        )
    )


MULTIMODAL_SQL = """
WITH decoded AS (
  SELECT doc_id, source, length(text) AS n_bytes,
    cast(list_sum(list_transform(generate_series(1, length(text)),
         i -> ascii(substr(text, i, 1)))) % 997 AS bigint) AS checksum
  FROM documents)
SELECT source, count(*) AS n_media,
       cast(sum(n_bytes) AS bigint) AS total_bytes,
       cast(sum(checksum) AS bigint) AS sum_checksum
FROM decoded GROUP BY source
"""


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword counting per lang (textops.subword_stats): greedy
    fixed-width regex chunks — whitespace tokenization's scale-stable
    sibling for corpus token accounting."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textops.subword_stats(d, "lang", "text")


TOKEN_BPE_SQL = r"""
SELECT lang,
       count(*) AS n_subwords,
       count(DISTINCT tok) AS n_distinct_subwords
FROM (
  SELECT lang,
         unnest(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS tok
  FROM documents)
GROUP BY lang
"""


def tdigest_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest sketch quantiles per event_type (operators/
    tdigest.py, U5 partial/final via mapInPandas + applyInPandas).
    Approximate by design → no SQL oracle (driver records rows-only)."""
    from anomalydetection_spark.operators.tdigest import group_quantiles

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = group_quantiles(e, "value", ["event_type"], [0.5, 0.95])
    return q.select(
        "event_type",
        F.round("q_50", 3).alias("q_50"),
        F.round("q_95", 3).alias("q_95"),
    )


def tdigest_bounds_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact invariants of the t-digest sketch pipeline: per-event_type
    count and min/max travel through mapInPandas partials → applyInPandas
    merge → extract untouched, so THIS query hash-matches plain SQL while
    the quantiles query stays rows-only (approximate by design)."""
    from anomalydetection_spark.operators.tdigest import group_bounds

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = group_bounds(e, "value", ["event_type"])
    return b.select(
        "event_type",
        "n",
        F.round("vmin", 3).alias("vmin"),
        F.round("vmax", 3).alias("vmax"),
    )


TDIGEST_BOUNDS_SQL = """
SELECT event_type, cast(count(value) AS bigint) AS n,
       round(min(cast(value AS double)), 3) AS vmin,
       round(max(cast(value AS double)), 3) AS vmax
FROM events GROUP BY event_type
"""


def pandas_udf_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas doing the tokenize-count work in pandas
    (U1's batch shape with integer-exact outputs, so the SQL oracle matches
    bit-for-bit — the cross-engine-checkable face of the Python UDF layer)."""
    from collections.abc import Iterator

    import pandas as pd

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("source", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = pdf["text"].fillna("").str.strip().str.split()
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "n_tokens": toks.str.len().astype("int64"),
                    "n_chars": pdf["text"].fillna("").str.len().astype("int64"),
                }
            )

    per_doc = d.mapInPandas(run, "source string, n_tokens long, n_chars long")
    return per_doc.groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.max("n_tokens").alias("max_tokens"),
    )


PANDAS_TOKEN_SQL = r"""
SELECT source,
  cast(sum(len(string_split_regex(trim(text), '\s+'))) AS bigint) AS total_tokens,
  cast(sum(length(text)) AS bigint) AS total_chars,
  cast(max(len(string_split_regex(trim(text), '\s+'))) AS bigint) AS max_tokens
FROM documents GROUP BY source
"""


def above_brand_avg_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape, decorrelated: count lineitems priced
    above their part brand's average price. The brand average uses exact
    decimal sums so the comparison boundary is engine-identical."""
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    lp = l.join(F.broadcast(p.select("p_partkey", "p_brand")), l["l_partkey"] == p["p_partkey"])
    brand_avg = lp.groupBy("p_brand").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / F.count("*")).alias("avg_price")
    )
    return (
        lp.join(F.broadcast(brand_avg), "p_brand")
        .filter(F.col("l_extendedprice") > F.col("avg_price"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_above_avg"))
    )


ABOVE_AVG_SQL = """
WITH lp AS (
  SELECT p.p_brand, l.l_extendedprice
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
ba AS (
  SELECT p_brand,
         cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) / count(*) AS avg_price
  FROM lp GROUP BY p_brand)
SELECT lp.p_brand, count(*) AS n_above_avg
FROM lp JOIN ba ON ba.p_brand = lp.p_brand
WHERE lp.l_extendedprice > ba.avg_price
GROUP BY lp.p_brand
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation COMPOSITION: quality filter →
    language filter → exact dedup (min-doc_id keeper per text hash) →
    per-source rollup, as ONE Catalyst plan. Each stage is an operator
    already hash-verified on its own (`quality_by_source`,
    `lang_id_confusion`, `dedup_exact`); this query pins that their
    composition stays correct AND fused — the quality/lang columns ride
    the same scan, the dedup is one hash aggregate, and the rollup
    map-side combines. The reference's analog is the eager stage chain
    (end_to_end_prediction.py:618-667) writing a file between stages;
    here stage boundaries exist only where shuffles genuinely are."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source", "text")
    extra = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "source", "text"
    )
    corpus = d.unionByName(extra)
    q = textops.quality_score(corpus, "doc_id", "text").select("doc_id", "quality")
    lang = textops.language_id(corpus, "doc_id", "text").select("doc_id", "predicted_lang")
    kept = (
        corpus.join(q, "doc_id")
        .join(lang, "doc_id")
        .filter((F.col("quality") >= 0.5) & (F.col("predicted_lang") == "en"))
        .select(
            "doc_id",
            "source",
            "quality",
            F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"),
        )
    )
    keepers = kept.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
    survivors = kept.join(keepers, ["text_hash", "doc_id"])
    cand = kept.groupBy("source").agg(F.count("*").alias("n_candidates"))
    n = F.count("*")
    return (
        survivors.groupBy("source")
        .agg(
            n.alias("n_kept"),
            F.round(
                F.sum(F.col("quality").cast("decimal(12,6)")).cast("double") / n, 6
            ).alias("avg_quality"),
        )
        .join(cand, "source")
        .select("source", "n_candidates", "n_kept", "avg_quality")
    )


_CURATION_G = "greatest(s_de, s_en, s_es, s_fr, s_zh)"
CURATION_SQL = (
    r"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, text FROM documents WHERE doc_id % 7 = 0),
t AS (SELECT doc_id, source, text, string_split_regex(trim(text), '\s+') AS toks FROM corpus),
q AS (SELECT doc_id, source, text,
        len(toks) AS n_tokens, len(list_distinct(toks)) AS n_types,
        len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS n_stop,
"""
    + ",\n".join(
        f"        len(list_filter(toks, x -> x IN {flt})) AS s_{lang}"
        for lang, flt in sorted(_MARKER_FILTERS.items())
    )
    + f"""
      FROM t),
scored AS (SELECT doc_id, source, text,
   round(0.4 * least(n_tokens / 64.0, 1.0)
       + 0.4 * (CASE WHEN n_tokens > 0 THEN cast(n_types AS double)/n_tokens ELSE 0 END)
       + 0.2 * (1.0 - (CASE WHEN n_tokens > 0 THEN cast(n_stop AS double)/n_tokens ELSE 0 END)),
     6) AS quality,
   CASE WHEN {_CURATION_G} = 0 THEN 'und'
"""
    + "\n".join(
        f"        WHEN s_{lang} = {_CURATION_G} THEN '{lang}'"
        for lang in sorted(_MARKER_FILTERS)
    )
    + """
        ELSE 'und' END AS predicted_lang
   FROM q),
kept AS (SELECT doc_id, source, quality, md5(lower(trim(text))) AS text_hash
         FROM scored WHERE quality >= 0.5 AND predicted_lang = 'en'),
keepers AS (SELECT text_hash, min(doc_id) AS doc_id FROM kept GROUP BY 1),
surv AS (SELECT k.* FROM kept k JOIN keepers USING (text_hash, doc_id)),
cand AS (SELECT source, count(*) AS n_candidates FROM kept GROUP BY 1)
SELECT s.source, c.n_candidates, count(*) AS n_kept,
   round(cast(sum(cast(s.quality AS decimal(12,6))) AS double) / count(*), 6) AS avg_quality
FROM surv s JOIN cand c USING (source)
GROUP BY s.source, c.n_candidates
"""
)


def pca_anomaly_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA reconstruction-error anomaly scoring (operators/
    pca.py): one-pass moment partials → driver eigh → map-only scoring →
    exact-q95 threshold verdicts — the reference's fit/score/threshold
    pipeline (end_to_end_prediction.py:433-461) with PCA standing in for
    the learned encoder. Partial DuckDB oracle (the SRP-literal pattern):
    the eigensolve itself is not SQL-expressible (NumPy agreement is
    pytest-gated, tests/test_pca.py), so the twin fits a single-node
    NumPy model over the same sf0.01 parquet at oracle-build time, embeds
    (μ, V) as literals, and re-derives scoring + q95 threshold + verdict
    counts entirely in SQL — hash-checking everything downstream of the
    eigen step."""
    from anomalydetection_spark.operators import pca

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pca.fit_pca(e, "embedding", k=8)
    scores = pca.reconstruction_scores(e, "vec_id", "embedding", model)
    verdicts = pca.anomaly_verdicts(scores, "vec_id", q=0.95)
    labeled = verdicts.join(e.select("vec_id", "label"), "vec_id")
    return labeled.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
        # exact integer average of the 1e-6-grid scores: per-row round-6
        # scores are nearest-int recoverable (floor(x*1e6+0.5)), the bigint
        # sum is exact, ONE division + det_round6 — no order-dependent float
        # sum on the hash boundary (a near-midpoint avg here went within
        # 1e-9 of the old round-4 cliff)
        _det_round6_col(
            F.sum(F.floor(F.col("score") * F.lit(1000000.0) + F.lit(0.5)).cast("long"))
            .cast("double")
            / (F.count("*") * F.lit(1000000.0))
        ).alias("avg_score"),
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (similarity.pq_topk): deterministic per-subspace
    Lloyd codebooks, one-pass corpus encoding to m-byte codes, ADC candidate
    scoring against per-query LUTs, exact-cosine rerank of the top
    k·rerank_factor — the compressed-domain scale path beside brute-force
    and IVF. Same query/corpus split as ann_cosine_topk."""
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = em.filter(F.col("vec_id") < 10)
    corpus = em.filter(F.col("vec_id") >= 10)
    return similarity.pq_topk(corpus, queries, "vec_id", "embedding", k=5)


# ---------------------------------------------------------------------------
# Model-literal oracles (PCA + PQ)
#
# Both models are data-dependent, so their DuckDB twins are BUILT at
# oracle-registration time against the driver's fixed oracle scale
# (sf0.01): a single-node NumPy twin of the fit runs over the same
# parquet the DuckDB views read, and the fitted model is embedded in the
# SQL as nested-list literals (the dedup_embedding_cosine SRP pattern).
# The fit itself stays pytest-gated (test_pca.py subspace match,
# test_similarity_recall PQ determinism + recall floor); the twin
# hash-checks everything downstream of it — encode/score/threshold/
# verdict/rank — which is where the distributed execution lives.
# ---------------------------------------------------------------------------

_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _mat_literal(m) -> str:
    import numpy as np  # noqa: F401  (repr of np.float64 round-trips)

    if getattr(m, "ndim", 1) == 1:
        return "[" + ",".join(repr(float(v)) for v in m) + "]"
    return "[" + ",".join(_mat_literal(row) for row in m) + "]"


def _pca_oracle_sql(sf_dir: str = _ORACLE_SF_DIR, k: int = 8) -> str:
    """Single-node twin of operators/pca.fit_pca over the oracle-scale
    parquet; returns SQL re-deriving pca_anomaly_by_label's rows from the
    embedded (μ, V) literals. Scores use ||r||² − Σⱼ(Vⱼ·r)², identical to
    the explicit-residual norm for orthonormal V up to ~1e-15, absorbed by
    the engine's round-to-6 scoring contract (operators/pca.py)."""
    import numpy as np
    import pyarrow.parquet as pq

    X = np.stack(
        pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
        .column("embedding")
        .to_pylist()
    ).astype(np.float64)
    n, d = X.shape
    mean = X.sum(axis=0) / n
    cov = (X.T @ X) / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return f"""
WITH mu AS (SELECT {_mat_literal(mean)} AS m),
vv AS (SELECT {_mat_literal(comps)} AS v),
r AS (
  SELECT vec_id, label,
    list_transform(generate_series(1, {d}), i -> cast(embedding[i] AS double) - m[i]) AS x
  FROM embeddings, mu),
s AS (
  SELECT vec_id, label,
    round(sqrt(greatest(
      list_sum(list_transform(x, e -> e * e))
      - list_sum(list_transform(generate_series(1, {k}), j ->
          power(list_sum(list_transform(generate_series(1, {d}), i -> x[i] * v[j][i])), 2))),
      0)), 6) AS score
  FROM r, vv),
thr AS (SELECT quantile_cont(score, 0.95) AS t FROM s)
SELECT label, count(*) AS n,
  cast(sum(CASE WHEN score > t THEN 1 ELSE 0 END) AS bigint) AS n_anomalies,
  (CAST(floor((cast(sum(cast(floor(score * 1000000.0 + 0.5) AS BIGINT)) AS double)
     / (count(*) * 1000000.0)) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0) AS avg_score
FROM s, thr
GROUP BY label
"""


def _pq_oracle_sql(
    sf_dir: str = _ORACLE_SF_DIR,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank_factor: int = 4,
) -> str:
    """Single-node twin of similarity.pq_train_codebooks over the oracle
    corpus (vec_id ≥ 10, md5-ordered sample — the engine's training path is
    itself driver-side NumPy, so the codebooks are bit-identical), with
    encode → ADC → exact-cosine rerank re-derived in SQL from the codebook
    literal."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(tbl.column("vec_id").to_pylist())
    vecs = np.stack(tbl.column("embedding").to_pylist()).astype(np.float64)
    mask = ids >= 10
    ids, vecs = ids[mask], vecs[mask]
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(int(ids[i])).encode()).hexdigest(), int(ids[i])),
    )[:1024]
    V = vecs[order]
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    d = V.shape[1]
    dsub = d // m
    books = np.zeros((m, ksub, dsub))
    for s in range(m):
        X = V[:, s * dsub : (s + 1) * dsub]
        seen: list[tuple] = []
        for row in X:
            t = tuple(np.round(row, 12))
            if t not in seen:
                seen.append(t)
            if len(seen) == ksub:
                break
        C = np.array(seen, dtype=np.float64)
        if C.shape[0] < ksub:
            C = np.vstack([C] * (ksub // max(1, C.shape[0]) + 1))[:ksub]
        for _ in range(8):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                msk = assign == c
                if msk.any():
                    C[c] = X[msk].mean(axis=0)
        books[s] = C
    n_keep = k * rerank_factor
    dist = (
        f"list_transform(generate_series(1, {ksub}), t -> "
        f"list_sum(list_transform(generate_series(1, {dsub}), i -> "
        f"power(v[s * {dsub} + i] - b[s + 1][t][i], 2))))"
    )
    return f"""
WITH bk AS (SELECT {_mat_literal(books)} AS b),
cn AS (
  SELECT vec_id,
    list_transform(embedding, x -> cast(x AS double) /
      sqrt(list_sum(list_transform(embedding, y -> cast(y AS double) * cast(y AS double))))) AS v
  FROM embeddings WHERE vec_id >= 10),
qn AS (
  SELECT vec_id,
    list_transform(embedding, x -> cast(x AS double) /
      sqrt(list_sum(list_transform(embedding, y -> cast(y AS double) * cast(y AS double))))) AS v
  FROM embeddings WHERE vec_id < 10),
codes AS (
  SELECT vec_id,
    list_transform(generate_series(0, {m - 1}), s ->
      list_position({dist}, list_min({dist})) - 1) AS cd
  FROM cn, bk),
adc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(list_sum(list_transform(generate_series(0, {m - 1}), s ->
      list_sum(list_transform(generate_series(1, {dsub}), i ->
        power(q.v[s * {dsub} + i] - b[s + 1][c.cd[s + 1] + 1][i], 2))))), 6) AS adc
  FROM qn q, codes c, bk),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adc ASC, neighbor_id ASC) AS ark
    FROM adc)
  WHERE ark <= {n_keep}),
scored AS (
  SELECT query_id, neighbor_id,
    round(
      list_sum(list_transform(generate_series(1, len(qe.embedding)),
                              i -> cast(qe.embedding[i] AS double) * cast(ce.embedding[i] AS double)))
      / (sqrt(list_sum(list_transform(qe.embedding, x -> cast(x AS double) * cast(x AS double))))
       * sqrt(list_sum(list_transform(ce.embedding, x -> cast(x AS double) * cast(x AS double))))),
      6) AS cos
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM scored)
WHERE rk <= {k}
"""


def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (textops.decontaminate): training docs
    sharing 5-gram shingles with the 'eval set' (docs with doc_id % 13 = 0
    standing in for a held-out benchmark) — the n-gram-overlap
    decontamination LLM training sets run before every release. Benchmark
    shingles broadcast; corpus streams once (semi-join + hash-agg)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 13 == 0)
    train = d.filter(F.col("doc_id") % 13 != 0)
    return textops.decontaminate(train, bench, "doc_id", "text", k=5, max_ratio=0.05)


DECONTAMINATE_SQL = r"""
WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(CASE WHEN len(t) >= 5
      THEN list_transform(generate_series(1, len(t)-4),
           i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])
      ELSE [] END) AS shingle
    FROM tok)),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 13 = 0),
train AS (SELECT * FROM sh WHERE doc_id % 13 <> 0),
m AS (
  SELECT doc_id, count(*) AS n_matched FROM train
  WHERE shingle IN (SELECT shingle FROM bench) GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id)
SELECT m.doc_id, n_matched, n_shingles,
  round(n_matched / cast(n_shingles AS double), 6) AS contamination_ratio,
  (n_matched / cast(n_shingles AS double)) > 0.05 AS contaminated
FROM m JOIN tot ON m.doc_id = tot.doc_id
"""


def repetition_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition rollup (textops.repetition_stats): per-lang
    doc counts, flagged counts, and decimal-exact averages of the per-doc
    repetition metrics (top-bigram share, duplicate-trigram fraction,
    token diversity)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = textops.repetition_stats(d, "doc_id", "text")
    joined = d.select("doc_id", "lang").join(stats, "doc_id")
    n = F.count("*")

    def avg6(c: str) -> F.Column:
        return F.round(F.sum(F.col(c).cast("decimal(12,6)")).cast("double") / n, 6)

    return joined.groupBy("lang").agg(
        n.alias("n_docs"),
        F.sum(F.col("flagged").cast("long")).alias("n_flagged"),
        avg6("top_bigram_share").alias("avg_top_bigram_share"),
        avg6("dup_trigram_frac").alias("avg_dup_trigram_frac"),
        avg6("diversity").alias("avg_diversity"),
    )


REPETITION_SQL = r"""
WITH tok AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t FROM documents),
bi AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, unnest(CASE WHEN len(t) >= 2
      THEN list_transform(generate_series(1, len(t)-1), i -> t[i]||' '||t[i+1])
      ELSE [] END) AS g FROM tok)
  GROUP BY doc_id, g),
tri AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, unnest(CASE WHEN len(t) >= 3
      THEN list_transform(generate_series(1, len(t)-2), i -> t[i]||' '||t[i+1]||' '||t[i+2])
      ELSE [] END) AS g FROM tok)
  GROUP BY doc_id, g),
bia AS (SELECT doc_id, sum(c) AS total_bi, max(c) AS max_bi FROM bi GROUP BY doc_id),
tria AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_tri,
                sum(c) AS total_tri FROM tri GROUP BY doc_id),
per_doc AS (
  SELECT tok.doc_id, tok.lang,
    coalesce(round(max_bi / cast(total_bi AS double), 6), 0.0) AS top_share,
    coalesce(round(dup_tri / cast(total_tri AS double), 6), 0.0) AS dup_frac,
    round(len(list_distinct(t)) / cast(len(t) AS double), 6) AS diversity
  FROM tok LEFT JOIN bia ON bia.doc_id = tok.doc_id
           LEFT JOIN tria ON tria.doc_id = tok.doc_id)
SELECT lang, count(*) AS n_docs,
  cast(sum(CASE WHEN top_share > 0.20 OR dup_frac > 0.30 OR diversity < 0.20
           THEN 1 ELSE 0 END) AS bigint) AS n_flagged,
  round(cast(sum(cast(top_share AS decimal(12,6))) AS double) / count(*), 6) AS avg_top_bigram_share,
  round(cast(sum(cast(dup_frac AS decimal(12,6))) AS double) / count(*), 6) AS avg_dup_trigram_frac,
  round(cast(sum(cast(diversity AS decimal(12,6))) AS double) / count(*), 6) AS avg_diversity
FROM per_doc GROUP BY lang
"""


def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planning (textops.domain_mixture): per-source token
    accounting and the sampling weight reshaping the corpus to a uniform
    source mixture — the mix-rebalancing step of large-scale pretraining
    data pipelines."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textops.domain_mixture(d, "source", "text")


DOMAIN_MIX_SQL = r"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
    cast(sum(len(string_split_regex(trim(text), '\s+'))) AS bigint) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT sum(n_tokens) AS t, count(*) AS n_src FROM per_src)
SELECT source, n_docs, n_tokens,
  round(n_tokens / cast(t AS double), 6) AS observed_share,
  round(1.0 / n_src, 6) AS target_share,
  round((1.0 / n_src) / (n_tokens / cast(t AS double)), 6) AS sampling_weight
FROM per_src, tot
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pca_anomaly_by_label": pca_anomaly_by_label,
    "curation_pipeline": curation_pipeline,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "lang_id_confusion": lang_id_confusion,
    "quality_by_source": quality_by_source,
    "fingerprint_docs": fingerprint_docs,
    "multimodal_decode_stats": multimodal_decode_stats,
    "token_count_bpe": token_count_bpe,
    # tdigest_quantiles_events stays implemented (operators/tdigest.py) but
    # out of the driver registry: it was rows-only by design, the same
    # sketch family is hash-checked via tdigest_bounds_events, and the
    # quantile accuracy contract is pytest-gated vs NumPy (test_tdigest.py)
    # — freeing its driver slot for a hash-checkable entry.
    "tdigest_bounds_events": tdigest_bounds_events,
    "pandas_udf_token_stats": pandas_udf_token_stats,
    "above_brand_avg_lineitems": above_brand_avg_lineitems,
    "ann_pq_topk": ann_pq_topk,
    "decontaminate_docs": decontaminate_docs,
    "repetition_quality_by_lang": repetition_quality_by_lang,
    "domain_mixture_weights": domain_mixture_weights,
}

ORACLE_SQL: dict[str, str] = {
    "curation_pipeline": CURATION_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_embedding_cosine": DEDUP_EMB_SQL,
    "ann_cosine_topk": ANN_SQL,
    "ann_ivf_topk": ANN_IVF_SQL,
    "lang_id_confusion": LANG_ID_SQL,
    "quality_by_source": QUALITY_SQL,
    "fingerprint_docs": FINGERPRINT_SQL,
    "multimodal_decode_stats": MULTIMODAL_SQL,
    "token_count_bpe": TOKEN_BPE_SQL,
    "tdigest_bounds_events": TDIGEST_BOUNDS_SQL,
    "pandas_udf_token_stats": PANDAS_TOKEN_SQL,
    "above_brand_avg_lineitems": ABOVE_AVG_SQL,
    "decontaminate_docs": DECONTAMINATE_SQL,
    "repetition_quality_by_lang": REPETITION_SQL,
    "domain_mixture_weights": DOMAIN_MIX_SQL,
}

# Model-literal oracles are fitted against the driver's fixed oracle scale
# at registration time; if that fixture is absent (non-driver contexts) the
# entries degrade to the rows-only check instead of failing the import.
try:
    ORACLE_SQL["pca_anomaly_by_label"] = _pca_oracle_sql()
    ORACLE_SQL["ann_pq_topk"] = _pq_oracle_sql()
except OSError:  # pragma: no cover - oracle fixture missing
    pass


# ---------------------------------------------------------------------------
# diversity selection: farthest-point (k-center greedy) coreset
# ---------------------------------------------------------------------------


def kcenter_diverse_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic farthest-point selection (operators/diversity.py):
    4 maximally-spread exemplars under cosine distance, seeded at the
    lowest vec_id, ties by id. The DuckDB twin replays the greedy with
    chained argmax CTEs — the selection ORDER is part of the contract,
    not just the selected set."""
    from anomalydetection_spark.operators.diversity import kcenter_select

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kcenter_select(em, k=4)


KCENTER_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
s1 AS (SELECT vec_id, v, nrm FROM e ORDER BY vec_id LIMIT 1),
d1 AS (
  SELECT e.vec_id, e.v, e.nrm,
         1 - list_inner_product(e.v, s1.v) / (e.nrm * s1.nrm) AS md
  FROM e, s1
),
s2 AS (SELECT * FROM d1 WHERE vec_id <> (SELECT vec_id FROM s1)
       ORDER BY md DESC, vec_id ASC LIMIT 1),
d2 AS (
  SELECT d1.vec_id, d1.v, d1.nrm,
         least(d1.md,
               1 - list_inner_product(d1.v, s2.v) / (d1.nrm * s2.nrm)) AS md
  FROM d1, s2
),
s3 AS (SELECT * FROM d2
       WHERE vec_id NOT IN (SELECT vec_id FROM s1 UNION SELECT vec_id FROM s2)
       ORDER BY md DESC, vec_id ASC LIMIT 1),
d3 AS (
  SELECT d2.vec_id, d2.v, d2.nrm,
         least(d2.md,
               1 - list_inner_product(d2.v, s3.v) / (d2.nrm * s3.nrm)) AS md
  FROM d2, s3
),
s4 AS (SELECT * FROM d3
       WHERE vec_id NOT IN (SELECT vec_id FROM s1 UNION SELECT vec_id FROM s2
                            UNION SELECT vec_id FROM s3)
       ORDER BY md DESC, vec_id ASC LIMIT 1)
SELECT 1 AS rank, (SELECT vec_id FROM s1) AS vec_id,
       CAST(NULL AS DOUBLE) AS min_dist
UNION ALL SELECT 2, vec_id, round(md, 6) FROM s2
UNION ALL SELECT 3, vec_id, round(md, 6) FROM s3
UNION ALL SELECT 4, vec_id, round(md, 6) FROM s4
"""

QUERIES["kcenter_diverse_embeddings"] = kcenter_diverse_embeddings
ORACLE_SQL["kcenter_diverse_embeddings"] = KCENTER_SQL


# ---------------------------------------------------------------------------
# media near-duplicate pairs (perceptual-hash banding)
# ---------------------------------------------------------------------------


_MEDIA_LEN = 2048
_MEDIA_PERTURB_FROM = _MEDIA_LEN - 64


def _media_payload_expr(perturbed: bool) -> str:
    """Deterministic pseudo-media payload as a SQL expression both engines
    share: 2048 printable-ASCII chars char(32 + (131·doc_id + 7t² +
    (doc_id%13)·t) mod 95) — the quadratic term gives each doc a lumpy,
    doc-specific byte distribution (the residue multiset of a quadratic
    mod 95 depends on the doc's coefficients), which is what perceptual
    signatures need; md5-hex payloads collapse to a 16-symbol alphabet
    whose histogram is pinned by the alphabet, not the payload. The
    near-dup variant swaps the quadratic for the last 64 positions."""
    alt = "true" if perturbed else "false"
    body = (
        f"CASE WHEN t >= {_MEDIA_PERTURB_FROM} AND {alt} "
        "THEN 11*t*t + pmod(doc_id, 17)*t "
        "ELSE 7*t*t + pmod(doc_id, 13)*t END"
    )
    return (
        f"array_join(transform(sequence(0, {_MEDIA_LEN - 1}), "
        f"t -> char(32 + pmod(doc_id*131 + {body}, 95))), '')"
    )


def media_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup (operators/multimodal.media_near_dup): deterministic
    pseudo-media payloads (doc-keyed quadratic byte patterns — diverse
    histograms) with near-dup copies injected for doc_id % 23 == 0 (last
    64 bytes re-patterned, id+100000). dHash banding blocks (4 bands ×
    4 gradient bits, capped buckets), exact integer L1-ppm verifies at
    30000: all injected pairs land under the bound; pattern-coincident
    doc pairs that the metric genuinely places nearby are reported too —
    identically by both engines."""
    from anomalydetection_spark.operators import multimodal

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    base = d.select("doc_id", F.expr(_media_payload_expr(False)).alias("ptext"))
    dup = d.filter(F.col("doc_id") % 23 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.expr(_media_payload_expr(True)).alias("ptext"),
    )
    corpus = base.unionByName(dup).select(
        "doc_id", F.encode("ptext", "utf-8").alias("content")
    )
    return multimodal.media_near_dup(
        corpus, "doc_id", "content", max_l1_ppm=30_000, bands=4
    )


MEDIA_NEAR_DUP_SQL = """
WITH ids AS (SELECT doc_id FROM documents),
corpus AS (
  SELECT doc_id,
    list_aggregate(list_transform(generate_series(0, 2047),
      t -> chr((32 + (doc_id*131 + 7*t*t + (doc_id%13)*t) % 95)::int)),
      'string_agg', '') AS ptext
  FROM ids
  UNION ALL
  SELECT doc_id + 100000,
    list_aggregate(list_transform(generate_series(0, 2047),
      t -> chr((32 + (doc_id*131 +
        CASE WHEN t >= 1984 THEN 11*t*t + (doc_id%17)*t
             ELSE 7*t*t + (doc_id%13)*t END) % 95)::int)),
      'string_agg', '') AS ptext
  FROM ids WHERE doc_id % 23 = 0),
ex AS (
  SELECT doc_id, length(ptext)::bigint AS n_bytes,
         unnest(list_transform(generate_series(1, length(ptext)),
                i -> ascii(substr(ptext, i, 1)) % 16)) AS b
  FROM corpus),
hm AS (SELECT doc_id, any_value(n_bytes) AS n_bytes, histogram(b) AS m
       FROM ex GROUP BY doc_id),
h AS (
  SELECT doc_id, n_bytes,
    list_transform(generate_series(0, 15),
                   k -> coalesce(m[k][1], 0)::bigint) AS hist
  FROM hm),
bits AS (
  SELECT doc_id, n_bytes, hist,
    list_transform(generate_series(1, 16),
      j -> CASE WHEN hist[j] > hist[j % 16 + 1] THEN 1 ELSE 0 END) AS bit
  FROM h),
bandrows AS (
  SELECT doc_id, band,
    list_sum(list_transform(generate_series(1, 4),
      t -> bit[band * 4 + t] * (1 << (t - 1)))) AS band_val
  FROM (SELECT doc_id, bit, unnest([0, 1, 2, 3]) AS band FROM bits)),
sizes AS (SELECT band, band_val, count(*) AS bsz FROM bandrows GROUP BY 1, 2),
kept AS (
  SELECT br.* FROM bandrows br JOIN sizes s USING (band, band_val)
  WHERE s.bsz <= 64),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
scored AS (
  SELECT id_a, id_b,
    ((1000000 * list_sum(list_transform(generate_series(1, 16),
        j -> abs(ha.hist[j] * hb.n_bytes - hb.hist[j] * ha.n_bytes))))
     // (ha.n_bytes * hb.n_bytes))::bigint AS l1_ppm
  FROM cand
  JOIN h ha ON ha.doc_id = cand.id_a
  JOIN h hb ON hb.doc_id = cand.id_b)
SELECT id_a, id_b, l1_ppm FROM scored WHERE l1_ppm <= 30000
"""

QUERIES["media_near_dup_pairs"] = media_near_dup_pairs
ORACLE_SQL["media_near_dup_pairs"] = MEDIA_NEAR_DUP_SQL


# ---------------------------------------------------------------------------
# frame-level media near-dup (video frame sampling analog)
# ---------------------------------------------------------------------------


def frame_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level media near-dup (operators/multimodal.frame_near_dup):
    synthetic 6-frame payloads — 4 doc-unique frames + 2 frames shared by
    the doc's group (doc_id % 37, ~13 docs each, under the df-cap) — so
    every in-group pair shares exactly 2 sampled frames. Frame slices are
    JVM substrings, hashes md5, the self-join is frequency-capped."""
    from anomalydetection_spark.operators import multimodal

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    uniq = F.concat(*[
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":u:"), F.lit(str(j))))
        for j in range(8)
    ])
    grp = (F.col("doc_id") % 37).cast("string")
    shared = F.concat(*[
        F.md5(F.concat(grp, F.lit(":s:"), F.lit(str(j)))) for j in range(4)
    ])
    corpus = d.select(
        "doc_id", F.encode(F.concat(uniq, shared), "utf-8").alias("content")
    )
    return multimodal.frame_near_dup(
        corpus, "doc_id", "content", frame_size=64, max_frames=16, min_shared=2
    )


FRAME_NEAR_DUP_SQL = """
WITH p AS (
  SELECT doc_id,
    list_aggregate(list_transform(generate_series(0, 7),
      j -> md5(doc_id || ':u:' || j)), 'string_agg', '')
    || list_aggregate(list_transform(generate_series(0, 3),
      j -> md5((doc_id % 37) || ':s:' || j)), 'string_agg', '') AS ptext
  FROM documents),
fr AS (
  SELECT doc_id,
    md5(unnest(list_transform(
      generate_series(0, least(length(ptext) // 64, 16) - 1),
      i -> substr(ptext, i * 64 + 1, 64)))) AS fhash
  FROM p),
freq AS (SELECT fhash, count(DISTINCT doc_id) AS dfv FROM fr GROUP BY 1),
kept AS (
  SELECT DISTINCT doc_id, fhash FROM fr JOIN freq USING (fhash) WHERE dfv <= 64),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         count(DISTINCT a.fhash)::bigint AS n_shared
  FROM kept a JOIN kept b ON a.fhash = b.fhash AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 2
"""

QUERIES["frame_near_dup_docs"] = frame_near_dup_docs
ORACLE_SQL["frame_near_dup_docs"] = FRAME_NEAR_DUP_SQL


# ---------------------------------------------------------------------------
# Mahalanobis anomaly scoring (full-covariance sibling of the PCA scorer)
# ---------------------------------------------------------------------------


def mahalanobis_anomaly_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-covariance Mahalanobis anomaly scoring (operators/pca.py
    fit_mahalanobis): the correlation-aware sibling of pca_anomaly_by_label
    — same one-pass moment partials and q95-threshold pipeline, but the
    score is improbability under the fitted Gaussian, not subspace
    distance. Model-literal DuckDB oracle (the PCA pattern): (μ, P)
    embedded as literals, scoring + threshold + verdict counts re-derived
    in SQL."""
    from anomalydetection_spark.operators import pca

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pca.fit_mahalanobis(e, "embedding", ridge=1e-6)
    scores = pca.mahalanobis_scores(e, "vec_id", "embedding", model)
    verdicts = pca.anomaly_verdicts(scores, "vec_id", q=0.95)
    labeled = verdicts.join(e.select("vec_id", "label"), "vec_id")
    return labeled.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
        # exact integer average of the 1e-6-grid scores: per-row round-6
        # scores are nearest-int recoverable (floor(x*1e6+0.5)), the bigint
        # sum is exact, ONE division + det_round6 — no order-dependent float
        # sum on the hash boundary (a near-midpoint avg here went within
        # 1e-9 of the old round-4 cliff)
        _det_round6_col(
            F.sum(F.floor(F.col("score") * F.lit(1000000.0) + F.lit(0.5)).cast("long"))
            .cast("double")
            / (F.count("*") * F.lit(1000000.0))
        ).alias("avg_score"),
    )


def _mahal_oracle_sql(sf_dir: str = _ORACLE_SF_DIR, ridge: float = 1e-6) -> str:
    """Single-node twin of operators/pca.fit_mahalanobis over the
    oracle-scale parquet; (μ, P) embedded as literals, the quadratic form
    re-derived in SQL. The matrix inverse stays NumPy-side (pytest-gated
    agreement, tests/test_pca.py) — the twin hash-checks everything
    downstream: scoring, q95 threshold, verdict counts."""
    import numpy as np
    import pyarrow.parquet as pq

    X = np.stack(
        pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
        .column("embedding")
        .to_pylist()
    ).astype(np.float64)
    n, d = X.shape
    mean = X.sum(axis=0) / n
    cov = (X.T @ X) / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0
    prec = np.linalg.inv(cov + ridge * np.eye(d))
    prec = (prec + prec.T) / 2.0
    return f"""
WITH mu AS (SELECT {_mat_literal(mean)} AS m),
pp AS (SELECT {_mat_literal(prec)} AS p),
r AS (
  SELECT vec_id, label,
    list_transform(generate_series(1, {d}), i -> cast(embedding[i] AS double) - m[i]) AS x
  FROM embeddings, mu),
s AS (
  SELECT vec_id, label,
    round(sqrt(greatest(
      list_sum(list_transform(generate_series(1, {d}), j ->
        list_sum(list_transform(generate_series(1, {d}), i -> x[i] * p[i][j])) * x[j])),
      0)), 6) AS score
  FROM r, pp),
thr AS (SELECT quantile_cont(score, 0.95) AS t FROM s)
SELECT label, count(*) AS n,
  cast(sum(CASE WHEN score > t THEN 1 ELSE 0 END) AS bigint) AS n_anomalies,
  (CAST(floor((cast(sum(cast(floor(score * 1000000.0 + 0.5) AS BIGINT)) AS double)
     / (count(*) * 1000000.0)) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0) AS avg_score
FROM s, thr
GROUP BY label
"""


QUERIES["mahalanobis_anomaly_by_label"] = mahalanobis_anomaly_by_label
ORACLE_SQL["mahalanobis_anomaly_by_label"] = _mahal_oracle_sql()


# ---------------------------------------------------------------------------
# KMV bottom-k distinct sketches: set algebra over distinct sets
# ---------------------------------------------------------------------------


def kmv_distinct_orders_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag distinct-orderkey estimates from the KMV sketch
    (operators/kmv.py, k=512 — the estimation path engages: ~11k distinct
    per flag at sf0.01) next to the exact count. Deterministic end to
    end: portable md5 hashes + integer-only estimator, so the DuckDB
    twin re-derives the ESTIMATE itself, not just the exact column."""
    from anomalydetection_spark.operators.kmv import collect_kmvs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sketches = collect_kmvs(li, "l_orderkey", ["l_returnflag"], k=512)
    exact = {
        r["l_returnflag"]: r["ex"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("ex"))
        .collect()
    }
    from anomalydetection_spark.operators.kmv import null_last_key

    rows = [
        (flag, int(exact[flag]), sk.estimate_distinct())
        for (flag,), sk in sorted(
            sketches.items(), key=lambda kv: null_last_key(kv[0])
        )
    ]
    return spark.createDataFrame(
        rows, "flag string, exact_distinct bigint, est_distinct bigint"
    )


_KMV_CTE = """
h AS (
  SELECT DISTINCT l_returnflag AS flag,
    ('0x' || substr(md5(cast(l_orderkey AS varchar)), 1, 15))::bigint AS hv
  FROM lineitem WHERE l_orderkey IS NOT NULL),
ranked AS (
  SELECT flag, hv, row_number() OVER (PARTITION BY flag ORDER BY hv) AS rk
  FROM h),
kept AS (SELECT * FROM ranked WHERE rk <= 512),
th AS (
  SELECT flag, count(*) AS nv,
    CASE WHEN count(*) < 512 THEN 1152921504606846976::hugeint
         ELSE max(CASE WHEN rk = 512 THEN hv END)::hugeint END AS theta
  FROM kept GROUP BY 1)
"""

KMV_DISTINCT_SQL = f"""
WITH {_KMV_CTE},
ex AS (
  SELECT l_returnflag AS flag,
         count(DISTINCT l_orderkey)::bigint AS exact_distinct
  FROM lineitem GROUP BY 1)
SELECT t.flag, e.exact_distinct,
  CASE WHEN t.nv < 512 THEN t.nv::bigint
       ELSE ((511::hugeint * 1152921504606846976::hugeint) // t.theta)::bigint
  END AS est_distinct
FROM th t JOIN ex e ON e.flag = t.flag
ORDER BY t.flag
"""


def kmv_overlap_orders_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise estimated COMMON distinct orderkeys across returnflags —
    the set-intersection algebra HLL cannot express, from the same three
    ≤8 KB sketches, no join over the fact table. Same integer estimator
    contract as kmv_distinct_orders_by_flag."""
    from anomalydetection_spark.operators.kmv import group_kmv_overlap

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = group_kmv_overlap(spark, li, "l_orderkey", ["l_returnflag"], k=512)
    return out.select(
        F.col("a_l_returnflag").alias("flag_a"),
        F.col("b_l_returnflag").alias("flag_b"),
        "est_common",
    )


KMV_OVERLAP_SQL = f"""
WITH {_KMV_CTE},
pairs AS (
  SELECT a.flag AS flag_a, b.flag AS flag_b, least(a.theta, b.theta) AS th
  FROM th a JOIN th b ON a.flag < b.flag),
mt AS (
  SELECT p.flag_a, p.flag_b, p.th, count(*) AS matches
  FROM pairs p
  JOIN kept ka ON ka.flag = p.flag_a AND ka.hv::hugeint < p.th
  JOIN kept kb ON kb.flag = p.flag_b AND kb.hv = ka.hv AND kb.hv::hugeint < p.th
  GROUP BY 1, 2, 3)
SELECT p.flag_a, p.flag_b,
  coalesce(((mt.matches::hugeint * 1152921504606846976::hugeint) // p.th)::bigint,
           0) AS est_common
FROM pairs p
LEFT JOIN mt ON mt.flag_a = p.flag_a AND mt.flag_b = p.flag_b
ORDER BY p.flag_a, p.flag_b
"""

QUERIES["kmv_distinct_orders_by_flag"] = kmv_distinct_orders_by_flag
ORACLE_SQL["kmv_distinct_orders_by_flag"] = KMV_DISTINCT_SQL
QUERIES["kmv_overlap_orders_flags"] = kmv_overlap_orders_flags
ORACLE_SQL["kmv_overlap_orders_flags"] = KMV_OVERLAP_SQL
