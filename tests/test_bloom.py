"""Bloom-filter sketch + scalable referential path.

Contracts under test mirror the other sketch families' suites
(test_hll.py, test_tdigest.py): no false negatives ever, bounded false
positives at the documented sizing, the Python hash mirror and the NumPy
kernel agreeing with the JVM expressions bit for bit, build-on-union
equal to building from the union of partial key sets, other-format blobs
counting as absent, and the composed referential operator returning
EXACTLY the plain anti-join's rows (the property that keeps it inside
the oracle gate).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import functions as F

from anomalydetection_spark.operators import bloom, referential
from anomalydetection_spark.operators.dedup import portable_hash60
from anomalydetection_spark.operators.reassembly import explode_spans_meta
from anomalydetection_spark.plans.manifest import (
    blooms_containing_any,
    group_sketch_blobs,
)


def test_no_false_negatives(spark):
    df = spark.range(2000).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
    blob = bloom.blob_from_df(df, "k", m_bits=1 << 16)
    n_hit = df.filter(bloom.might_contain(F.col("k"), blob)).count()
    assert n_hit == 2000  # every inserted key must test positive


def test_false_positive_rate_bounded(spark):
    inserted = spark.range(2000).select(F.concat(F.lit("in-"), F.col("id")).alias("k"))
    blob = bloom.blob_from_df(inserted, "k", m_bits=1 << 16)
    # 10k keys guaranteed disjoint from the inserted set
    probes = spark.range(10_000).select(F.concat(F.lit("out-"), F.col("id")).alias("k"))
    fp = probes.filter(bloom.might_contain(F.col("k"), blob)).count()
    # theoretical fpp at n=2000, m=2^16, k=11 is ~10⁻⁶; assert a wide
    # margin so the test is sizing-sensitive but not flaky
    assert fp / 10_000 < 0.01


def test_merge_equals_union_build(spark):
    """The manifest's merge — one NumPy build over the union of partial
    key-hash sets — yields exactly the JVM build over the union."""
    a = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    b = spark.range(400, 900).select(F.col("id").cast("string").alias("k"))
    parts = [bloom.key_hashes([str(i) for i in range(lo, hi)]) for lo, hi in ((0, 500), (400, 900))]
    merged = bloom.blob_from_hashes(np.concatenate(parts), m_bits=1 << 14)
    whole = bloom.blob_from_df(a.unionByName(b), "k", m_bits=1 << 14)
    assert merged == whole


def test_blob_roundtrip_params(spark):
    df = spark.range(10).select(F.col("id").cast("string").alias("k"))
    blob = bloom.blob_from_df(df, "k", m_bits=1 << 14)
    m_bits, k, seed, words = bloom.unpack_blob(blob)
    assert blob[:4] == b"BF02"
    assert (m_bits, k, seed) == (1 << 14, 11, 0)
    assert words.size == (1 << 14) // 64
    # sized builds: 16 bits per DISTINCT key, whole words, 2^17 at least
    assert bloom.unpack_blob(bloom.blob_from_hashes([7, 7, 8]))[0] == 1 << 17
    assert bloom.num_bits(8_193) == 131_136
    assert bloom.num_bits(31_000) == 496_000


def test_python_mirror_and_numpy_probe_match_spark(spark):
    """key_hashes equals Spark's portable_hash60(cast(x as string)) on
    ints, ASCII and non-ASCII strings; a blob built in the JVM probes the
    same in might_contain and in the NumPy kernel."""
    ints = [0, 1, -1, 42, 2**31 - 1, -(2**31), 2**63 - 1, -(2**63)]
    strs = ["", "a", "doc-000000000042", "héllo wörld", "日本語テキスト", "emoji 😀"]
    for vals, typ in ((ints, "long"), (strs, "string")):
        df = spark.createDataFrame([(v,) for v in vals], f"x {typ}")
        jvm = [
            r["h"]
            for r in df.select(portable_hash60(F.col("x").cast("string")).alias("h")).collect()
        ]
        assert list(bloom.key_hashes(vals)) == jvm
    probes = strs + [f"absent-{i}" for i in range(300)]
    blob = bloom.blob_from_df(
        spark.createDataFrame([(v,) for v in strs], "x string"), "x", m_bits=1 << 10
    )
    assert blob == bloom.blob_from_hashes(bloom.key_hashes(strs), m_bits=1 << 10)
    pdf = spark.createDataFrame([(v,) for v in probes], "x string")
    jvm_hits = {r["x"] for r in pdf.filter(bloom.might_contain(F.col("x"), blob)).collect()}
    m_bits, k, _, words = bloom.unpack_blob(blob)
    np_hits = {
        v for v, c in zip(probes, bloom.contains(m_bits, k, words, bloom.key_hashes(probes))) if c
    }
    assert jvm_hits == np_hits and set(strs) <= np_hits


def test_sizing_bounds_false_hits_per_partition():
    """8 partitions × 31k ids: every filter is about half full, and fresh
    ids hit ≤ 1 of 8 partitions at 10 ids and ≤ 3 at 100, over 5 draws."""
    ids = bloom.key_hashes([f"doc-{i:012d}" for i in range(8 * 31_000)])
    blobs = [bloom.blob_from_hashes(ids[p::8]) for p in range(8)]
    for blob in blobs:
        _, _, _, words = bloom.unpack_blob(blob)
        assert np.unpackbits(words.view(np.uint8)).mean() <= 0.55
    for n, bound in ((10, 1), (100, 3)):
        for draw in range(5):
            fresh = bloom.key_hashes([f"fresh-{draw}-{i}" for i in range(n)])
            assert sum(bloom.may_contain_any(b, fresh) for b in blobs) <= bound


def test_other_format_blobs_count_as_absent(spark):
    """BF01 blobs and headerless docstore sidecars are never probed with
    this hash family: they prove nothing, so their partition is always
    in scope (an all-zero filter read as BF02 would clear it)."""
    zeros = np.zeros(1 << 10, dtype=np.int64).tobytes()
    bf01 = b"BF01" + struct.pack("<QII", 1 << 16, 5, 0x5EED) + zeros
    headerless = struct.pack("<QII", 1 << 16, 7, 0) + zeros
    fresh = bloom.blob_from_hashes(bloom.key_hashes(["other"]))
    for blob in (bf01, headerless):
        assert bloom.unpack_blob(blob) is None
        assert bloom.may_contain_any(blob, bloom.key_hashes(["x"]))
    ids = spark.createDataFrame([("x",)], "doc_id string")
    assert blooms_containing_any(spark, ids, {0: bf01, 1: headerless, 2: fresh}) == {0, 1}


def test_manifest_blooms_sized_per_partition(spark):
    """group_sketch_blobs sizes each partition's Blooms to its own
    distinct keys, and blooms_containing_any probes filters of different
    m in one pass: every partition holding an id is found."""
    sizes = {0: 40, 1: 10_000, 2: 20_000}
    meta = spark.range(30_040).select(
        F.when(F.col("id") < 40, 0)
        .when(F.col("id") < 10_040, 1)
        .otherwise(2)
        .alias("partition_id"),
        F.col("id"),
    ).select(
        F.format_string("p%d-%d", "partition_id", "id").alias("doc_id"),
        "partition_id",
        F.lit(5).alias("text_len"),
        F.format_string("m-%d-%d", "partition_id", F.col("id") % 50).alias("media_ref"),
    )
    blobs = {r["partition_id"]: r for r in group_sketch_blobs(meta).collect()}
    m = {p: bloom.unpack_blob(bytes(r["bloom"]))[0] for p, r in blobs.items()}
    assert m == {p: bloom.num_bits(n) for p, n in sizes.items()}
    assert len(set(m.values())) == 3
    assert bloom.unpack_blob(bytes(blobs[2]["ref_bloom"]))[0] == bloom.num_bits(50)
    doc_blooms = {p: bytes(r["bloom"]) for p, r in blobs.items()}

    def probe(ids):
        df = spark.createDataFrame([(i,) for i in ids], "doc_id string")
        return blooms_containing_any(spark, df, doc_blooms)

    assert probe(["p0-3", "p2-30039"]) == {0, 2}
    assert probe(["p1-40"]) == {1}
    assert probe([f"fresh-{i}" for i in range(20)]) == set()
    ref_blooms = {p: bytes(r["ref_bloom"]) for p, r in blobs.items()}
    refs = spark.createDataFrame([("m-1-7",), ("m-9-9",)], "media_ref string")
    assert blooms_containing_any(spark, refs, ref_blooms) == {1}


def _spans_fixture(spark):
    """120 docs; refs drawn from m-000..m-149 against a 100-asset catalog
    → a deterministic mix of valid and dangling media_refs."""
    docs = spark.range(120).select(
        F.col("id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.lit("hello world").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.format_string("m-%03d", F.pmod(F.xxhash64("id"), F.lit(150))).alias(
                    "media_ref"
                ),
                F.lit(1).alias("offset"),
            ),
        ).alias("spans"),
        F.pmod("id", F.lit(4)).cast("int").alias("partition_id"),
    )
    media = spark.range(100).select(F.format_string("m-%03d", "id").alias("media_ref"))
    return docs, media


def test_scalable_matches_plain_anti_join(spark):
    docs, media = _spans_fixture(spark)
    exploded = explode_spans_meta(docs)
    plain = {
        (r["doc_id"], r["pos"], r["media_ref"])
        for r in referential.dangling_refs(exploded, media).collect()
    }
    scalable = {
        (r["doc_id"], r["pos"], r["media_ref"])
        for r in bloom.dangling_refs_scalable(exploded, media, m_bits=1 << 14).collect()
    }
    assert plain and scalable == plain  # non-trivial fixture, identical rows


def test_definite_dangles_skip_catalog(spark):
    """A filter built over the catalog must reject every ref outside it —
    the short-circuit that spares definitely-dangling keys the verify
    join (and with no inserted-key collisions here, blooms exactly)."""
    docs, media = _spans_fixture(spark)
    exploded = explode_spans_meta(docs)
    blob = bloom.blob_from_df(media, "media_ref", m_bits=1 << 16)
    refs = exploded.filter(F.col("media_ref").isNotNull())
    definite = refs.filter(~bloom.might_contain(F.col("media_ref"), blob))
    plain = referential.dangling_refs(exploded, media)
    # every bloom-rejected ref is truly dangling (no false negatives ⇒
    # the short-circuit can never misclassify a valid ref)
    assert definite.join(media, "media_ref", "left_semi").count() == 0
    assert definite.count() <= plain.count()
