"""Property tests for the docstore's hash mirrors.

The bucket transform depends on one contract: the numpy mirror of
Spark's XXH64.hashLong (and the crc32 string path) must agree EXACTLY
with the Spark expressions that cluster writes — a silent divergence
would not corrupt results (pruning is planning-only, Spark re-applies
predicates) but would quietly disable pruning. The Bloom sidecars build
and probe through operators/bloom.py's NumPy kernel; the cases below pin
its no-false-negative and fpp contracts on the key types sidecars take.
The end-to-end pruning evidence lives in test_docstore.py."""

from __future__ import annotations

import zlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from anomalydetection_spark.operators import bloom
from anomalydetection_spark.sources.docstore import _bucket_of, _xxh64_long

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(max_examples=200, deadline=None)
@given(st.lists(I64, min_size=1, max_size=64), st.integers(2, 4096))
def test_bucket_of_int_is_total_and_in_range(vals, n):
    bks = _bucket_of(vals, n)
    assert len(bks) == len(vals)
    assert all(0 <= b < n for b in bks)
    # deterministic: same input, same buckets
    assert bks == _bucket_of(vals, n)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=40), min_size=1, max_size=32), st.integers(2, 512))
def test_bucket_of_str_matches_crc32_definition(vals, n):
    assert _bucket_of(vals, n) == [
        zlib.crc32(v.encode("utf-8")) % n for v in vals
    ]


@settings(max_examples=50, deadline=None)
@given(
    st.lists(I64, min_size=1, max_size=256, unique=True),
    st.lists(I64, min_size=1, max_size=64, unique=True),
)
def test_bloom_never_false_negative_ints(members, probes):
    blob = bloom.blob_from_hashes(bloom.key_hashes(members))
    # every member is found
    for m in members:
        assert bloom.may_contain_any(blob, bloom.key_hashes([m]))
    # a probe list containing at least one member is always "maybe"
    if set(probes) & set(members):
        assert bloom.may_contain_any(blob, bloom.key_hashes(probes))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=24), min_size=1, max_size=128, unique=True))
def test_bloom_never_false_negative_strings(members):
    blob = bloom.blob_from_hashes(bloom.key_hashes(members))
    m_bits, k, _, words = bloom.unpack_blob(blob)
    assert bloom.contains(m_bits, k, words, bloom.key_hashes(members)).all()


def test_bloom_fpp_sane():
    """~5·10⁻⁴ target at 16 bits/key, k=11: absent keys are rejected
    almost always (the pruning win lives or dies on this)."""
    rng = np.random.default_rng(42)
    members = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    blob = bloom.blob_from_hashes(bloom.key_hashes(members))
    m_bits, k, _, words = bloom.unpack_blob(blob)
    absent = rng.integers(2**62, 2**63 - 1, size=5_000, dtype=np.int64)
    fp = int(bloom.contains(m_bits, k, words, bloom.key_hashes(absent)).sum())
    assert fp / 5_000 < 0.005


def test_xxh64_mirror_matches_spark_exactly(spark):
    """Adversarial + random int64s through BOTH implementations: Spark's
    xxhash64(cast(x as bigint)) and the numpy mirror must agree bit for
    bit — this parity IS the bucket transform's correctness anchor."""
    edge = [
        0, 1, -1, 2**31 - 1, -(2**31), 2**63 - 1, -(2**63), 42,
        0x5555555555555555, -0x5555555555555556,
    ]
    rng = np.random.default_rng(7)
    vals = edge + [int(v) for v in rng.integers(-(2**63), 2**63 - 1, size=2_000)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = [
        int(h)
        for h in df.select(F.xxhash64(F.col("x").cast("long")).alias("h"))
        .toPandas()["h"]
    ]
    mine = [int(v) for v in _xxh64_long(vals)]
    assert mine == got
