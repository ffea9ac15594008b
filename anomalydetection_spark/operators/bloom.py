"""The engine's one Bloom filter + the shuffle-minimal referential path.

Third sketch family next to operators/tdigest.py (quantiles) and
operators/hll.py (distinct counts): a Bloom filter is the membership
sketch — "definitely absent" / "maybe present" with a tunable false-
positive rate and NO false negatives. Like the other two it is a byte
blob, so per-Iceberg-partition sketches can be built once, stored in the
run manifest, and probed by resumed runs without rescanning finished
partitions (X2/S8).

Where the reference keeps its membership set as an in-memory pandas
index (`isin` filter, preprocessing.py:7-10), this engine needs the
same check against a catalog that may not fit ANY single executor. The
scalable referential pattern composes three shuffle-minimal pieces:

1. **Distinct-first**: the fact side (10^12 span rows) is reduced to
   its distinct keys via a map-side-combining aggregate before any
   join — the only full-table shuffle carries |distinct refs| rows,
   never the span rows themselves.
2. **Bloom short-circuit**: keys the filter rejects are *definitely*
   dangling — they skip the catalog join entirely. Only "maybe" keys
   (valid refs + the fpp tail) reach the exact verification anti-join.
3. **Broadcast-back**: the verified dangling-key set (violations are
   rare) is broadcast and semi-joined back to the fact side to
   materialize violation rows — again no fact-side shuffle.

The final answer is EXACTLY the plain anti-join's (false positives are
re-checked; false negatives don't exist), so the operator stays inside
the DuckDB oracle gate.

One format, one hash family, one sizing rule for every Bloom in the
engine — this module's, the run manifest's per-partition doc_id and
media_ref Blooms (plans/manifest.py) and the docstore's per-file
sidecars (sources/docstore.py):

* **hash**: ``dedup.portable_hash60`` of the key cast to string (md5 →
  60 bits, the family KMV, sharding and sampling already use); ints hash
  by their decimal string, exactly as Spark's ``cast(int as string)``.
  :func:`key_hashes` is the Python mirror.
* **probes**: ``(h1 + i·h2) mod m`` for i < k, with ``h1`` the low 30
  bits and ``h2`` the high 30 bits forced odd. The sum stays below 2^35,
  so the probe is exact both as JVM long arithmetic (ANSI-safe) and in
  NumPy.
* **sizing**: :func:`num_bits` gives 16 bits per distinct key with k=11
  (fill ≈ 0.5, fpp ≈ 5·10⁻⁴), and never fewer than 2^17 bits: a resumed
  run probes EVERY pending doc_id, not only new ones, so a small
  partition's filter must keep its fpp far below 1/keys (at 2,500 keys
  the floor gives 1·10⁻⁸; 16 bits/key alone made all 5 of 5 done
  partitions false-hit). Callers that never see their key count (dedup,
  referential) pass an explicit m.
* **format**: ``BF02 | m_bits | k | seed | m_bits/64 int64 words``; the
  seed field is always 0. A blob with any other magic — old BF01 blobs
  hashed with xxhash64, headerless pre-BF02 docstore sidecars — counts
  as ABSENT (:func:`unpack_blob` returns None): it is never probed with
  this family, which would give false negatives.

Builds and probes run in two places over that one rule: JVM column
expressions (:func:`build_words` / :func:`might_contain` — the word
array rides as a plan literal, so the literal regime caps m at
:data:`LITERAL_MAX_BITS` = 2^24 bits, a 2 MB literal), and one NumPy
kernel (:func:`blob_from_hashes` / :func:`contains`) for the manifest,
the docstore and the resume probes.
"""

from __future__ import annotations

import hashlib
import struct
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAGIC = b"BF02"
BITS_PER_KEY = 16
MIN_BITS = 1 << 17
K = 11
LITERAL_MAX_BITS = 1 << 24
DEFAULT_M_BITS = 1 << 20  # for callers that never see their key count

_LOW30 = (1 << 30) - 1
_HEADER = struct.Struct("<QII")  # m_bits, k, seed


def num_bits(n_keys: int) -> int:
    """m for ``n_keys`` distinct keys: 16 bits each in whole 64-bit
    words, at least :data:`MIN_BITS`."""
    return max(MIN_BITS, -(-int(n_keys) * BITS_PER_KEY // 64) * 64)


def key_hash(col: Column) -> Column:
    """JVM key hash: ``portable_hash60(cast(col as string))``."""
    from anomalydetection_spark.operators.dedup import portable_hash60

    return portable_hash60(col.cast("string"))


def key_hashes(values) -> np.ndarray:
    """Python mirror of :func:`key_hash` for int and str keys (TypeError
    for anything else: its string form would not match Spark's cast)."""
    out = np.empty(len(values), dtype=np.int64)
    for j, v in enumerate(values):
        if isinstance(v, (bool, np.bool_)) or not isinstance(v, (int, np.integer, str)):
            raise TypeError("bloom keys must be int or string")
        out[j] = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
    return out


def _pack(m_bits: int, k: int, words: np.ndarray) -> bytes:
    return MAGIC + _HEADER.pack(m_bits, k, 0) + words.astype(np.int64).tobytes()


def unpack_blob(blob: bytes) -> tuple[int, int, int, np.ndarray] | None:
    """(m_bits, k, seed, words), or None for a blob of another format —
    callers treat it as absent (no pruning, re-validate)."""
    if blob[:4] != MAGIC:
        return None
    m_bits, k, seed = _HEADER.unpack_from(blob, 4)
    words = np.frombuffer(blob, dtype=np.int64, offset=4 + _HEADER.size)
    assert words.size == m_bits // 64
    return m_bits, k, seed, words


def _positions(h: np.ndarray, i: int, m_bits: int) -> np.ndarray:
    h = np.asarray(h, dtype=np.int64)
    return ((h & _LOW30) + i * ((h >> 30) | 1)) % m_bits


def blob_from_hashes(hashes, m_bits: int | None = None) -> bytes:
    """NumPy build over :func:`key_hash` values; m defaults to
    :func:`num_bits` of the distinct hash count."""
    h = np.unique(np.asarray(hashes, dtype=np.int64))
    m = num_bits(len(h)) if m_bits is None else m_bits
    words = np.zeros(m // 64, dtype=np.uint64)
    for i in range(K):
        pos = _positions(h, i, m)
        np.bitwise_or.at(words, pos >> 6, np.left_shift(np.uint64(1), (pos & 63).astype(np.uint64)))
    return _pack(m, K, words)


def contains(m_bits: int, k: int, words: np.ndarray, hashes) -> np.ndarray:
    """Per-hash membership (bool array) against unpacked filter words."""
    h = np.asarray(hashes, dtype=np.int64)
    w = words.view(np.uint64)
    alive = np.ones(len(h), dtype=bool)
    for i in range(k):
        pos = _positions(h, i, m_bits)
        alive &= ((w[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)).astype(bool)
    return alive


def may_contain_any(blob: bytes, hashes) -> bool:
    """False only when the blob proves EVERY hashed key absent; an
    other-format blob proves nothing."""
    u = unpack_blob(blob)
    if u is None:
        return True
    m_bits, k, _, words = u
    return bool(contains(m_bits, k, words, hashes).any())


def _probe(h: Column, i: int, m_bits: int) -> tuple[Column, Column]:
    """(word_idx:int, bit_mask:long) of probe ``i`` of key hash ``h`` —
    the JVM side of :func:`_positions`."""
    h2 = F.shiftright(h, 30).bitwiseOR(F.lit(1).cast("long"))
    pos = F.pmod(
        h.bitwiseAND(F.lit(_LOW30).cast("long")) + F.lit(i).cast("long") * h2,
        F.lit(m_bits).cast("long"),
    )
    word = F.floor(pos / 64).cast("int")
    mask = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
    )
    return word, mask


def build_words(
    df: DataFrame, col: str | Column, m_bits: int = DEFAULT_M_BITS
) -> DataFrame:
    """One pass over ``df`` → sparse (word_idx, bits) rows of the filter.

    k (word, mask) pairs per key explode into rows, then ONE hash
    aggregate with map-side `bit_or` partials merges them — the shuffle
    carries at most min(k·|keys|, m/64) rows of two small ints."""
    c = F.col(col) if isinstance(col, str) else col
    h = key_hash(c)
    entries = [
        F.struct(w.alias("w"), m.alias("m"))
        for w, m in (_probe(h, i, m_bits) for i in range(K))
    ]
    return (
        df.filter(c.isNotNull())
        .select(F.explode(F.array(*entries)).alias("e"))
        .select(F.col("e.w").alias("word_idx"), F.col("e.m").alias("bits"))
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )


def words_to_blob(word_rows, m_bits: int = DEFAULT_M_BITS) -> bytes:
    """Pack collected (word_idx, bits) rows into a blob. The collect is
    bounded by the filter size (m/64 rows), never the key count."""
    words = np.zeros(m_bits // 64, dtype=np.int64)
    for r in word_rows:
        words[r["word_idx"]] = r["bits"]
    return _pack(m_bits, K, words)


def blob_from_df(
    df: DataFrame, col: str | Column, m_bits: int = DEFAULT_M_BITS
) -> bytes:
    return words_to_blob(build_words(df, col, m_bits=m_bits).collect(), m_bits)


def might_contain(col: Column, blob: bytes) -> Column:
    """JVM membership predicate against a built filter.

    False ⇒ the value was never inserted (no false negatives); True ⇒
    maybe. The word array rides in the plan as an array<long> literal;
    each probe is element_at + AND — codegen'd, shuffle-free."""
    u = unpack_blob(blob)
    if u is None:
        raise ValueError("not a BF02 bloom blob")
    m_bits, k, _, words = u
    assert m_bits <= LITERAL_MAX_BITS, "filter too large for a plan literal"
    arr = F.lit([int(w) for w in words])
    h = key_hash(col)
    conds = []
    for i in range(k):
        word, mask = _probe(h, i, m_bits)
        conds.append(F.element_at(arr, word + 1).bitwiseAND(mask) != 0)
    return reduce(lambda a, b: a & b, conds)


def dangling_keys_scalable(
    fact: DataFrame,
    ref_col: str,
    catalog: DataFrame,
    catalog_col: str | None = None,
    m_bits: int = DEFAULT_M_BITS,
) -> DataFrame:
    """Distinct fact keys absent from the catalog — exact, via the
    distinct-first + bloom-short-circuit + verify composition.

    Returns one row per dangling key value (column ``ref_col``)."""
    ccol = catalog_col or ref_col
    keys = (
        fact.filter(F.col(ref_col).isNotNull()).select(ref_col).distinct()
    )
    blob = blob_from_df(catalog, ccol, m_bits=m_bits)
    maybe = might_contain(F.col(ref_col), blob)
    definite = keys.filter(~maybe)
    survivors = keys.filter(maybe)
    false_pos = survivors.join(
        catalog.select(F.col(ccol).alias(ref_col)), ref_col, "left_anti"
    )
    return definite.unionByName(false_pos)


def dangling_refs_scalable(
    exploded: DataFrame,
    media: DataFrame,
    m_bits: int = DEFAULT_M_BITS,
) -> DataFrame:
    """Drop-in for referential.dangling_refs when the catalog outgrows a
    broadcast hash join: same rows out, fact side never shuffled.

    The dangling-key set (small — violations are the exception) is
    broadcast back onto the span table as a semi-join, so violation-row
    materialization is one more scan, zero shuffles."""
    keys = dangling_keys_scalable(exploded, "media_ref", media, m_bits=m_bits)
    return exploded.filter(F.col("media_ref").isNotNull()).join(
        F.broadcast(keys), "media_ref", "left_semi"
    )
