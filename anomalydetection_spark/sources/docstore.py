"""`docstore`: an Iceberg-shaped table format as a Python DataSourceV2.

The production engine targets Iceberg catalogs (sources/io.py read_table /
write_table with ``fmt='iceberg'``); this sandbox has no Iceberg runtime
jars and no network to vendor them, so this module implements the three
Iceberg properties the engine actually depends on as a from-scratch
DataSourceV2 (PySpark's Python DataSource API — planned as a real V2
``BatchScan``/``PythonScan``, not a parquet alias):

1. **snapshot-atomic commits with optimistic concurrency** — every write
   lands data files under the table dir, then commits ONE manifest JSON
   listing them via EXCLUSIVE creation (os.link of a fully-written temp,
   atomic on POSIX): readers see the old snapshot or the new one, never a
   half-written mix, and two concurrent writers racing for the same
   version get one winner plus one ``CommitConflict`` that retries
   against the new head (the Iceberg metadata-pointer CAS +
   CommitFailedException protocol; the ``version-hint`` file is a
   best-effort fast path that ``current_version`` probe-repairs);
2. **manifest-driven scan planning** — reads plan from the manifest,
   never from directory listing (stale/abandoned files are invisible,
   exactly why Iceberg scans survive concurrent writers);
3. **file pruning from column stats** — one driver-side planner
   (`plan_files`) drops the files whose manifest min/max stats,
   bucket-transform stats or Bloom sidecars prove they hold none of the
   wanted key values, the Iceberg manifest-stats skip.

The engine reads a snapshot through `load`: it plans the files once on
the driver and returns their visible rows (position and equality deletes
applied, columns resolved by field id) as plain JVM parquet scans, so
Spark's own parquet reader prunes columns and skips row groups from
footer stats. ``where`` bounds which files are planned; it is not a row
filter, and callers keep their row predicates. The Python reader behind
``spark.read.format("docstore")`` plans through the same `plan_files`
(its only bound is the ``partition_in`` option) and streams the same
visible rows through Python workers; it implements no filter pushdown,
so planning never depends on a query's filters.

Everything inside a data file is plain parquet, written with pyarrow over
Arrow record batches — no per-row Python on the write or the read path.
"""

from __future__ import annotations

import bisect
import functools
import json
import os
import uuid
import time
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from anomalydetection_spark.operators import bloom as bloomops

STATS_COLUMN = "partition_id"  # always-tracked layout column (back-compat)
_HINT = "version-hint.text"

# Manifest segmentation (the Iceberg manifest-file model): once a
# manifest's INLINE file list exceeds this, the commit rolls it into an
# immutable `seg-*.json` segment and references it — so append commits
# write O(delta) metadata, not O(table). Tests shrink it to force
# multi-segment layouts at toy scale.
SEGMENT_ROLL = 512


def _stat_safe(v):
    """min/max values the manifest JSON can carry; anything else (nested,
    binary, temporal) is skipped — pruning on it simply never happens."""
    return v if isinstance(v, (int, float, str, bool)) else None


# ---------------------------------------------------------------------------
# bucket transform (the Iceberg `bucket(n, col)` hidden-partition analog)
#
# Per-file min/max stats prune every ORDER-preserving layout (identity,
# truncate, days — a range predicate on the source column prunes directly),
# but NOT hash clustering: files bucketed by hash hold overlapping key
# ranges, so a point lookup scans everything. The transform closes that:
# the writer records, per file, min/max of `bucket(key) = pmod(hash(key),
# n)` under a VIRTUAL stats column `__bucket_{col}_{n}`, and the planner
# turns wanted values of the source column into a membership test on
# the virtual column — reusing the existing stats-pruning machinery,
# with no partition-spec registry (files written under different n, or
# none, carry different virtual columns and prune independently — spec
# evolution for free, same as layout evolution).
#
# The hash must agree between the Spark plan that CLUSTERS writes and the
# Python writer/reader that records/consults stats:
#   integers → Spark `xxhash64(cast(col as bigint))` (seed 42), mirrored
#     below in vectorized numpy (XXH64.hashLong, Spark's 8-byte path);
#   strings  → Spark `crc32(encode(col,'utf-8'))`, mirrored by zlib.crc32.
# Parity is asserted in tests by clustering with bucket_expr() and then
# requiring point lookups to open exactly the matching file(s).
# ---------------------------------------------------------------------------

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _xxh64_long(vals):
    """Vectorized mirror of Spark's XXH64.hashLong (xxhash64 over a
    bigint column, Spark's seed 42). Returns signed int64 ndarray."""
    import numpy as np

    with np.errstate(over="ignore"):
        x = np.asarray(vals, dtype=np.int64).view(np.uint64)
        r31, r27 = np.uint64(31), np.uint64(27)
        w = np.uint64(64)
        h = np.uint64((42 + _XXP5 + 8) & 0xFFFFFFFFFFFFFFFF)
        k = x * np.uint64(_XXP2)
        k = (k << r31) | (k >> (w - r31))
        k *= np.uint64(_XXP1)
        h = h ^ k
        h = (h << r27) | (h >> (w - r27))
        h = h * np.uint64(_XXP1) + np.uint64(_XXP4)
        h ^= h >> np.uint64(33)
        h *= np.uint64(_XXP2)
        h ^= h >> np.uint64(29)
        h *= np.uint64(_XXP3)
        h ^= h >> np.uint64(32)
        return h.view(np.int64)


def _bucket_of(values, n: int):
    """bucket numbers (non-negative, < n) for a list/array of key values —
    ints via the xxhash64 mirror, strings via crc32; mixed/other types
    raise (callers gate on the column type)."""
    import numpy as np
    import zlib

    vals = list(values)
    if all(isinstance(v, (int,)) and not isinstance(v, bool) for v in vals):
        return [int(b) for b in np.mod(_xxh64_long(vals), np.int64(n))]
    if all(isinstance(v, str) for v in vals):
        return [zlib.crc32(v.encode("utf-8")) % n for v in vals]
    raise TypeError("bucket transform supports int and string keys")


def bucket_expr(df, col: str, n: int):
    """Spark Column computing the SAME bucket number the writer records
    stats for — use it to cluster writes, e.g.
    ``df.repartitionByRange(n, bucket_expr(df, "doc_id", n))`` (range, not
    hash, so each file covers a contiguous bucket interval and the virtual
    min/max stats are tight). Integer columns are cast to bigint first so
    Spark takes xxhash64's 8-byte path the numpy mirror implements."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, LongType, ShortType, StringType, ByteType

    t = df.schema[col].dataType
    if isinstance(t, (ByteType, ShortType, IntegerType, LongType)):
        return F.pmod(F.xxhash64(F.col(col).cast("long")), F.lit(n))
    if isinstance(t, StringType):
        return F.pmod(F.crc32(F.encode(F.col(col), "utf-8")), F.lit(n))
    raise TypeError(f"bucket transform supports int and string keys, got {t}")


def _bucket_stat_key(col: str, n: int) -> str:
    return f"__bucket_{col}_{n}"


# ---------------------------------------------------------------------------
# Bloom sidecars (the Iceberg Puffin-blob analog)
#
# Bucket stats serve point lookups on tables CLUSTERED by the key; Bloom
# sidecars serve them on tables that are not: the writer builds one Bloom
# filter per (file, key column) — `bloom-{file}-{col}.bin` beside the data
# file — and scan planning drops any candidate file whose Bloom proves
# every wanted value absent (no false negatives, so pruning is always
# safe). Sidecars load LAZILY: only when planning wants values of a
# Bloom'd column, only for files that survived min/max + bucket
# pruning, cached process-
# wide (immutable once committed). Maintenance owns them like data:
# expire_snapshots deletes a dead file's sidecars with it, orphan sweep
# collects unreferenced ones. Rewrites (compact/COW) drop sidecars on the
# rewritten files — they are optional stats, never correctness.
#
# The filters are operators/bloom.py's one format (hash, probe rule,
# 16 bits per distinct key): writer, build_sidecars, scan planning and
# merge_into all build and probe through its NumPy kernel. A sidecar in
# any other format (the pre-BF02 headerless layout) never prunes.
# ---------------------------------------------------------------------------

_bloom_cache: dict[str, bytes] = {}


def _bloom_sidecar(table_dir: str, name: str) -> bytes | None:
    """Load-and-cache a sidecar blob; None when missing/unreadable
    (pruning simply doesn't happen)."""
    full = os.path.join(table_dir, name)
    blob = _bloom_cache.get(full)
    if blob is None:
        try:
            with open(full, "rb") as fh:
                blob = fh.read()
        except OSError:
            return None
        _bloom_cache[full] = blob
    return blob


def _may_hold(st, vals: list) -> bool:
    """False only when a file's ``[min, max]`` stat provably holds none of
    the sorted ``vals``. Missing and float stats (NaN-blind, while Spark
    orders NaN above every double) and incomparable types never prune."""
    if not st or st[0] is None or isinstance(st[0], float) or isinstance(st[1], float):
        return True
    try:
        i = bisect.bisect_left(vals, st[0])
        return i < len(vals) and vals[i] <= st[1]
    except TypeError:
        return True


def _may_overlap(st, lo, hi) -> bool:
    """False only when a file's ``[min, max]`` stat provably misses the
    interval ``[lo, hi]`` (same safety rules as `_may_hold`)."""
    if lo is None or not st or st[0] is None or isinstance(st[0], float) or isinstance(st[1], float):
        return True
    try:
        return not (st[1] < lo or st[0] > hi)
    except TypeError:
        return True


def plan_files(table_dir: str, manifest: dict, where: dict | None = None) -> list[dict]:
    """The manifest entries that can hold a row whose every ``where``
    column equals one of its wanted values — the one file-pruning planner
    (`load`, the ``format("docstore")`` reader and `merge_into`'s probe).
    Three tiers, cheapest first: min/max stats, bucket-transform stats
    (hash-clustered layouts) and Bloom sidecars (unclustered layouts,
    loaded only for files the first two tiers keep). Each file's stats
    are looked up through its field-id map, so a renamed column prunes on
    its own bytes' stats. A column whose values include None never prunes;
    an empty value list keeps no file."""
    files = manifest["files"]
    wanted: dict[str, list] = {}
    for col, vals in (where or {}).items():
        vals = list(vals)
        if any(v is None for v in vals):
            continue
        try:
            wanted[col] = sorted(set(vals))
        except TypeError:
            continue  # mixed types: no pruning on this column
    if not wanted:
        return list(files)
    if not all(wanted.values()):
        return []
    fids = manifest.get("field_ids") or {}
    bucket_cache: dict[tuple, list | None] = {}
    hash_cache: dict[str, object] = {}

    def _buckets(col: str, n: int):
        if (col, n) not in bucket_cache:
            try:
                bucket_cache[col, n] = sorted(set(_bucket_of(wanted[col], n)))
            except TypeError:
                bucket_cache[col, n] = None  # non-int/str values
        return bucket_cache[col, n]

    def _hashes(col: str):
        if col not in hash_cache:
            try:
                hash_cache[col] = bloomops.key_hashes(wanted[col])
            except TypeError:
                hash_cache[col] = None
        return hash_cache[col]

    def _keep(f: dict) -> bool:
        stats = f.get("stats") or {}
        nm = f.get("name_map") or {}
        for col, vals in wanted.items():
            src = _mapped_source(col, fids, nm)
            if src is None:
                continue  # the file never held the column: nothing to prune on
            if not _may_hold(stats.get(src), vals):
                return False
            pref = f"__bucket_{src}_"
            for k, st in stats.items():
                num = k[len(pref):]
                if k.startswith(pref) and num.isdigit():
                    bks = _buckets(col, int(num))
                    if bks is not None and not _may_hold(st, bks):
                        return False
            sname = (f.get("blooms") or {}).get(src)
            if sname:
                blob = _bloom_sidecar(table_dir, sname)
                h = _hashes(col)
                if blob is not None and h is not None and not bloomops.may_contain_any(blob, h):
                    return False
        return True

    return [f for f in files if _keep(f)]


# ---------------------------------------------------------------------------
# snapshot metadata
# ---------------------------------------------------------------------------

def _hint_path(table_dir: str) -> str:
    return os.path.join(table_dir, _HINT)


class CommitConflict(Exception):
    """Another writer committed a snapshot between this operation's base
    read and its commit attempt (the Iceberg CommitFailedException
    analog). Retry-able: recompute from the new head and commit again."""


def current_version(table_dir: str) -> int:
    """Head snapshot version: the hint is the fast path, but commits are
    arbitrated by exclusive manifest creation (see commit_snapshot), so a
    crash between manifest link and hint update leaves the hint stale —
    probe forward until the next manifest is missing."""
    try:
        with open(_hint_path(table_dir)) as f:
            v = int(f.read().strip())
    except OSError:
        v = 0
    while os.path.exists(os.path.join(table_dir, f"manifest-v{v + 1}.json")):
        v += 1
    return v


@functools.lru_cache(maxsize=256)
def _load_segment(abs_path: str) -> tuple:
    """Entries of one immutable manifest segment (`seg-*.json`), cached
    process-wide: segments are write-once (a new layout writes a NEW
    segment file), so path identity is a sound cache key. Callers must
    not mutate the returned entries — expansion copies them."""
    with open(abs_path) as f:
        return tuple(json.load(f))


def _expand_manifest(table_dir: str, m: dict) -> dict:
    """Expand a manifest's segment references into its ``files`` list
    (segments in order, then inline entries) — the single point where
    the segmented layout becomes the flat list every consumer reads.
    Entry dicts are shallow-copied out of the segment cache."""
    segs = m.get("segments")
    if not segs:
        return m
    expanded: list[dict] = []
    for s in segs:
        expanded.extend(
            dict(e) for e in _load_segment(os.path.join(table_dir, s["path"]))
        )
    expanded.extend(m.get("files") or [])
    m["files"] = expanded
    return m


def load_manifest(
    table_dir: str,
    version: int | None = None,
    ref: str | None = None,
    _raw: bool = False,
) -> dict:
    """Manifest of the table's CURRENT state (the ``main`` branch head —
    which is the newest manifest unless branch/tag commits exist), of an
    explicit committed ``version`` (time travel — the Iceberg ``VERSION
    AS OF`` analog), or of a named ``ref`` (branch or tag). Requesting a
    version newer than the hint fails: files may exist on disk for an
    in-flight write, but only the hint swap commits them. ``_raw=True``
    loads the newest manifest without ref resolution (internal: the refs
    map and field-id registry live there)."""
    head = current_version(table_dir)
    if head == 0:
        raise FileNotFoundError(f"no committed snapshot under {table_dir}")
    if version is not None:
        v = int(version)
    elif _raw:
        v = head
    else:
        v = resolve_ref(table_dir, ref or "main", _head=head)
    if not (1 <= v <= head):
        raise ValueError(f"snapshot v{v} not committed (table at v{head})")
    with open(os.path.join(table_dir, f"manifest-v{v}.json")) as f:
        return _expand_manifest(table_dir, json.load(f))


def table_refs(table_dir: str, _head: int | None = None) -> dict:
    """The refs map {name: {type: branch|tag, version}} from the newest
    manifest. Tables that predate refs (or whose newest manifest was
    committed by older code) get the implied ``{main -> newest}``."""
    head = current_version(table_dir) if _head is None else _head
    if head == 0:
        return {}
    with open(os.path.join(table_dir, f"manifest-v{head}.json")) as f:
        refs = json.load(f).get("refs")
    return dict(refs) if refs else {"main": {"type": "branch", "version": head}}


def resolve_ref(table_dir: str, ref: str = "main", _head: int | None = None) -> int:
    """Snapshot version a branch or tag points at."""
    refs = table_refs(table_dir, _head=_head)
    if ref not in refs:
        raise ValueError(f"no ref '{ref}' (have {sorted(refs)})")
    return int(refs[ref]["version"])


def snapshots(table_dir: str) -> list[dict]:
    """Committed snapshot history, oldest first: (version, branch,
    parent, n_files, rows) per manifest — the `.snapshots`
    metadata-table analog (see also metadata_table)."""
    out = []
    for v in range(1, current_version(table_dir) + 1):
        try:
            m = load_manifest(table_dir, v)
        except FileNotFoundError:  # reclaimed by expire_snapshots
            continue
        out.append(
            {
                "version": v,
                "branch": m.get("branch", "main"),
                "parent": int(m.get("parent", v - 1)),
                "n_files": len(m["files"]),
                "rows": sum(f["rows"] for f in m["files"]),
                "ts": m.get("ts"),
            }
        )
    return out


def _segment_layout(
    table_dir: str,
    parent_m: dict | None,
    files: list[dict],
    v: int,
    roll: int | None = None,
) -> tuple[list[dict], list[dict]]:
    """(segments, inline) layout for a new manifest whose visible file
    list is ``files`` — the Iceberg manifest-file reuse rule: a PARENT
    segment is carried by reference iff every one of its entries appears
    unchanged in ``files``; everything else (new files, files whose entry
    changed — a MOR delete gain, a seq back-stamp — and survivors of a
    partially-invalidated segment) goes inline. Inline entries without a
    sequence number are stamped ``v`` (they are new in this commit). When
    the inline list exceeds :data:`SEGMENT_ROLL` it is rolled into a
    fresh immutable ``seg-*.json`` — so steady-state appends write
    O(delta + n_segments) metadata instead of re-serializing the table's
    whole file list, and a single-file mutation re-inlines one segment's
    entries, not the table. A segment written by a commit attempt that
    loses the CAS race is an orphan (remove_orphan_files reclaims it
    after the safety window)."""
    new_by_path = {f["path"]: f for f in files}
    kept: list[dict] = []
    covered: set[str] = set()
    for seg in (parent_m or {}).get("segments") or []:
        entries = _load_segment(os.path.join(table_dir, seg["path"]))
        if all(new_by_path.get(e["path"]) == e for e in entries):
            kept.append(seg)
            covered.update(e["path"] for e in entries)
    inline = [
        f if "seq" in f else {**f, "seq": v}
        for f in files
        if f["path"] not in covered
    ]
    if len(inline) > (SEGMENT_ROLL if roll is None else int(roll)):
        name = f"seg-{uuid.uuid4().hex}.json"
        tmp = os.path.join(table_dir, f"._seg.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(inline, f)
        os.replace(tmp, os.path.join(table_dir, name))
        kept.append(
            {
                "path": name,
                "n_files": len(inline),
                "rows": sum(int(e["rows"]) for e in inline),
            }
        )
        inline = []
    return kept, inline


def commit_snapshot(
    table_dir: str,
    files: list[dict],
    schema_json: str,
    expected_base: int | None = None,
    field_ids: dict | None = None,
    last_field_id: int | None = None,
    branch: str | None = "main",
    parent: int | None = None,
    refs_update: dict | None = None,
    eq_deletes: list | None = None,
    segment_roll: int | None = None,
) -> int:
    """Optimistic-concurrency commit (the Iceberg metadata-pointer CAS):
    the EXCLUSIVE creation of manifest-v{N+1}.json — a fully-written temp
    file hard-linked into place, so the name appears atomically with its
    complete content — is the commit point; losing the link race means
    another writer committed N+1 first and raises CommitConflict. With
    ``expected_base`` set, the commit also fails if ANY snapshot landed
    since that base (the caller's file list was computed against it and
    would silently drop the intervening commit's files — the lost-update
    hazard). Callers retry by recomputing from the new head.

    Refs (the Iceberg branch/tag model): every manifest carries the FULL
    ``refs`` map ({name: {type, version}}) forward from the previous
    newest manifest; manifest versions stay one linear allocation chain
    (like Iceberg's unique snapshot ids) while refs select which of them
    a reader sees. ``branch`` names the ref this commit advances
    (``refs[branch]`` := the new version; default ``main``; None =
    refs-only metadata commit that advances nothing), ``parent`` records
    the snapshot the file list was computed against (default: the
    branch's previous head) — CDC diffs follow this parent chain, so
    branch commits never leak into main's change feed. ``refs_update``
    applies explicit ref assignments (value None deletes the ref) —
    create_branch / create_tag / drop_ref ride it. Writing to a TAG
    fails: tags are immutable.

    Sequence numbers (the Iceberg V2 ordering that scopes equality
    deletes): every file entry carries ``seq`` = the version that first
    committed it; entries arriving without one are stamped with THIS
    commit's version (correct for new files; carried legacy entries are
    back-stamped 0 by the first delete_where_eq, see there). The
    table-level ``eq_deletes`` list is carried from the PARENT manifest
    when not passed — content lineage, so a branch's equality deletes
    never leak into main through a later main commit.

    The version hint is updated best-effort AFTER the link; a crash
    between the two leaves a stale hint that current_version's forward
    probe repairs. A crash before the link leaves the previous snapshot
    intact and the new data files unreferenced (Iceberg's orphan files,
    cleaned by maintenance, never read)."""
    head = current_version(table_dir)
    if expected_base is not None and head != expected_base:
        raise CommitConflict(
            f"table advanced to v{head} since base v{expected_base}"
        )
    v = head + 1
    manifest = {"version": v, "schema": schema_json, "ts": time.time()}
    prior = load_manifest(table_dir, head, _raw=True) if head else None
    refs = dict((prior or {}).get("refs") or {})
    if not refs and head:  # legacy table: main implicitly tracked the chain
        refs = {"main": {"type": "branch", "version": head}}
    if refs_update:
        for name, tgt in refs_update.items():
            if tgt is None:
                refs.pop(name, None)
            else:
                if tgt.get("version") is None:  # "the version being committed"
                    tgt = {**tgt, "version": v}
                refs[name] = tgt
    if branch is not None:
        existing = refs.get(branch)
        if existing is not None and existing.get("type") == "tag":
            raise ValueError(f"ref '{branch}' is a tag — tags are immutable")
        if parent is None:
            parent = int(existing["version"]) if existing else head
        refs[branch] = {"type": "branch", "version": v}
        manifest["branch"] = branch
        manifest["parent"] = int(parent)
    else:
        manifest["branch"] = None
        manifest["parent"] = head
    manifest["refs"] = refs
    parent_m = None
    p = int(manifest["parent"])
    if p >= 1:
        try:
            parent_m = load_manifest(table_dir, p)
        except FileNotFoundError:  # parent expired (expire_snapshots)
            parent_m = None
    segments, inline = _segment_layout(
        table_dir, parent_m, files, v, roll=segment_roll
    )
    manifest["files"] = inline
    if segments:
        manifest["segments"] = segments
    if eq_deletes is None:  # carry the content lineage's equality deletes
        eq_deletes = (parent_m or {}).get("eq_deletes") or []
    eq_deletes = [e if e.get("seq") is not None else {**e, "seq": v} for e in eq_deletes]
    if eq_deletes:
        manifest["eq_deletes"] = eq_deletes
    if field_ids is None and head:  # carry the id registry forward verbatim
        field_ids = prior.get("field_ids")
        last_field_id = prior.get("last_field_id")
    if field_ids is not None:
        manifest["field_ids"] = field_ids
        manifest["last_field_id"] = int(
            last_field_id
            if last_field_id is not None
            else max(field_ids.values(), default=0)
        )
    mpath = os.path.join(table_dir, f"manifest-v{v}.json")
    tmp = os.path.join(table_dir, f"._manifest.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, mpath)  # atomic create-if-absent: THE commit point
    except FileExistsError:
        raise CommitConflict(f"concurrent writer committed v{v} first") from None
    finally:
        os.remove(tmp)
    hint_tmp = os.path.join(table_dir, f"._hint.{uuid.uuid4().hex}")
    with open(hint_tmp, "w") as f:
        f.write(str(v))
    os.replace(hint_tmp, _hint_path(table_dir))
    return v


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------

@dataclass
class _FileSplit(InputPartition):
    path: str
    journal_dir: str | None
    # merge-on-read: position-delete files (Iceberg V2 delete files) whose
    # `pos` rows are skipped while streaming this data file
    deletes: tuple = ()
    # field-id mapping: ((id_str, physical_name), ...) — the file's columns
    # keyed by FIELD ID (the Iceberg column-ID model), empty for files that
    # predate id tracking (those resolve by name)
    name_map: tuple = ()
    # merge-on-read EQUALITY deletes applicable to this file (Iceberg V2's
    # second delete flavor): ((eq_file_abs_path, current_col_name), ...) —
    # only eq files whose sequence is newer than the data file's; rows
    # whose key value appears in an eq file are skipped while streaming
    eq_deletes: tuple = ()


def _mapped_source(
    field_name: str, field_ids: dict, name_map: dict
) -> str | None:
    """Physical column holding ``field_name``'s data in one file: files
    with an explicit id map resolve CURRENT name → field id → the name
    the file was written under (rename-safe; a retired id's bytes can
    never surface under a re-added name); files without one resolve by
    name (pre-field-id behavior, byte-identical). None = the file never
    contained this field → NULL-fill."""
    if not name_map:
        return field_name
    fid = field_ids.get(field_name)
    return name_map.get(str(fid)) if fid is not None else None


def _eq_current_col(manifest: dict, eq: dict) -> str | None:
    """CURRENT schema name of an equality-delete file's key column: the
    delete binds by FIELD ID (rename-safe — renaming the key column does
    not detach past deletes); None when the id was retired by a column
    drop (the delete can no longer bind — its rows were value-matched on
    a column that no longer exists). Legacy eq entries without an id
    resolve by their recorded name."""
    fid = eq.get("col_id")
    if fid is None:
        return eq.get("col")
    for name, i in (manifest.get("field_ids") or {}).items():
        if int(i) == int(fid):
            return name
    return None


def _eq_value_filter(batch, src: str, values):
    """Remove batch rows whose ``src`` value appears in ``values``
    (NULLs never match — eq-delete keys are written non-null). Keys are
    cast to the column's type: older key files may hold another type."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if src not in batch.schema.names or not values:
        return batch
    vset = pa.array(list(values)).cast(batch.schema.field(src).type)
    hit = pc.is_in(batch.column(src), value_set=vset)
    return batch.filter(pc.fill_null(pc.invert(hit), True))


class DocStoreReader(DataSourceReader):
    """The ``spark.read.format("docstore")`` reader: one input split per
    planned file, visible rows streamed through Python workers. Engine
    reads go through `load` instead, which returns the same rows from JVM
    parquet scans."""

    def __init__(self, options: dict, schema: StructType) -> None:
        self.table_dir = options["path"]
        # optional side-channel recording which files were actually opened
        # (the pruning-evidence hook for tests; no-op unless set)
        self.journal_dir = options.get("journal") or None
        # load-time partition bound (CSV of partition_id values), fixed at
        # load() and therefore plan-stable: an Iceberg scan-planning
        # bound, NOT a row filter — files whose partition_id stats
        # intersect the set are read whole, and callers who need exact
        # rows still apply the row-level predicate
        pin = options.get("partition_in")
        self.part_in: list[int] | None = (
            [int(x) for x in str(pin).split(",") if x.strip() != ""]
            if pin is not None
            else None
        )
        v = options.get("version")
        self.manifest = load_manifest(
            self.table_dir,
            int(v) if v is not None else None,
            ref=options.get("ref") or options.get("branch"),
        )

    def partitions(self) -> Sequence[InputPartition]:
        where = {STATS_COLUMN: self.part_in} if self.part_in is not None else None
        eq_resolved = [
            (
                os.path.join(self.table_dir, e["path"]),
                _eq_current_col(self.manifest, e),
                int(e["seq"]),
            )
            for e in (self.manifest.get("eq_deletes") or [])
        ]
        splits = []
        for f in plan_files(self.table_dir, self.manifest, where):
            fseq = int(f.get("seq", 0))
            splits.append(
                _FileSplit(
                    os.path.join(self.table_dir, f["path"]),
                    self.journal_dir,
                    tuple(
                        os.path.join(self.table_dir, d)
                        for d in f.get("deletes", ())
                    ),
                    tuple(sorted((f.get("name_map") or {}).items())),
                    tuple(
                        (p, c) for p, c, s in eq_resolved
                        if c is not None and s > fseq
                    ),
                )
            )
        # empty-scan guard: Spark requires >= 1 partition
        return splits or [_FileSplit("", None)]

    def read(self, part: _FileSplit):  # -> Iterator[pa.RecordBatch]
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not part.path:
            return
        if part.journal_dir:
            open(
                os.path.join(
                    part.journal_dir,
                    f"opened-{os.path.basename(part.path)}",
                ),
                "w",
            ).close()
        pf = pq.ParquetFile(part.path)
        expected = self._arrow_schema()
        nm = dict(part.name_map)
        fids = self.manifest.get("field_ids") or {}
        srcs: list[str | None] = []
        if expected is not None:
            srcs = [_mapped_source(f.name, fids, nm) for f in expected]
        import numpy as np

        dropped: "np.ndarray | None" = None
        if part.deletes:
            dropped = np.unique(
                np.concatenate(
                    [
                        pq.read_table(dpath, columns=["pos"])["pos"]
                        .to_numpy(zero_copy_only=False)
                        .astype(np.int64)
                        for dpath in part.deletes
                    ]
                )
            )
        # equality deletes: each applicable eq file's keys load once per
        # task into a hash set (exactly Iceberg's execution model — eq
        # deletes are task-memory-resident) and filter every batch; the
        # key column is resolved through THIS file's id map, so renames
        # never detach a delete
        eq_sets: list[tuple[str, set]] = []
        for epath, cur in part.eq_deletes:
            src = _mapped_source(cur, fids, nm)
            if src is None:
                continue
            vals = set(pq.read_table(epath).column(0).to_pylist())
            vals.discard(None)
            if vals:
                eq_sets.append((src, vals))
        # position deletes address rows by absolute index within the file
        offset = 0
        for batch in pf.iter_batches():
            start, offset = offset, offset + batch.num_rows
            if dropped is not None and dropped.size:
                # position-delete bitmap for this batch's span, applied
                # vectorized: binary-search each absolute row index into
                # the sorted delete positions (no per-row Python)
                idx = np.arange(start, start + batch.num_rows, dtype=np.int64)
                ins = np.searchsorted(dropped, idx)
                ins[ins == dropped.size] = dropped.size - 1
                hit = dropped[ins] == idx
                if hit.any():
                    batch = batch.filter(pa.array(~hit))
                    if batch.num_rows == 0:
                        continue
            for src, vals in eq_sets:
                batch = _eq_value_filter(batch, src, vals)
            if batch.num_rows == 0:
                continue
            if expected is None or (
                srcs == expected.names and batch.schema.names == expected.names
            ):
                yield batch
                continue
            # schema evolution: id-mapped files resolve each CURRENT field
            # through field id → written-under name (rename-safe, retired
            # ids never resurface); legacy files resolve by name. Missing
            # columns NULL-fill, dropped ones project away; order follows
            # the snapshot schema.
            cols = []
            for field, src in zip(expected, srcs):
                if src is not None and src in batch.schema.names:
                    cols.append(batch.column(src))
                else:
                    cols.append(pa.nulls(batch.num_rows, type=field.type))
            yield pa.RecordBatch.from_arrays(cols, schema=expected)

    def _arrow_schema(self):
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            return to_arrow_schema(
                StructType.fromJson(json.loads(self.manifest["schema"]))
            )
        except Exception:  # pragma: no cover - conversion gap → no evolution
            return None


# ---------------------------------------------------------------------------
# CDC stream read path
# ---------------------------------------------------------------------------

@dataclass
class _CdcSplit(InputPartition):
    """One changed data file's contribution to one commit's change feed."""

    path: str  # absolute; "" = empty-batch guard
    change_type: str = ""  # 'insert' | 'delete'
    version: int = 0  # the commit that produced this change
    skip_positions: tuple = ()  # delete files bounding VISIBILITY (paths)
    only_positions: tuple = ()  # delete files whose positions to EMIT (paths)
    name_map: tuple = ()  # ((id_str, physical_name), ...) — field-id mapping
    # equality-delete scoping, value-based mirrors of the two above:
    # ((eq_abs_path, current_col), ...) — skip_eq bounds visibility (rows
    # already eq-deleted), only_eq selects rows a NEW eq delete removes
    skip_eq: tuple = ()
    only_eq: tuple = ()


def _diff_version_step(table_dir: str, v: int) -> list[_CdcSplit]:
    """File-granular change splits for commit ``v`` against its recorded
    PARENT snapshot (the branch head the commit was computed from; v-1
    for legacy manifests), from metadata alone. Parent-chain diffing is
    what keeps a branch's staged files out of main's feed until a
    publish: the publish commit's parent is the old main head, so its
    diff is exactly the published content. A first commit (parent 0)
    diffs against an empty table.

    Equality deletes: a NEW eq-delete file in commit ``v`` contributes
    one 'delete' split per data file it scopes to (file.seq < eq.seq),
    emitting exactly the rows it removed — bounded by the file's position
    deletes and OLDER applicable eq deletes, so already-invisible rows
    never re-emit. Visibility of added/removed files is likewise bounded
    by the eq deletes applicable at their side of the diff."""
    m1 = load_manifest(table_dir, v)
    parent = int(m1.get("parent", v - 1))
    m0 = load_manifest(table_dir, parent) if parent >= 1 else None
    by0 = {f["path"]: f for f in m0["files"]} if m0 else {}
    by1 = {f["path"]: f for f in m1["files"]}
    ap = lambda p: os.path.join(table_dir, p)  # noqa: E731

    def _eqs(m: dict | None, fseq: int, upto: int | None = None) -> tuple:
        """(abs_path, current_col) of eq files in ``m`` scoping a file of
        sequence ``fseq`` (optionally only those with seq < upto)."""
        if m is None:
            return ()
        return tuple(
            (ap(e["path"]), _eq_current_col(m, e))
            for e in (m.get("eq_deletes") or [])
            if _eq_current_col(m, e) is not None
            and int(e.get("seq", 0)) > fseq
            and (upto is None or int(e.get("seq", 0)) < upto)
        )

    eq0_paths = {e["path"] for e in ((m0 or {}).get("eq_deletes") or [])}
    new_eqs = [
        e for e in (m1.get("eq_deletes") or []) if e["path"] not in eq0_paths
    ]
    splits: list[_CdcSplit] = []
    for p, f in by1.items():
        fseq = int(f.get("seq", 0))
        if p not in by0:  # added file: its v-visible rows are inserts
            splits.append(
                _CdcSplit(ap(p), "insert", v,
                          skip_positions=tuple(ap(d) for d in f.get("deletes", ())),
                          name_map=tuple(sorted((f.get("name_map") or {}).items())),
                          skip_eq=_eqs(m1, fseq))
            )
            continue
        new_dels = [d for d in f.get("deletes", ())
                    if d not in by0[p].get("deletes", ())]
        if new_dels:  # carried file, new MOR delete file(s): those rows are deletes
            splits.append(
                _CdcSplit(ap(p), "delete", v,
                          only_positions=tuple(ap(d) for d in new_dels),
                          name_map=tuple(sorted((f.get("name_map") or {}).items())),
                          skip_eq=_eqs(m0, fseq))
            )
    for p, f in by0.items():
        if p not in by1:  # removed file: its (v-1)-visible rows are deletes
            splits.append(
                _CdcSplit(ap(p), "delete", v,
                          skip_positions=tuple(ap(d) for d in f.get("deletes", ())),
                          name_map=tuple(sorted((f.get("name_map") or {}).items())),
                          skip_eq=_eqs(m0, int(f.get("seq", 0))))
            )
    for e in new_eqs:  # new equality delete: value-matched rows are deletes
        cur = _eq_current_col(m1, e)
        if cur is None:
            continue
        eseq = int(e.get("seq", 0))
        for p, f in by1.items():
            fseq = int(f.get("seq", 0))
            if fseq >= eseq or p not in by0:
                continue  # later files escape; added files handled above
            splits.append(
                _CdcSplit(ap(p), "delete", v,
                          skip_positions=tuple(ap(d) for d in f.get("deletes", ())),
                          name_map=tuple(sorted((f.get("name_map") or {}).items())),
                          # rows an OLDER eq delete already removed are
                          # invisible — they must not re-emit as deletes
                          skip_eq=_eqs(m0, fseq, upto=eseq),
                          only_eq=((ap(e["path"]), cur),))
            )
    return splits


class DocStoreCdcStreamReader(DataSourceStreamReader):
    """Streaming change feed over docstore snapshots — snapshot VERSIONS are
    the offset log (the Iceberg incremental-read / Delta CDF streaming
    model): ``latestOffset`` is one metadata read, each micro-batch is the
    file-granular diff of a contiguous version range, planned one input
    split per changed file and read executor-side as Arrow batches. No
    shuffle, no driver data, deterministic replay from immutable manifests
    (exactly-once under Spark's offset checkpointing).

    Emitted rows are RAW file-level changes: an added file's visible rows
    as ``_change_type='insert'``, a removed file's previously-visible rows
    as ``'delete'``, a merge-on-read delete file's positions as
    ``'delete'``. A copy-on-write rewrite therefore emits delete+insert
    pairs for carried rows — consumers needing NET row changes aggregate
    by key downstream (the batch ``changelog()`` applies that join-based
    cancellation; a streaming source must not shuffle inside a scan).

    Options: ``startingVersion`` (default: the current version at stream
    start, i.e. only NEW commits stream — Iceberg's stream-from-now
    default; 0 replays the whole table history as CDC).
    ``maxVersionsPerBatch``: admission control (the Iceberg
    ``max-files-per-micro-batch`` analog at this source's natural
    planning unit) — each micro-batch advances at most that many snapshot
    versions, so replaying a 10^4-commit backlog becomes a sequence of
    bounded batches instead of one giant plan (use a processingTime
    trigger: availableNow latches ONE end offset up front, so it drains
    at most one clamped batch per invocation). The admission base starts
    at ``startingVersion`` and ratchets monotonically over every offset
    observed — including a restarted stream's checkpointed start via
    ``partitions`` — so restarts resume exactly (restart-probe-verified:
    no duplicate versions, no backward batch).

    A version below ``startingVersion`` that ``expire_snapshots`` has
    reclaimed fails loudly at plan time — silently emitting a partial feed
    would break exactly-once downstream state.
    """

    def __init__(self, options: dict, schema: StructType) -> None:
        self.table_dir = options["path"]
        self.schema = schema
        sv = options.get("startingVersion")
        self._start = int(sv) if sv is not None else current_version(self.table_dir)
        mv = options.get("maxVersionsPerBatch")
        self.max_versions = int(mv) if mv is not None else None
        if self.max_versions is not None and self.max_versions < 1:
            raise ValueError("maxVersionsPerBatch must be >= 1")
        self._last: int | None = self._start if mv is not None else None
        head = current_version(self.table_dir)
        self.field_ids = (
            (load_manifest(self.table_dir, head).get("field_ids") or {}) if head else {}
        )

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        head = current_version(self.table_dir)
        if self.max_versions is None:
            return {"version": head}
        nxt = max(self._last, min(head, self._last + self.max_versions))
        self._last = nxt
        return {"version": nxt}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        if self.max_versions is not None:
            # keep the admission base monotonic vs everything observed —
            # including a RESTARTED stream's checkpointed start, which
            # latestOffset cannot see (restart probe: resumes exactly,
            # no duplicate and no backward batch)
            self._last = max(self._last or 0, lo, hi)
        splits: list[_CdcSplit] = []
        for v in range(lo + 1, hi + 1):
            # the feed follows MAIN: branch commits (staged WAP writes) and
            # refs-only metadata commits never reach it — a publish surfaces
            # the branch's net content once, via its parent-chain diff
            if load_manifest(self.table_dir, v).get("branch", "main") != "main":
                continue
            splits.extend(_diff_version_step(self.table_dir, v))
        return splits or [_CdcSplit("")]

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; manifests are immutable

    def stop(self) -> None:
        pass

    def read(self, part: _CdcSplit):  # -> Iterator[pa.RecordBatch]
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not part.path:
            return
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            expected = to_arrow_schema(self.schema)
        except Exception:  # pragma: no cover
            expected = None
        skip: set[int] = set()
        for dpath in part.skip_positions:
            skip.update(pq.read_table(dpath, columns=["pos"])["pos"].to_pylist())
        only: set[int] | None = None
        if part.only_positions:
            only = set()
            for dpath in part.only_positions:
                only.update(pq.read_table(dpath, columns=["pos"])["pos"].to_pylist())

        def _eq_pairs(specs: tuple) -> list[tuple[str, set]]:
            """Resolve (eq_path, current_col) specs to this FILE's physical
            column + value set; unresolvable columns contribute nothing."""
            out = []
            for epath, cur in specs:
                src = _mapped_source(cur, self.field_ids, dict(part.name_map))
                if src is None:
                    continue
                vals = set(pq.read_table(epath).column(0).to_pylist())
                vals.discard(None)
                if vals:
                    out.append((src, vals))
            return out

        skip_eq = _eq_pairs(part.skip_eq)
        only_eq = _eq_pairs(part.only_eq)
        offset = 0
        for batch in pq.ParquetFile(part.path).iter_batches():
            start, offset = offset, offset + batch.num_rows
            keep = [
                i
                for i in range(batch.num_rows)
                if (start + i) not in skip
                and (only is None or (start + i) in only)
            ]
            if len(keep) < batch.num_rows:
                batch = batch.take(pa.array(keep, type=pa.int32()))
            for src, vals in skip_eq:  # rows already eq-deleted: invisible
                batch = _eq_value_filter(batch, src, vals)
            if part.only_eq:  # emit ONLY rows the new eq delete removed
                import pyarrow.compute as pc

                mask = None
                for src, vals in only_eq:
                    if src not in batch.schema.names:
                        continue
                    vset = pa.array(list(vals), type=batch.schema.field(src).type)
                    hit = pc.fill_null(
                        pc.is_in(batch.column(src), value_set=vset), False
                    )
                    mask = hit if mask is None else pc.or_(mask, hit)
                batch = (
                    batch.filter(mask)
                    if mask is not None
                    else batch.slice(0, 0)
                )
            if batch.num_rows == 0:
                continue
            n = batch.num_rows
            cols, fields = [], []
            for field in expected:
                if field.name == "_change_type":
                    cols.append(pa.array([part.change_type] * n, type=field.type))
                elif field.name == "_commit_version":
                    cols.append(pa.array([part.version] * n, type=field.type))
                else:
                    src = _mapped_source(field.name, self.field_ids, dict(part.name_map))
                    if src is not None and src in batch.schema.names:
                        cols.append(batch.column(src).cast(field.type))
                    else:  # pre-evolution / renamed-away file: NULL-fill
                        cols.append(pa.nulls(n, type=field.type))
                fields.append(field)
            yield pa.RecordBatch.from_arrays(cols, schema=pa.schema(fields))


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------

def _merge_schemas(old_json: str, new_json: str) -> StructType:
    """Name-based schema evolution on append (the Iceberg add-column
    rule): established columns keep their position and type (a type
    conflict fails loudly — no silent promotion); columns present on only
    one side become NULLABLE, because some committed data files will lack
    them and read back NULL-filled. Added columns append at the end in
    write order."""
    from pyspark.sql.types import StructField

    old = StructType.fromJson(json.loads(old_json))
    new = StructType.fromJson(json.loads(new_json))
    new_by_name = {f.name: f for f in new.fields}
    fields = []
    for f in old.fields:
        nf = new_by_name.pop(f.name, None)
        if nf is None:
            fields.append(StructField(f.name, f.dataType, True))
        elif nf.dataType != f.dataType:
            raise TypeError(
                f"schema evolution cannot change column '{f.name}' from "
                f"{f.dataType.simpleString()} to {nf.dataType.simpleString()}"
            )
        else:
            fields.append(StructField(f.name, f.dataType, f.nullable or nf.nullable))
    for f in new.fields:  # preserve the incoming order of added columns
        if f.name in new_by_name:
            fields.append(StructField(f.name, f.dataType, True))
    return StructType(fields)


def _evolved_ids(
    prior_manifest: dict | None,
    schema_names: list[str],
    overwrite: bool = False,
    floor: int = 0,
) -> tuple[dict, int]:
    """(field_ids, last_field_id) after a commit introducing
    ``schema_names``: established names keep their ids, new names draw
    fresh ones from the MONOTONIC counter (a dropped name's id is retired
    forever — re-adding the name mints a new id, which is what stops old
    files' bytes resurrecting). A legacy table initializes ids in its
    established field order — safe because every pre-id file resolves by
    name until a rename/drop back-fills its name_map. ``floor`` raises
    the counter to the TABLE-WIDE maximum before minting: branch commits
    evolve ids against their branch head, but ids must stay unique across
    every branch (two branches each adding a column must not collide)."""
    if prior_manifest is None:
        fid: dict[str, int] = {}
        last = 0
    else:
        fid = dict(prior_manifest.get("field_ids") or {})
        last = int(prior_manifest.get("last_field_id") or max(fid.values(), default=0))
        if not fid:
            for n in (f["name"] for f in json.loads(prior_manifest["schema"])["fields"]):
                last += 1
                fid[n] = last
    last = max(last, int(floor))
    for n in schema_names:
        if n not in fid:
            last += 1
            fid[n] = last
    if overwrite:
        keep = set(schema_names)
        fid = {n: i for n, i in fid.items() if n in keep}
    return fid, last


@dataclass
class _FilesWritten(WriterCommitMessage):
    files: list  # [{path, rows, stats}]


class DocStoreWriter(DataSourceArrowWriter):
    """Arrow-batch writer: each task streams its record batches into one
    parquet file under the table dir and reports (path, rows, stats) in
    its commit message; nothing becomes visible until `commit` swaps the
    version hint on the driver."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool) -> None:
        self.table_dir = options["path"]
        self.schema_json = schema.json()
        self.overwrite = overwrite
        self.branch = options.get("branch") or "main"
        # manifest-segment roll threshold as a write option: the writer's
        # commit runs in a Spark python worker, where the module global
        # isn't the caller's (tests shrink it to force multi-segment
        # layouts; production leaves the default)
        sr = options.get("segment_roll")
        self.segment_roll = int(sr) if sr is not None else None
        # bucket transform spec "col:n" — the writer records min/max of
        # bucket(col) per file under the virtual stats column
        # __bucket_{col}_{n} so hash-clustered point lookups prune (see
        # the transform header above); malformed specs fail the write
        bb = options.get("bucket_by")
        self.bucket_col: str | None = None
        self.bucket_n = 0
        if bb:
            col, _, num = str(bb).rpartition(":")
            if not col or not num.isdigit() or int(num) < 1:
                raise ValueError(f"bucket_by must be 'col:n', got {bb!r}")
            self.bucket_col, self.bucket_n = col, int(num)
        # Bloom sidecar spec: CSV of key columns — one per-file Bloom each
        # (bloom-{file}-{col}.bin), the point-lookup stats for UNclustered
        # layouts (see the sidecar header above)
        blm = options.get("bloom_by")
        self.bloom_cols: list[str] = (
            [c.strip() for c in str(blm).split(",") if c.strip()] if blm else []
        )
        os.makedirs(self.table_dir, exist_ok=True)
        if self.branch != "main":
            # fail BEFORE tasks write data files: the branch must exist
            # (create_branch) and not be a tag; commit re-checks under CAS
            ref = table_refs(self.table_dir).get(self.branch)
            if ref is None:
                raise ValueError(
                    f"no branch '{self.branch}' — create_branch() first"
                )
            if ref.get("type") == "tag":
                raise ValueError(f"'{self.branch}' is a tag — tags are immutable")

    def write(self, batches) -> _FilesWritten:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        name = f"data-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.table_dir, f"._tmp.{name}")
        writer = None
        rows = 0
        # per-column (h1, h2) accumulators for Bloom sidecars: 16 B/row/col
        # of writer memory, bounded by the task's file size
        bloom_acc: dict[str, list] = {c: [] for c in self.bloom_cols}
        # per-file min/max for EVERY primitive column (the Iceberg
        # manifest-stats model): pruning then works on whatever column a
        # file's layout happens to cluster — which is what makes reads
        # survive partition/layout evolution (old files prune by the old
        # layout column, new files by the new one, with no spec registry)
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        for batch in batches:
            if writer is None:
                writer = pq.ParquetWriter(tmp, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
            for field in batch.schema:
                t = field.type
                # floats are EXCLUDED: pyarrow min_max (like parquet
                # footers) ignores NaN, but Spark SQL orders NaN above
                # every double — NaN-blind bounds would prune files whose
                # NaN rows a pushed `x > v` filter matches post-scan
                # (the Iceberg nan_value_counts problem; we opt out of
                # float pruning instead of tracking the flag)
                if not (
                    pa.types.is_integer(t)
                    or pa.types.is_string(t)
                    or pa.types.is_boolean(t)
                ):
                    continue
                mm = pc.min_max(batch.column(field.name)).as_py()
                lo, hi = _stat_safe(mm["min"]), _stat_safe(mm["max"])
                if lo is None or hi is None:
                    continue
                c = field.name
                mins[c] = lo if c not in mins else min(mins[c], lo)
                maxs[c] = hi if c not in maxs else max(maxs[c], hi)
            if self.bucket_col and self.bucket_col in batch.schema.names:
                import numpy as np

                vc = batch.column(self.bucket_col).drop_null()
                if len(vc):
                    if pa.types.is_integer(vc.type):
                        bk = np.mod(
                            _xxh64_long(vc.to_numpy(zero_copy_only=False)),
                            np.int64(self.bucket_n),
                        )
                        blo, bhi = int(bk.min()), int(bk.max())
                    else:
                        bk = _bucket_of(vc.to_pylist(), self.bucket_n)
                        blo, bhi = min(bk), max(bk)
                    key = _bucket_stat_key(self.bucket_col, self.bucket_n)
                    mins[key] = blo if key not in mins else min(mins[key], blo)
                    maxs[key] = bhi if key not in maxs else max(maxs[key], bhi)
            for c in self.bloom_cols:
                if c not in batch.schema.names:
                    continue
                vc = batch.column(c).drop_null()
                if len(vc):
                    bloom_acc[c].append(bloomops.key_hashes(vc.to_pylist()))
        if writer is None:
            return _FilesWritten([])
        writer.close()
        os.replace(tmp, os.path.join(self.table_dir, name))
        stats = {c: [mins[c], maxs[c]] for c in mins}
        blooms: dict[str, str] = {}
        if any(bloom_acc.values()):
            import numpy as np

            stem = name[len("data-"):-len(".parquet")]
            for c, parts in bloom_acc.items():
                if not parts:
                    continue
                blob = bloomops.blob_from_hashes(np.concatenate(parts))
                sname = f"bloom-{stem}-{c}.bin"
                stmp = os.path.join(self.table_dir, f"._tmp.{sname}")
                with open(stmp, "wb") as fh:
                    fh.write(blob)
                os.replace(stmp, os.path.join(self.table_dir, sname))
                blooms[c] = sname
        entry: dict = {"path": name, "rows": rows, "stats": stats}
        if blooms:
            entry["blooms"] = blooms
        return _FilesWritten([entry])

    def commit(self, messages: list[_FilesWritten]) -> None:
        new_files: list[dict] = []
        for m in messages:
            new_files.extend(m.files)
        # optimistic-concurrency retry (Iceberg's commit loop): recompute
        # the file list against the CURRENT head each attempt, so a
        # concurrent commit is re-merged instead of silently dropped
        write_names = [f["name"] for f in json.loads(self.schema_json)["fields"]]
        for _ in range(64):
            base = current_version(self.table_dir)
            newest = load_manifest(self.table_dir, base) if base else None
            # content base: the TARGET BRANCH's head (append base + schema
            # evolution), not the newest manifest; the id floor is global
            prior = (
                load_manifest(self.table_dir, ref=self.branch)
                if base and (self.branch != "main" or newest is not None)
                else None
            )
            floor = int((newest or {}).get("last_field_id") or 0)
            schema_json = self.schema_json
            if not self.overwrite and prior is not None:
                schema_json = _merge_schemas(
                    prior["schema"], self.schema_json
                ).json()
            fid, last = _evolved_ids(
                prior, write_names, overwrite=self.overwrite, floor=floor
            )
            nm = {str(fid[n]): n for n in write_names}
            files = [{**f, "name_map": nm} for f in new_files] if fid else list(new_files)
            if not self.overwrite and prior is not None:
                files = prior["files"] + files
            try:
                commit_snapshot(
                    self.table_dir, files, schema_json,
                    expected_base=base, field_ids=fid, last_field_id=last,
                    branch=self.branch,
                    # overwrite replaces the content — stale equality
                    # deletes must not apply to the fresh files (their seq
                    # would escape anyway; clearing keeps the manifest
                    # honest); append carries the branch lineage's list
                    eq_deletes=[] if self.overwrite else None,
                    segment_roll=self.segment_roll,
                )
                return
            except CommitConflict:
                continue
        raise CommitConflict(
            f"gave up after 64 contended commit attempts on {self.table_dir}"
        )

    def abort(self, messages: list[_FilesWritten]) -> None:
        # uncommitted data files are invisible (manifest-driven planning);
        # best-effort cleanup of the orphans
        for m in messages:
            for f in m.files:
                try:
                    os.remove(os.path.join(self.table_dir, f["path"]))
                except OSError:
                    pass


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------

class DocStoreDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "docstore"

    def schema(self) -> StructType:
        v = self.options.get("version")
        manifest = load_manifest(
            self.options["path"],
            int(v) if v is not None else None,
            ref=self.options.get("ref") or self.options.get("branch"),
        )
        st = StructType.fromJson(json.loads(manifest["schema"]))
        if str(self.options.get("cdc", "")).lower() == "true":
            from pyspark.sql.types import IntegerType, StringType

            st = StructType(list(st.fields)).add("_change_type", StringType()).add(
                "_commit_version", IntegerType()
            )
        return st

    def reader(self, schema: StructType) -> DocStoreReader:
        return DocStoreReader(self.options, schema)

    def streamReader(self, schema: StructType) -> DocStoreCdcStreamReader:
        if str(self.options.get("cdc", "")).lower() != "true":
            raise ValueError(
                "docstore readStream requires .option('cdc','true') — the "
                "streaming surface is the snapshot change feed"
            )
        return DocStoreCdcStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> DocStoreWriter:
        return DocStoreWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Idempotent registration of the docstore format on this session."""
    spark.dataSource.register(DocStoreDataSource)


# ---------------------------------------------------------------------------
# table maintenance: the expireSnapshots / rewriteDataFiles analogs
# ---------------------------------------------------------------------------

def expire_snapshots(
    table_dir: str, keep_last: int = 1, older_than_seconds: float | None = None
) -> dict:
    """Drop all but the newest ``keep_last`` snapshots and delete data
    files no surviving snapshot references (Iceberg expireSnapshots +
    orphan cleanup). The current snapshot is never expired; time travel
    to expired versions fails loudly afterwards.

    ``older_than_seconds`` adds the Iceberg ``olderThan`` age gate: only
    snapshots COMMITTED more than that many seconds ago are expirable —
    retention becomes "keep at least ``keep_last``, and everything
    younger than the horizon" (commit time from the manifest's ``ts``;
    pre-ts manifests fall back to file mtime).

    Deletion order is crash-safe: manifests of expired versions are
    removed FIRST (making those versions unreadable), then data files
    referenced only by them — a crash mid-way leaves extra unreferenced
    files (invisible to manifest-driven scans), never a readable snapshot
    with missing data.

    Refs are retention anchors (the Iceberg model): every snapshot a
    branch or tag points at survives regardless of ``keep_last`` — a tag
    pins its snapshot until the tag is dropped. The newest manifest always
    survives (it carries the refs map and id registry)."""
    head = current_version(table_dir)
    keep = set(range(max(1, head - keep_last + 1), head + 1))
    keep.update(
        int(r["version"]) for r in table_refs(table_dir, _head=head).values()
    )
    cutoff = (
        time.time() - older_than_seconds
        if older_than_seconds is not None
        else None
    )

    def _old_enough(v: int) -> bool:
        if cutoff is None:
            return True
        mp = os.path.join(table_dir, f"manifest-v{v}.json")
        try:
            ts = load_manifest(table_dir, v, _raw=True).get("ts")
        except FileNotFoundError:
            return False
        if ts is None:
            ts = os.path.getmtime(mp)
        return float(ts) <= cutoff

    expired = [
        v for v in range(1, head + 1)
        if v not in keep
        and os.path.exists(os.path.join(table_dir, f"manifest-v{v}.json"))
        and _old_enough(v)
    ]
    def _refs(v: int) -> set[str]:
        refs: set[str] = set()
        m = load_manifest(table_dir, v)
        for f in m["files"]:
            refs.add(f["path"])
            refs.update(f.get("deletes", ()))  # MOR delete files are data too
            refs.update((f.get("blooms") or {}).values())  # sidecars too
        refs.update(e["path"] for e in m.get("eq_deletes") or [])
        refs.update(s["path"] for s in m.get("segments") or [])
        return refs

    # live = files referenced by ANY surviving manifest — not just the
    # keep set: with the age gate a young non-keep snapshot survives too
    # (it is not in `expired`), and deleting a file it references would
    # leave a READABLE version with missing data
    expired_set = set(expired)
    live_files: set[str] = set()
    for v in range(1, head + 1):
        if v in expired_set:
            continue
        if not os.path.exists(os.path.join(table_dir, f"manifest-v{v}.json")):
            continue  # reclaimed by an earlier expiry
        live_files.update(_refs(v))
    dead_files: set[str] = set()
    for v in expired:
        dead_files.update(_refs(v))
    dead_files -= live_files
    for v in expired:
        os.remove(os.path.join(table_dir, f"manifest-v{v}.json"))
    removed = 0
    for path in dead_files:
        if os.path.isabs(path):
            # add_files import: the table references the file but does
            # not OWN it — maintenance never deletes external data
            continue
        try:
            os.remove(os.path.join(table_dir, path))
            removed += 1
        except OSError:
            pass
    return {"expired_versions": expired, "removed_files": removed}


def remove_orphan_files(
    table_dir: str, older_than_seconds: float = 3 * 24 * 3600
) -> dict:
    """Delete data/delete files NO committed snapshot references (the
    Iceberg ``remove_orphan_files`` procedure) — the third maintenance
    primitive next to expire_snapshots (dead history) and
    compact_snapshot (layout). Orphans accumulate from aborted writes,
    losing optimistic-retry attempts, and crashes between data write and
    manifest link; they are invisible to every scan (planning is
    manifest-driven) but hold disk.

    ``older_than_seconds`` is the SAFETY WINDOW (Iceberg's default is
    also 3 days): a file younger than it may belong to an IN-FLIGHT
    commit whose manifest hasn't linked yet — deleting it would corrupt
    that commit when it lands. Mtime is read per file; only
    ``data-*.parquet`` / ``delete-*.parquet`` names are candidates
    (manifests, hints, and temp files are never touched — temp files are
    cleaned by their own writers)."""
    import time as _time

    live: set[str] = set()
    for v in range(1, current_version(table_dir) + 1):
        try:
            m = load_manifest(table_dir, v)
        except FileNotFoundError:
            continue
        for f in m["files"]:
            live.add(f["path"])
            live.update(f.get("deletes", ()))
            live.update((f.get("blooms") or {}).values())
        live.update(e["path"] for e in m.get("eq_deletes") or [])
        live.update(s["path"] for s in m.get("segments") or [])
    cutoff = _time.time() - float(older_than_seconds)
    removed, kept_young = 0, 0
    for name in os.listdir(table_dir):
        if not (
            (
                name.startswith("data-")
                or name.startswith("delete-")
                or name.startswith("eqdelete-")
            )
            and name.endswith(".parquet")
        ) and not (name.startswith("seg-") and name.endswith(".json")) \
                and not (name.startswith("bloom-") and name.endswith(".bin")):
            continue
        if name in live:
            continue
        full = os.path.join(table_dir, name)
        try:
            if os.path.getmtime(full) > cutoff:
                kept_young += 1  # possibly an in-flight commit's file
                continue
            os.remove(full)
            removed += 1
        except OSError:
            pass
    return {"removed_files": removed, "kept_young": kept_young}


def add_files(spark, table_dir: str, paths, branch: str = "main") -> dict:
    """Register EXISTING parquet files as a new snapshot without moving
    or rewriting a byte — the Iceberg ``add_files`` / migrate procedure:
    onboarding a plain-parquet corpus into the table format costs one
    FOOTER read per file (rows + prunable min/max via _footer_stats),
    never a data copy, so importing 10^5 files over 100 TB is a
    metadata-only job. Entries keep their ABSOLUTE paths: the reader's
    ``os.path.join(table_dir, path)`` passes an absolute path through
    untouched, so scans, pruning, CDC, time travel, MOR deletes and
    incremental validation work unchanged; maintenance treats imported
    files as referenced-but-not-owned (expire_snapshots skips absolute
    entries; remove_orphan_files only ever sweeps the table directory).
    Commit is the standard optimistic loop: schema merged with the
    branch head's, fresh field ids minted for new column names.

    ``paths``: file path(s), director(y/ies) (their ``*.parquet``), or
    glob patterns."""
    import glob as _glob

    flat: list[str] = []
    for p in paths if isinstance(paths, (list, tuple)) else [paths]:
        hits = sorted(_glob.glob(p)) if any(c in p for c in "*?[") else [p]
        for h in hits:
            if os.path.isdir(h):
                flat.extend(sorted(_glob.glob(os.path.join(h, "*.parquet"))))
            else:
                flat.append(h)
    if not flat:
        raise ValueError(f"add_files: nothing matched {paths!r}")
    abspaths = [os.path.abspath(p) for p in flat]
    if len(abspaths) <= 32:
        footer = {ap: _footer_stats(ap) for ap in abspaths}
    else:
        # the per-file footer reads are independent metadata fetches —
        # serialized on the driver a 10^5-file import would be the slow
        # path of a "metadata-only" job, so distribute them exactly like
        # build_sidecars' per-file work (driver holds names only)
        footer = dict(
            spark.sparkContext.parallelize(abspaths, min(len(abspaths), 64))
            .map(lambda ap: (ap, _footer_stats(ap)))
            .collect()
        )
    entries = [
        {"path": ap, "rows": footer[ap][0], "stats": footer[ap][1]}
        for ap in abspaths
    ]
    schema = spark.read.parquet(*flat).schema
    write_names = [f.name for f in schema.fields]
    os.makedirs(table_dir, exist_ok=True)
    for _ in range(64):
        base = current_version(table_dir)
        newest = load_manifest(table_dir, base) if base else None
        prior = (
            load_manifest(table_dir, ref=branch)
            if base and (branch != "main" or newest is not None)
            else None
        )
        floor = int((newest or {}).get("last_field_id") or 0)
        schema_json = schema.json()
        if prior is not None:
            schema_json = _merge_schemas(prior["schema"], schema.json()).json()
        fid, last = _evolved_ids(prior, write_names, overwrite=False, floor=floor)
        nm = {str(fid[n]): n for n in write_names}
        files = [{**e, "name_map": nm} for e in entries] if fid else list(entries)
        if prior is not None:
            files = prior["files"] + files
        try:
            v = commit_snapshot(
                table_dir, files, schema_json, expected_base=base,
                field_ids=fid, last_field_id=last, branch=branch,
            )
            return {
                "new_version": v,
                "added_files": len(entries),
                "added_rows": sum(e["rows"] for e in entries),
            }
        except CommitConflict:
            continue
    raise CommitConflict(
        f"gave up after 64 contended commit attempts on {table_dir}"
    )


def build_sidecars(spark, table_dir: str, cols, branch: str = "main") -> dict:
    """ANALYZE-style stats backfill: build Bloom sidecars for committed
    files that lack them — including ``add_files`` imports — without
    rewriting a byte of data. The per-file work (read ONLY the key
    column via columnar projection, hash, write the sidecar) runs as a
    DISTRIBUTED Spark job over the file list (one task per partition of
    files, driver holds O(files) names only); the commit is the standard
    optimistic metadata loop, re-attaching sidecar names to their
    entries. Columns a file physically lacks (schema evolution) are
    skipped for that file; rename-mapped files resolve the physical
    name through their field-id map. Sidecars land INSIDE the table dir
    (owned by maintenance) whatever the data file's location."""
    import hashlib

    if isinstance(cols, str):
        cols = [c.strip() for c in cols.split(",") if c.strip()]
    head = current_version(table_dir)
    if not head:
        return {"built": 0, "new_version": head}
    man = load_manifest(table_dir, ref=branch)
    fids = man.get("field_ids") or {}
    todo = []
    for f in man["files"]:
        missing = [c for c in cols if c not in (f.get("blooms") or {})]
        if missing:
            todo.append((f["path"], dict(f.get("name_map") or {}), missing))
    if not todo:
        return {"built": 0, "new_version": current_version(table_dir)}

    tdir = table_dir

    def _work(rows):
        import pyarrow.parquet as pq

        out = []
        for path, name_map, missing in rows:
            full = os.path.join(tdir, path)
            try:
                pf = pq.ParquetFile(full)
            except OSError:
                continue
            phys = set(pf.schema_arrow.names)
            built = {}
            for c in missing:
                src = _mapped_source(c, fids, name_map) or c
                if src not in phys:
                    continue
                vc = pf.read(columns=[src]).column(src).drop_null().combine_chunks()
                if not len(vc):
                    continue
                try:
                    blob = bloomops.blob_from_hashes(
                        bloomops.key_hashes(vc.to_pylist())
                    )
                except TypeError:
                    continue
                stem = hashlib.sha1(path.encode()).hexdigest()[:12]
                sname = f"bloom-{stem}-{c}.bin"
                stmp = os.path.join(tdir, f"._tmp.{sname}")
                with open(stmp, "wb") as fh:
                    fh.write(blob)
                os.replace(stmp, os.path.join(tdir, sname))
                built[c] = sname
            if built:
                out.append((path, built))
        return out

    built_by_path = dict(
        spark.sparkContext.parallelize(todo, min(len(todo), 64))
        .mapPartitions(lambda it: _work(list(it)))
        .collect()
    )
    if not built_by_path:
        return {"built": 0, "new_version": current_version(table_dir)}
    for _ in range(64):
        base = current_version(table_dir)
        cur = load_manifest(table_dir, ref=branch)
        files = []
        for f in cur["files"]:
            add = built_by_path.get(f["path"])
            if add:
                f = {**f, "blooms": {**(f.get("blooms") or {}), **add}}
            files.append(f)
        try:
            v = commit_snapshot(
                table_dir, files, cur["schema"], expected_base=base,
                field_ids=cur.get("field_ids"),
                last_field_id=cur.get("last_field_id"), branch=branch,
            )
            return {
                "built": sum(len(b) for b in built_by_path.values()),
                "new_version": v,
            }
        except CommitConflict:
            continue
    raise CommitConflict(
        f"gave up after 64 contended commit attempts on {table_dir}"
    )


def compact_snapshot(
    spark, table_dir: str, n_files: int = 1, zorder_by: list[str] | None = None
) -> int:
    """Rewrite the current snapshot's data into ``n_files`` files and
    commit the result as a NEW snapshot (Iceberg rewriteDataFiles): same
    rows, fewer files; prior snapshots stay time-travel-readable until
    expire_snapshots reclaims them. Returns the new version.

    ``zorder_by`` selects the rewriteDataFiles *zorder strategy*: rows
    are re-laid-out on the Morton-interleaved key
    (operators/layout.cluster_by_zorder) so per-file min/max stats are
    tight on EVERY named dimension — compaction and scan-skipping
    clustering in one pass."""
    df = load(spark, table_dir)
    if zorder_by:
        from pyspark.sql import functions as F

        from anomalydetection_spark.operators import layout

        df = layout.cluster_by_zorder(
            df, [F.col(c) for c in zorder_by], n_files=int(n_files)
        )
    else:
        df = df.repartition(int(n_files))
    df.write.format("docstore").option("path", table_dir).mode("overwrite").save()
    return current_version(table_dir)


def _footer_stats(path: str) -> tuple[int, dict]:
    """(rows, stats) for a data file from its parquet FOOTER only — no
    data pages read; the rewrite paths build manifest entries from this.
    Multi-column: every top-level column whose footer carries usable
    min/max (and whose values the manifest JSON can hold) gets an entry —
    the same contract as the write path's batch stats."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    rows = md.num_rows
    stats: dict[str, list] = {}
    for i in range(md.num_columns):
        name = md.schema.column(i).name
        if "." in name:  # nested leaf — not a top-level prunable column
            continue
        if md.schema.column(i).physical_type in ("FLOAT", "DOUBLE"):
            # footer min/max is NaN-blind while Spark orders NaN above
            # all doubles — no float pruning (see DocStoreWriter.write)
            continue
        cmin = cmax = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo, hi = _stat_safe(st.min), _stat_safe(st.max)
            if lo is None or hi is None:
                ok = False
                break
            cmin = lo if cmin is None else min(cmin, lo)
            cmax = hi if cmax is None else max(cmax, hi)
        if ok and cmin is not None:
            stats[name] = [cmin, cmax]
    return rows, stats


def _entry_abspath(table_dir: str, entry: dict) -> str:
    """Canonical absolute filesystem path of a manifest entry — the key
    probe/delete joins match on. Table-local entries resolve under the
    table dir; add_files imports carry absolute paths straight through
    (basename keying would collide across import source dirs)."""
    return os.path.abspath(os.path.join(table_dir, entry["path"]))


def _file_pathkey_col():
    """``_file`` (Spark's ``_metadata.file_path`` URI) canonicalized to
    the same absolute-path form as :func:`_entry_abspath`: scheme
    stripped, leading slash run collapsed — ``file:///a/b`` and
    ``/a/b`` both key as ``/a/b``. Column expression, so path matching
    stays a hash-joinable key instead of a per-entry endswith scan.
    The URI's percent-escapes are decoded (a table dir holding a space
    reads ``%20``); a literal ``+`` is escaped first, because
    ``url_decode`` would turn it into a space."""
    from pyspark.sql import functions as F

    no_scheme = F.regexp_replace(
        F.col("_file"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*:", ""
    )
    decoded = F.url_decode(F.replace(no_scheme, F.lit("+"), F.lit("%2B")))
    return F.regexp_replace(decoded, r"^/+", "/")


def _float_guard(col, dtype):
    """A float column as an expression Spark cannot push into the parquet
    reader: pyarrow writes NaN-blind footer min/max (a file holding 1.5
    and NaN records max 1.5), while Spark orders NaN above every double,
    so a pushed ``x > 5.0`` would skip row groups whose NaN rows match.
    ``nanvl(x, x)`` is ``x`` for every value, NULL and NaN included."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    return F.nanvl(col, col) if isinstance(dtype, (DoubleType, FloatType)) else col


def _read_files_visible(
    spark,
    table_dir: str,
    entries: list[dict],
    manifest: dict | None = None,
    with_file_col: bool = False,
    apply_eq: bool = True,
):
    """The VISIBLE rows of the given manifest entries, projected to the
    CURRENT schema: raw parquet minus each file's position-delete rows
    (merge-on-read bitmaps), with every file's physical columns resolved
    through its field-id name_map (rename-safe — a COW rewrite of a
    pre-rename file must emit current-named data, and a probe condition
    on a renamed column must bind). Every rewrite path must read through
    this — reading the raw files would resurrect MOR-deleted rows and
    stale column names into the rewritten snapshot.

    Files are grouped by identical mapping so each group is one parquet
    scan; ``with_file_col=True`` keeps the absolute source path as a
    ``_file`` column for probe callers (Spark's hidden ``_metadata`` is
    unreachable after the projection).

    Position deletes are applied as a DISTRIBUTED anti-join: all delete
    files of the visible entries are read as ONE executor-side parquet
    scan, each delete row is mapped to its data file through a
    delete-count-sized broadcast of (delete basename → data basename)
    pairs, and the visible frame anti-joins on (file path, pos): the
    pair table stays O(delete files) and the positions never leave the
    executors. Equality deletes (``apply_eq``) add one sequence-scoped
    anti-join per key column (`_eq_delete_join`). An empty ``entries``
    list reads as an empty frame with the snapshot's schema."""
    from pyspark.sql import functions as F

    m = manifest or load_manifest(table_dir)
    schema = StructType.fromJson(json.loads(m["schema"]))
    fids = m.get("field_ids") or {}
    if not entries:  # no file planned: the snapshot's schema, no rows
        out = spark.createDataFrame([], schema)
        if with_file_col:
            out = out.withColumn("_file", F.lit(None).cast("string")).withColumn(
                "_pos", F.lit(None).cast("long")
            )
        return out

    def _mapping(e: dict) -> tuple:
        nm = e.get("name_map") or {}
        return tuple(
            (f.name, _mapped_source(f.name, fids, nm)) for f in schema.fields
        )

    groups: dict[tuple, list[dict]] = {}
    for e in entries:
        groups.setdefault(_mapping(e), []).append(e)
    parts = []
    for mp, ges in groups.items():
        df = spark.read.parquet(*[os.path.join(table_dir, e["path"]) for e in ges])
        df = df.withColumn("_file", F.col("_metadata.file_path")).withColumn(
            "_pos", F.col("_metadata.row_index")
        )
        have = set(df.columns)
        cols = [
            _float_guard(F.col(src), schema[name].dataType).alias(name)
            if src is not None and src in have
            else F.lit(None).cast(schema[name].dataType).alias(name)
            for name, src in mp
        ]
        parts.append(df.select(*cols, "_file", "_pos"))
    out = parts[0]
    for sub in parts[1:]:
        out = out.unionByName(sub)
    # position deletes: one distributed scan over every delete file, a
    # broadcast (delete basename → data file) pair table, one two-column
    # anti-join — no position ever collects to the driver and no In
    # literal ever enters the plan. Data files key by CANONICAL ABSOLUTE
    # PATH, not basename: add_files imports carry absolute paths whose
    # basenames may collide across source dirs (the _split_affected rule)
    del_pairs = [
        (os.path.basename(d), _entry_abspath(table_dir, e))
        for e in entries
        for d in e.get("deletes", ())
    ]
    if del_pairs or (apply_eq and m.get("eq_deletes")):
        out = out.withColumn("_pkey", _file_pathkey_col())
    if del_pairs:
        map_df = spark.createDataFrame(del_pairs, "_dbase string, _pkey string")
        del_df = (
            spark.read.parquet(
                *[os.path.join(table_dir, d) for d, _ in del_pairs]
            )
            .withColumn(
                "_dbase",
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            )
            .join(F.broadcast(map_df), "_dbase")
            .select("_pkey", F.col("pos").alias("_pos"))
        )
        out = out.join(del_df, ["_pkey", "_pos"], "left_anti")
    if apply_eq:
        # rewrites MUST read through this: raw files would resurrect
        # eq-deleted rows into the rewritten snapshot
        out = _eq_delete_join(spark, table_dir, m, entries, out, "left_anti") or out
    out = out.drop("_pkey")
    return out if with_file_col else out.drop("_file", "_pos")


def _eq_delete_join(spark, table_dir: str, m: dict, entries: list[dict], vis, how: str):
    """``vis`` (visible rows of ``entries`` carrying ``_pkey``) joined
    against the snapshot's bound equality deletes: ONE sequence-scoped
    join per key column, however many eq commits wrote that column's
    keys. Each row picks up its data file's sequence through a
    file-count-sized broadcast keyed by canonical absolute path (so
    add_files imports bind too); a column's eq files are read as one
    parquet scan per physical key name (renames) and parquet type (key
    files written before keys were cast to the column type), cast to the
    column's current type, whose rows pick up their file's sequence through a broadcast (eq file → seq) pair table; and a
    row is deleted when some key equals its value and its file predates
    that key's delete. ``how='left_anti'`` keeps the rows no eq delete
    removes (reads); ``'left_semi'`` returns the rows some eq delete
    removes, unioned over key columns (the fold). None when no eq delete
    binds."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    by_col: dict[str, list[dict]] = {}
    for e in m.get("eq_deletes") or []:
        cur = _eq_current_col(m, e)
        if cur:
            by_col.setdefault(cur, []).append(e)
    if not by_col:
        return None
    file_seq = spark.createDataFrame(
        [(_entry_abspath(table_dir, e), int(e.get("seq", 0))) for e in entries],
        "_pkey string, _fseq int",
    )
    vis = vis.join(F.broadcast(file_seq), "_pkey", "left")
    hits = None
    schema = StructType.fromJson(json.loads(m["schema"]))
    for cur, es in by_col.items():
        metas = {e["path"]: pq.read_metadata(os.path.join(table_dir, e["path"])) for e in es}
        scans: dict[tuple[str, str], list[str]] = {}
        for e in es:
            typ = str(metas[e["path"]].schema.to_arrow_schema().field(e["col"]).type)
            scans.setdefault((e["col"], typ), []).append(os.path.join(table_dir, e["path"]))
        keys = None
        for (phys, _), paths in sorted(scans.items()):
            k = spark.read.parquet(*paths).select(
                F.col(phys).cast(schema[cur].dataType).alias("_eqk"),
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("_eqname"),
            )
            keys = k if keys is None else keys.unionByName(k)
        eq_seq = spark.createDataFrame(
            [(os.path.basename(e["path"]), int(e["seq"])) for e in es],
            "_eqname string, _eqseq int",
        )
        keys = keys.join(F.broadcast(eq_seq), "_eqname").drop("_eqname")
        n_keys = sum(md.num_rows for md in metas.values())
        if n_keys <= 5_000_000:  # executor-memory-sized → broadcast
            keys = F.broadcast(keys)
        cond = (F.col(cur) == F.col("_eqk")) & (F.col("_fseq") < F.col("_eqseq"))
        if how == "left_anti":
            vis = vis.join(keys, cond, how)
        else:
            hit = vis.join(keys, cond, how)
            hits = hit if hits is None else hits.unionByName(hit)
    return (vis if how == "left_anti" else hits).drop("_fseq")


def load(
    spark,
    table_dir: str,
    *,
    version: int | None = None,
    where: dict | None = None,
    journal: str | None = None,
):
    """The engine's batch read of a docstore snapshot (``version``, or the
    main head; a branch or tag reads as ``version=resolve_ref(table_dir,
    name)``): the manifest loads once, `plan_files`
    keeps the files that can hold ``where``'s values, and the kept files'
    visible rows come back from JVM parquet scans (`_read_files_visible`).

    ``where`` is ``{column: values}`` (point or IN). It bounds which
    files are PLANNED, not which rows come back: a kept file is read
    whole, so callers apply their own row filter. The plan is fixed here,
    so every action on the returned frame reads the same files.
    ``journal``: a directory that receives an ``opened-<file>`` marker
    per planned file (scan-bounding evidence for tests)."""
    m = load_manifest(table_dir, version)
    kept = plan_files(table_dir, m, where)
    if journal:
        for f in kept:
            open(
                os.path.join(journal, f"opened-{os.path.basename(f['path'])}"), "w"
            ).close()
    return _read_files_visible(spark, table_dir, kept, m)


def _retry_on_conflict(fn):
    """Re-run a read-modify-write table operation when a concurrent commit
    invalidated its base snapshot (the Iceberg operation-level retry):
    each attempt re-reads the head manifest, so the lost update is
    recomputed, never silently dropped. Abandoned rewrite files from a
    losing attempt are unreferenced orphans (invisible to scans, reclaimed
    by maintenance)."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        last: CommitConflict | None = None
        for _ in range(16):
            try:
                return fn(*args, **kwargs)
            except CommitConflict as e:
                last = e
        raise last

    return wrapped



def _backfill_name_maps(files: list[dict], fid: dict, schema_names: list[str]) -> list[dict]:
    """Pin every pre-field-id file to the CURRENT names before the first
    rename/drop: all existing files were written under them (names never
    changed before id tracking), so the id→name binding is exact. A
    mapped name the file physically lacks just NULL-fills at read."""
    nm = {str(fid[n]): n for n in schema_names}
    return [f if f.get("name_map") else {**f, "name_map": nm} for f in files]


@_retry_on_conflict
def rename_column(table_dir: str, old: str, new: str) -> int:
    """Metadata-only column rename (the Iceberg ``ALTER TABLE RENAME
    COLUMN``): ZERO data files move — the schema renames the field while
    its FIELD ID stays put, and reads resolve each file's physical column
    through its id map. Top-level columns only (nested field ids are out
    of scope). Returns the new snapshot version."""
    base = current_version(table_dir)  # CAS base BEFORE the content read
    m = load_manifest(table_dir)
    newest = load_manifest(table_dir, base)
    sch = json.loads(m["schema"])
    names = [f["name"] for f in sch["fields"]]
    if old not in names:
        raise ValueError(f"no column '{old}' in {names}")
    if new in names:
        raise ValueError(f"column '{new}' already exists")
    fid, last = _evolved_ids(m, names, floor=int(newest.get("last_field_id") or 0))
    files = _backfill_name_maps([dict(f) for f in m["files"]], fid, names)
    fid[new] = fid.pop(old)
    for f in sch["fields"]:
        if f["name"] == old:
            f["name"] = new
    return commit_snapshot(
        table_dir, files, json.dumps(sch),
        expected_base=base, field_ids=fid, last_field_id=last,
    )


@_retry_on_conflict
def drop_column(table_dir: str, name: str) -> int:
    """Metadata-only column drop (the Iceberg ``ALTER TABLE DROP
    COLUMN``): data files keep their bytes but the field id is RETIRED —
    projected away on read, and a later re-add of the same name mints a
    fresh id, so the old bytes never resurrect (the name-based-mapping
    hazard this module's field ids exist to close)."""
    base = current_version(table_dir)
    m = load_manifest(table_dir)
    newest = load_manifest(table_dir, base)
    sch = json.loads(m["schema"])
    names = [f["name"] for f in sch["fields"]]
    if name not in names:
        raise ValueError(f"no column '{name}' in {names}")
    fid, last = _evolved_ids(m, names, floor=int(newest.get("last_field_id") or 0))
    files = _backfill_name_maps([dict(f) for f in m["files"]], fid, names)
    fid.pop(name)
    sch["fields"] = [f for f in sch["fields"] if f["name"] != name]
    return commit_snapshot(
        table_dir, files, json.dumps(sch),
        expected_base=base, field_ids=fid, last_field_id=last,
    )


# ---------------------------------------------------------------------------
# refs: branches + tags (the Iceberg snapshot-ref model)
# ---------------------------------------------------------------------------

def _meta_commit(table_dir: str, refs_update: dict, base: int, **kw) -> int:
    """Refs-only commit: mirrors the main head's files/schema (time travel
    to this version shows the table as of the commit) and applies the ref
    assignments. ``base`` is the linear head the caller validated against
    — any commit since then fails the CAS and the caller retries, so ref
    validation and ref mutation are atomic together. Registry carried
    forward from the newest manifest."""
    src = load_manifest(table_dir)
    return commit_snapshot(
        table_dir,
        src["files"],
        src["schema"],
        expected_base=base,
        branch=None,
        refs_update=refs_update,
        eq_deletes=src.get("eq_deletes") or [],
        **kw,
    )


@_retry_on_conflict
def create_branch(table_dir: str, name: str, at_version: int | None = None) -> int:
    """Create branch ``name`` at ``at_version`` (default: the main head) —
    a metadata-only commit (the Iceberg ``CREATE BRANCH``). Writes then
    target it via ``.option('branch', name)``; reads via
    ``.option('ref', name)``. Returns the commit's snapshot version."""
    base = current_version(table_dir)
    refs = table_refs(table_dir, _head=base)
    if name in refs:
        raise ValueError(f"ref '{name}' already exists")
    target = (
        int(at_version) if at_version is not None
        else int(refs["main"]["version"]) if refs else base
    )
    load_manifest(table_dir, target)  # fail loudly on expired/uncommitted
    return _meta_commit(
        table_dir, {name: {"type": "branch", "version": target}}, base
    )


@_retry_on_conflict
def create_tag(table_dir: str, name: str, at_version: int | None = None) -> int:
    """Create immutable tag ``name`` at ``at_version`` (default: the main
    head) — the Iceberg ``CREATE TAG``: a retention anchor (expire keeps
    its snapshot) and a stable read name; committing to it fails."""
    base = current_version(table_dir)
    refs = table_refs(table_dir, _head=base)
    if name in refs:
        raise ValueError(f"ref '{name}' already exists")
    target = (
        int(at_version) if at_version is not None
        else int(refs["main"]["version"]) if refs else base
    )
    load_manifest(table_dir, target)
    return _meta_commit(table_dir, {name: {"type": "tag", "version": target}}, base)


@_retry_on_conflict
def drop_ref(table_dir: str, name: str) -> int:
    """Drop a branch or tag (``main`` is permanent). Its snapshots stay
    time-travel-readable until expire_snapshots reclaims them."""
    if name == "main":
        raise ValueError("cannot drop 'main'")
    base = current_version(table_dir)
    if name not in table_refs(table_dir, _head=base):
        raise ValueError(f"no ref '{name}'")
    return _meta_commit(table_dir, {name: None}, base)


def _ancestry(table_dir: str, version: int) -> list[int]:
    """Parent chain of a snapshot, newest first, ending at 0. Legacy
    manifests (no recorded parent) chain linearly."""
    chain, v = [], int(version)
    while v >= 1:
        try:
            m = load_manifest(table_dir, v)
        except FileNotFoundError:  # expired — lineage ends here
            break
        chain.append(v)
        v = int(m.get("parent", v - 1))
    return chain


@_retry_on_conflict
def fast_forward(
    table_dir: str,
    from_ref: str,
    to_branch: str = "main",
    tag: str | None = None,
) -> int:
    """Fast-forward ``to_branch`` to ``from_ref``'s state (the Iceberg
    ``fast_forward`` procedure — the PUBLISH half of write-audit-publish):
    requires ``to_branch``'s head to be an ancestor of ``from_ref``'s (no
    divergent commits to overwrite), then commits ``from_ref``'s exact
    files/schema/registry as the new ``to_branch`` head. Metadata-only —
    zero data files move; the change feed of ``to_branch`` sees the
    published rows exactly once (this commit's parent is the old head, so
    the CDC diff is precisely what publishing introduced). ``tag``
    additionally creates a tag on the published snapshot IN THE SAME
    COMMIT — the atomic publish marker exactly-once consumers (the
    streaming WAP sink's replay guard) key on."""
    base = current_version(table_dir)
    refs = table_refs(table_dir, _head=base)
    if from_ref not in refs:
        raise ValueError(f"no ref '{from_ref}'")
    src_v = int(refs[from_ref]["version"])
    if to_branch not in refs:
        raise ValueError(f"no ref '{to_branch}'")
    if refs[to_branch].get("type") == "tag":
        raise ValueError(f"ref '{to_branch}' is a tag — tags are immutable")
    to_v = int(refs[to_branch]["version"])
    if tag is not None and tag in refs:
        raise ValueError(f"ref '{tag}' already exists")
    if src_v == to_v:
        if tag is None:
            return base
        return _meta_commit(
            table_dir, {tag: {"type": "tag", "version": to_v}}, base
        )
    if to_v not in _ancestry(table_dir, src_v):
        raise ValueError(
            f"cannot fast-forward: '{to_branch}' (v{to_v}) is not an "
            f"ancestor of '{from_ref}' (v{src_v}) — rebase or merge instead"
        )
    src = load_manifest(table_dir, src_v)
    newest = load_manifest(table_dir, base)
    return commit_snapshot(
        table_dir,
        src["files"],
        src["schema"],
        expected_base=base,
        field_ids=src.get("field_ids"),
        last_field_id=newest.get("last_field_id") or src.get("last_field_id"),
        branch=to_branch,
        parent=to_v,
        refs_update=(
            {tag: {"type": "tag", "version": None}} if tag is not None else None
        ),
        eq_deletes=src.get("eq_deletes") or [],
    )


@_retry_on_conflict
def rollback_to(table_dir: str, version: int, branch: str = "main") -> int:
    """Roll a branch back to an earlier snapshot's exact state (the
    Iceberg ``rollback_to_snapshot``): a NEW commit whose content is the
    old snapshot's files + schema — history is preserved, nothing is
    deleted, and the change feed shows the rollback as the net
    delete/insert diff it really is. Retired field ids stay retired
    (``last_field_id`` keeps the global floor)."""
    base = current_version(table_dir)
    old = load_manifest(table_dir, int(version))
    newest = load_manifest(table_dir, base)
    return commit_snapshot(
        table_dir,
        old["files"],
        old["schema"],
        expected_base=base,
        field_ids=old.get("field_ids"),
        last_field_id=newest.get("last_field_id") or old.get("last_field_id"),
        branch=branch,
        eq_deletes=old.get("eq_deletes") or [],
    )


@_retry_on_conflict
def _split_affected(
    table_dir: str, files: list[dict], probe
) -> tuple[list[dict], list[dict], int]:
    """(kept_entries, affected_entries, matched_rows) from a probe's
    ``_metadata.file_path`` groups — matched back to manifest entries by
    EXACT absolute path (basename matching breaks for add_files imports,
    whose entries carry absolute paths outside the table dir)."""
    from urllib.parse import unquote, urlparse

    counts: dict[str, int] = {}
    for r in probe:
        u = urlparse(r["_file"])
        counts[unquote(u.path) if u.scheme else r["_file"]] = r["count"]
    kept, hit, rows = [], [], 0
    for f in files:
        ab = os.path.abspath(os.path.join(table_dir, f["path"]))
        c = counts.get(ab)
        if c is None:
            kept.append(f)
        else:
            hit.append(f)
            rows += int(c)
    return kept, hit, rows


def delete_where(spark, table_dir: str, condition: str) -> dict:
    """Copy-on-write row-level delete (the Iceberg ``DELETE FROM`` in COW
    mode): ONLY data files containing matching rows are rewritten without
    them; untouched files carry forward into the new snapshot by
    reference — at 100 TB a delete touching one partition rewrites that
    partition's files, not the table. Prior snapshots stay
    time-travel-readable until expire_snapshots reclaims them.

    Two bounded passes: (1) a probe scan marking which files contain
    matches (filter pushdown + footer-pruned), (2) a rewrite scan of ONLY
    the affected files. Returns {new_version, rewritten_files,
    deleted_rows}; a no-match delete commits nothing.
    """
    from pyspark.sql import functions as F

    base = current_version(table_dir)  # CAS base BEFORE the content read
    manifest = load_manifest(table_dir)
    by_name = {f["path"]: f for f in manifest["files"]}
    paths = [os.path.join(table_dir, p) for p in by_name]
    if not paths:
        return {"new_version": manifest["version"], "rewritten_files": 0, "deleted_rows": 0}
    cond = F.expr(condition)
    visible = _read_files_visible(
        spark, table_dir, manifest["files"], manifest=manifest, with_file_col=True
    )
    probe = visible.filter(cond).groupBy("_file").count().collect()
    kept_entries, affected_entries, deleted_rows = _split_affected(
        table_dir, manifest["files"], probe
    )
    if not affected_entries:
        return {"new_version": manifest["version"], "rewritten_files": 0, "deleted_rows": 0}
    affected = affected_entries  # len() consumer below
    tmpdir = os.path.join(table_dir, f"._rewrite.{uuid.uuid4().hex}")
    _read_files_visible(
        spark, table_dir, affected_entries, manifest=manifest
    ).filter(~cond).write.parquet(tmpdir)
    new_entries = []
    for fn in sorted(os.listdir(tmpdir)):
        if not fn.endswith(".parquet"):
            continue
        name = f"data-{uuid.uuid4().hex}.parquet"
        os.replace(os.path.join(tmpdir, fn), os.path.join(table_dir, name))
        rows, stats = _footer_stats(os.path.join(table_dir, name))
        if rows:
            new_entries.append({"path": name, "rows": rows, "stats": stats})
        else:
            os.remove(os.path.join(table_dir, name))
    import shutil

    shutil.rmtree(tmpdir, ignore_errors=True)
    fid = manifest.get("field_ids") or {}
    if fid:  # rewrites emit CURRENT-named data — pin the binding
        snames = [f["name"] for f in json.loads(manifest["schema"])["fields"]]
        nm = {str(fid[n]): n for n in snames if n in fid}
        new_entries = [{**e, "name_map": nm} for e in new_entries]
    v = commit_snapshot(
        table_dir, kept_entries + new_entries, manifest["schema"],
        expected_base=base,
    )
    return {
        "new_version": v,
        "rewritten_files": len(affected),
        "deleted_rows": deleted_rows,
    }


@_retry_on_conflict
def merge_into(
    spark, table_dir: str, updates, key_col: str, broadcast_max_keys: int = 1_000_000
) -> dict:
    """Copy-on-write upsert (the Iceberg ``MERGE INTO ... WHEN MATCHED
    UPDATE WHEN NOT MATCHED INSERT``, COW mode): rows of ``updates``
    replace same-key table rows; new keys append. ONE atomic snapshot:
    only data files containing matched keys are rewritten (minus their
    matched rows), untouched files carry forward by reference, and the
    update rows land as new files — readers see the pre-merge or
    post-merge table, never a mix.

    The matched-key probe and the matched-row rewrite are semi/anti
    JOINS against the distinct update-key frame — update keys are never
    collected to the driver or planned as an ``isin`` literal, so a
    10⁸-key MERGE plans the same two joins as a 10-key one (the
    quarantine_documents gate pattern, plans/suite.py). The key frame is
    broadcast while its exact count (one cheap job over the persisted
    keys) is ≤ ``broadcast_max_keys``; above that both joins fall back
    to shuffle joins, which scale with the data instead of with executor
    memory. The file-granular rewrite shape is unchanged.

    Probe planning prunes candidate files from manifest key stats before
    any read (the Iceberg MERGE scan-planning skip): a clustered table
    probes only the files whose key range can intersect the update keys
    — point upserts against a 10^5-file table scan a handful of files.
    Returns {new_version, rewritten_files, replaced_rows, upserted_rows,
    plans, broadcast_hint, probed_files, total_files}; ``plans`` holds
    the formatted physical plans of the probe and kept-row jobs so
    callers/tests can assert the join strategy.
    """
    from pyspark.sql import functions as F

    base = current_version(table_dir)  # CAS base BEFORE the content read
    manifest = load_manifest(table_dir)
    ukeys = updates.select(key_col).distinct().persist()
    n_keys = ukeys.count()
    hint_broadcast = n_keys <= broadcast_max_keys
    jkeys = F.broadcast(ukeys) if hint_broadcast else ukeys
    plans: dict[str, str] = {}
    probe = []
    # probe-candidate pruning (the Iceberg MERGE planning skip): a file
    # that provably holds no update key cannot be rewritten, so it never
    # enters the probe scan. Up to 10,000 keys go through plan_files (one
    # bounded driver collect, used ONLY for planning — the joins below
    # never see a literal); larger sets prune on the keys' [min, max]
    # envelope (a 2-value agg) against each file's key stats.
    if n_keys <= 10_000:
        kvals = [r[key_col] for r in ukeys.collect() if r[key_col] is not None]
        probe_entries = plan_files(table_dir, manifest, {key_col: kvals})
    else:
        row = ukeys.agg(F.min(key_col).alias("lo"), F.max(key_col).alias("hi")).first()
        fids = manifest.get("field_ids") or {}
        probe_entries = [
            f for f in manifest["files"]
            if _may_overlap(
                (f.get("stats") or {}).get(
                    _mapped_source(key_col, fids, f.get("name_map") or {})
                ),
                row["lo"],
                row["hi"],
            )
        ]
    if probe_entries:
        probe_df = (
            _read_files_visible(
                spark, table_dir, probe_entries, manifest=manifest,
                with_file_col=True,
            )
            .join(jkeys, key_col, "left_semi")
            .groupBy("_file")
            .count()
        )
        plans["probe"] = probe_df._sc._jvm.PythonSQLUtils.explainString(
            probe_df._jdf.queryExecution(), "formatted"
        )
        probe = probe_df.collect()
    kept_entries, affected_entries, replaced_rows = _split_affected(
        table_dir, manifest["files"], probe
    )
    affected = affected_entries
    new_entries: list[dict] = []
    tmpdir = os.path.join(table_dir, f"._merge.{uuid.uuid4().hex}")
    if affected:
        kept_df = _read_files_visible(
            spark, table_dir, affected_entries, manifest=manifest
        ).join(jkeys, key_col, "left_anti")
        plans["kept"] = kept_df._sc._jvm.PythonSQLUtils.explainString(
            kept_df._jdf.queryExecution(), "formatted"
        )
        kept_df.write.parquet(os.path.join(tmpdir, "kept"))
    updates.write.parquet(os.path.join(tmpdir, "new"))
    updates_file_count = 0
    for sub in ("kept", "new"):
        subdir = os.path.join(tmpdir, sub)
        if not os.path.isdir(subdir):
            continue
        for fn in sorted(os.listdir(subdir)):
            if not fn.endswith(".parquet"):
                continue
            name = f"data-{uuid.uuid4().hex}.parquet"
            os.replace(os.path.join(subdir, fn), os.path.join(table_dir, name))
            rows, stats = _footer_stats(os.path.join(table_dir, name))
            if rows:
                new_entries.append({"path": name, "rows": rows, "stats": stats})
                if sub == "new":
                    updates_file_count += 1
            else:
                os.remove(os.path.join(table_dir, name))
    import shutil

    shutil.rmtree(tmpdir, ignore_errors=True)
    merged = _merge_schemas(manifest["schema"], updates.schema.json())
    schema_json = merged.json()
    fid, last = _evolved_ids(
        manifest,
        [f.name for f in merged.fields],
        floor=int(load_manifest(table_dir, base).get("last_field_id") or 0),
    )
    if fid:
        kept_names = [f["name"] for f in json.loads(manifest["schema"])["fields"]]
        upd_names = [f.name for f in updates.schema.fields]
        # kept rewrites carry the pre-merge columns, update files their own
        k_nm = {str(fid[n]): n for n in kept_names if n in fid}
        u_nm = {str(fid[n]): n for n in upd_names if n in fid}
        # new_entries is kept-first (the sub loop order), so a count split suffices
        n_kept = len(new_entries) - updates_file_count
        new_entries = [
            {**e, "name_map": (k_nm if i < n_kept else u_nm)}
            for i, e in enumerate(new_entries)
        ]
    v = commit_snapshot(
        table_dir, kept_entries + new_entries, schema_json,
        expected_base=base, field_ids=fid, last_field_id=last,
    )
    ukeys.unpersist()
    return {
        "new_version": v,
        "rewritten_files": len(affected),
        "replaced_rows": replaced_rows,
        "upserted_rows": updates.count(),
        "plans": plans,
        "broadcast_hint": hint_broadcast,
        "probed_files": len(probe_entries),
        "total_files": len(manifest["files"]),
    }


def _write_position_deletes(probe_df, table_dir: str) -> list:
    """Executor-side position-delete-file writes, shared by
    delete_where_mor and rewrite_eq_deletes: the (``_pkey``, ``_pos``)
    probe frame groups by data file, each ``applyInPandas`` task sorts
    its file's positions and writes one bitmap parquet where it runs —
    positions never materialize on the driver. Returns the collected
    O(hit files) rows (``_pkey``, ``_dname``, ``_n``). A retried or
    speculated task can leave an orphan delete file behind —
    unreferenced, invisible to readers, reclaimed by
    remove_orphan_files (the abandoned-rewrite lifecycle)."""

    def _write_delete(key, pdf):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        name = f"delete-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(table_dir, f"._tmp.{name}")
        pq.write_table(
            pa.table({
                "pos": pa.array(
                    np.sort(pdf["_pos"].to_numpy(dtype=np.int64)),
                    type=pa.int64(),
                )
            }),
            tmp,
        )
        os.replace(tmp, os.path.join(table_dir, name))
        return pd.DataFrame(
            [(key[0], name, len(pdf))], columns=["_pkey", "_dname", "_n"]
        )

    return probe_df.groupBy("_pkey").applyInPandas(
        _write_delete, "_pkey string, _dname string, _n long"
    ).collect()


def _attach_deletes(table_dir: str, files: list[dict], written: list):
    """Append each written delete file to its data file's entry →
    (new_files, n_delete_files, deleted_rows). A delete file whose
    ``_pkey`` names no entry would count rows it never deletes, so it
    raises instead of committing."""
    by_file = {r["_pkey"]: (r["_dname"], int(r["_n"])) for r in written}
    new_files = []
    for f in files:
        hit = by_file.pop(_entry_abspath(table_dir, f), None)
        new_files.append(
            {**f, "deletes": list(f.get("deletes", ())) + [hit[0]]} if hit else dict(f)
        )
    if by_file:
        raise RuntimeError(
            f"position deletes match no manifest entry: {sorted(by_file)[:3]}"
        )
    return new_files, len(written), sum(int(r["_n"]) for r in written)


@_retry_on_conflict
def delete_where_mor(spark, table_dir: str, condition: str) -> dict:
    """Merge-on-read row-level delete (the Iceberg V2 *position delete*
    path, MOR mode): matching rows are recorded in per-data-file delete
    files listing their row positions; NO data file is rewritten. The
    reader applies the delete bitmap while streaming (read() skips listed
    positions), and the next compact_snapshot purges them physically.

    COW (`delete_where`) pays the rewrite at delete time and keeps reads
    clean; MOR pays ~nothing at delete time and a bitmap filter per read —
    the right trade for frequent small deletes (GDPR erasure, late
    retractions) against huge files. Same snapshot atomicity: delete
    files land first, then ONE manifest commit references them.

    The probe scan finds (file, row_index) of matches via the parquet
    ``_metadata.row_index`` hidden column — distributed, no Python row
    loop — and the delete files themselves are WRITTEN EXECUTOR-SIDE:
    one ``applyInPandas`` group per hit data file sorts that file's
    positions and writes its bitmap where the task runs, so a mass MOR
    delete never materializes positions on the driver; only the
    O(hit files) (file → delete-file name, count) table collects for the
    manifest commit. A retried/speculated task can leave an orphan
    delete file behind — unreferenced, invisible to readers, reclaimed
    by remove_orphan_files (same lifecycle as an abandoned rewrite).
    Entries key by canonical absolute path (the _split_affected rule),
    so deletes bind to add_files imports too.
    Returns {new_version, delete_files, deleted_rows}.
    """
    from pyspark.sql import functions as F

    base = current_version(table_dir)  # CAS base BEFORE the content read
    manifest = load_manifest(table_dir)
    if not manifest["files"]:
        return {"new_version": manifest["version"], "delete_files": 0, "deleted_rows": 0}
    # probe only VISIBLE rows: already-deleted positions must not be
    # re-recorded (they would double-count deleted_rows and bloat bitmaps)
    probe = (
        _read_files_visible(
            spark, table_dir, manifest["files"], manifest=manifest,
            with_file_col=True,
        )
        .filter(F.expr(condition))
        .withColumn("_pkey", _file_pathkey_col())
        .select("_pkey", "_pos")
    )
    written = _write_position_deletes(probe, table_dir)
    if not written:
        return {"new_version": manifest["version"], "delete_files": 0, "deleted_rows": 0}
    new_files, n_delete_files, deleted_rows = _attach_deletes(
        table_dir, manifest["files"], written
    )
    v = commit_snapshot(
        table_dir, new_files, manifest["schema"],
        expected_base=base,
    )
    return {
        "new_version": v,
        "delete_files": n_delete_files,
        "deleted_rows": deleted_rows,
    }


@_retry_on_conflict
def delete_where_eq(spark, table_dir: str, key_col: str, keys) -> dict:
    """Merge-on-read EQUALITY delete (the Iceberg V2 equality-delete
    flavor, completing the delete model next to COW rewrites and MOR
    position deletes): commit ONE small delete file of key VALUES —
    no probe scan, no data rewrite, O(|keys|) work regardless of table
    size. The use case position deletes can't serve at scale: bulk
    key-based removal (GDPR erasure, retracting a bad producer's doc_ids)
    where finding the rows' positions would itself cost a table scan.

    Semantics (sequence-number scoped, the Iceberg V2 rule): the delete
    applies to rows of data files COMMITTED BEFORE it (file.seq <
    delete.seq) whose ``key_col`` equals any key; files committed later —
    including a re-insert of the same key — are untouched. The key binds
    by FIELD ID, so renaming the column never detaches past deletes;
    NULL keys are dropped at write (equality on NULL is undefined).

    ``keys``: a DataFrame bearing ``key_col`` (written out distributed —
    the driver never holds the key set) or a small python iterable.
    `load` applies them as one sequence-scoped anti-join per key column
    (`_eq_delete_join`), the Python reader as per-task hash sets;
    compact_snapshot folds eq deletes into a rewrite, after which the
    fresh snapshot carries none."""
    import shutil

    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    base = current_version(table_dir)
    manifest = load_manifest(table_dir)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    names = [f.name for f in schema.fields]
    if key_col not in names:
        raise ValueError(f"no column '{key_col}' in {names}")
    if not isinstance(keys, _DF):
        from pyspark.sql.types import StructField

        keys = spark.createDataFrame(
            [(k,) for k in keys],
            StructType([StructField(key_col, schema[key_col].dataType, True)]),
        )
    tmpdir = os.path.join(table_dir, f"._eqtmp.{uuid.uuid4().hex}")
    (
        keys.select(F.col(key_col).cast(schema[key_col].dataType).alias(key_col))
        .where(F.col(key_col).isNotNull())
        .distinct()
        .coalesce(1)
        .write.parquet(tmpdir)
    )
    part = [fn for fn in os.listdir(tmpdir) if fn.endswith(".parquet")]
    name = f"eqdelete-{uuid.uuid4().hex}.parquet"
    os.replace(os.path.join(tmpdir, part[0]), os.path.join(table_dir, name))
    shutil.rmtree(tmpdir, ignore_errors=True)
    n_keys, _ = _footer_stats(os.path.join(table_dir, name))
    if n_keys == 0:
        os.remove(os.path.join(table_dir, name))
        return {"new_version": manifest["version"], "delete_file": None, "n_keys": 0}
    # back-stamp legacy entries seq=0: every current file provably
    # predates this delete; new files get their commit version from
    # commit_snapshot onwards
    files = [f if "seq" in f else {**f, "seq": 0} for f in manifest["files"]]
    eq = list(manifest.get("eq_deletes") or [])
    eq.append(
        {
            "path": name,
            "col": key_col,
            "col_id": (manifest.get("field_ids") or {}).get(key_col),
            "seq": None,  # stamped with the committed version
        }
    )
    v = commit_snapshot(
        table_dir, files, manifest["schema"],
        expected_base=base, eq_deletes=eq,
    )
    return {"new_version": v, "delete_file": name, "n_keys": int(n_keys)}


@_retry_on_conflict
def rewrite_eq_deletes(spark, table_dir: str) -> dict:
    """Fold the table's EQUALITY-delete files into per-data-file POSITION
    deletes and commit a snapshot that carries none — the Iceberg
    ``rewrite_position_delete_files`` maintenance analog, without
    rewriting any data file.

    Why: every read of a snapshot with eq deletes pays one
    sequence-scoped anti-join per key column over every eq file's keys,
    and the batch reader one per-task hash set per eq file, until
    maintenance runs. Position deletes apply through one distributed
    anti-join (or the reader's vectorized position mask) regardless of
    how many delete commits produced them, and the snapshot's
    ``eq_deletes`` list is empty afterwards.

    Mechanics: the position-visible rows (eq deletes NOT applied) carry
    (file, pos); `_eq_delete_join` semi-joins them once per key column,
    and the matched (file, pos) pairs write their bitmaps EXECUTOR-SIDE
    (_write_position_deletes — positions never reach the driver; only
    the O(hit files) name table collects for the commit). The folded eq
    files stay on disk for older snapshots' time-travel reads and are
    reclaimed by expire_snapshots. ``eq_files_folded`` counts the eq
    files that still bind (a dropped key column's files are discarded).

    Returns {new_version, eq_files_folded, delete_files, deleted_rows}.
    """
    base = current_version(table_dir)
    m = load_manifest(table_dir)
    all_eq = m.get("eq_deletes") or []
    eqs = [e for e in all_eq if _eq_current_col(m, e)]
    if not all_eq:
        return {
            "new_version": m["version"], "eq_files_folded": 0,
            "delete_files": 0, "deleted_rows": 0,
        }
    written: list = []
    if eqs and m["files"]:
        vis = _read_files_visible(
            spark, table_dir, m["files"], manifest=m,
            with_file_col=True, apply_eq=False,
        ).withColumn("_pkey", _file_pathkey_col())
        matched = _eq_delete_join(spark, table_dir, m, m["files"], vis, "left_semi")
        # distinct: a row matching keys of several columns must delete
        # once; bitmaps then write executor-side, positions never collected
        written = _write_position_deletes(
            matched.select("_pkey", "_pos").distinct(), table_dir
        )
    new_files, n_delete_files, deleted_rows = _attach_deletes(
        table_dir, m["files"], written
    )
    v = commit_snapshot(
        table_dir, new_files, m["schema"],
        expected_base=base, eq_deletes=[],
    )
    return {
        "new_version": v,
        "eq_files_folded": len(eqs),
        "delete_files": n_delete_files,
        "deleted_rows": deleted_rows,
    }


def partition_values(
    table_dir: str,
    partition_col: str = "partition_id",
    version: int | None = None,
    ref: str = "main",
) -> list[int] | None:
    """EXACT partition values present in a snapshot, from manifest
    metadata alone (the Iceberg partition-summary read: no data scan,
    cost ∝ file count) — defined only when every data file is clustered
    to a single partition (its recorded ``partition_col`` min == max,
    the layout `write_table(df.repartitionByRange(...))` produces).

    Returns ``None`` when any file lacks stats or spans partitions: a
    range [2,5] does not certify that value 3 exists, and inventing it
    would arm the volume constraint's missing-partition FAIL for a
    partition that never existed. Callers fall back to the scan-based
    ``distinct()`` enumeration."""
    try:
        m = load_manifest(table_dir, version, ref=ref)
    except (FileNotFoundError, ValueError):
        return None
    vals: set[int] = set()
    for f in m["files"]:
        st = (f.get("stats") or {}).get(partition_col)
        if (
            not st
            or st[0] is None
            or st[1] is None
            or isinstance(st[0], (float, str))
            or st[0] != st[1]
        ):
            return None
        vals.add(int(st[0]))
    return sorted(vals)


def changed_partitions(
    table_dir: str,
    v_from: int,
    v_to: int,
    partition_col: str = "partition_id",
    max_span: int = 1_000_000,
) -> set[int] | None:
    """Partition values whose file set changed between two snapshots —
    from MANIFEST METADATA ALONE, no data scan (the Iceberg
    incremental-processing model: partition summaries live in manifest
    entries, so a 10^12-doc table answers "what must be re-validated?"
    in milliseconds regardless of table size).

    A file counts as changed when it was added, removed, or gained a MOR
    position-delete file between the versions. Each changed file
    contributes the integer range of its recorded ``partition_col``
    min/max stats — exact when the writer clusters by partition (one
    partition per file), a conservative superset otherwise; supersets
    only widen re-validation, never skip a changed partition.

    Returns ``None`` when the changed set cannot be bounded from
    metadata (a changed file predates stats for ``partition_col``, null
    bounds, a span wider than ``max_span``, or ``v_from`` was reclaimed
    by expire_snapshots) — the caller must fall back to re-validating
    everything.
    """
    try:
        m0 = load_manifest(table_dir, v_from)
    except (FileNotFoundError, ValueError):
        return None
    m1 = load_manifest(table_dir, v_to)
    by0 = {f["path"]: f for f in m0["files"]}
    by1 = {f["path"]: f for f in m1["files"]}

    def _eq_sig(m: dict, f: dict) -> tuple:
        """Applicable equality-delete files for one data file — a new eq
        delete changes rows WITHOUT touching the file list, so it must
        count as a change for every file it scopes to."""
        fseq = int(f.get("seq", 0))
        return tuple(sorted(
            e["path"] for e in (m.get("eq_deletes") or [])
            if int(e.get("seq", 0)) > fseq
        ))

    changed: list[dict] = []
    for p, f in by1.items():
        prev = by0.get(p)
        if (
            prev is None
            or tuple(prev.get("deletes", ())) != tuple(f.get("deletes", ()))
            or _eq_sig(m0, prev) != _eq_sig(m1, f)
        ):
            changed.append(f)
    changed.extend(f for p, f in by0.items() if p not in by1)
    pids: set[int] = set()
    for f in changed:
        st = (f.get("stats") or {}).get(partition_col)
        if not st or st[0] is None or st[1] is None:
            return None
        lo, hi = int(st[0]), int(st[1])
        if hi - lo > max_span:
            return None
        pids.update(range(lo, hi + 1))
    return pids


def changelog(spark, table_dir: str, key_col: str, v_from: int, v_to: int):
    """Row-level change feed between two committed snapshots (the Iceberg
    ``changelog`` / Delta CDF analog): returns the table columns plus
    ``_change_type`` in ('insert', 'delete', 'update_preimage',
    'update_postimage').

    Scale shape — the diff reads only what CHANGED, never either full
    snapshot: the old side scans files removed between the versions (plus,
    for carried files, only rows at positions newly deleted by MOR delete
    files, located via ``_metadata.row_index``); the new side scans files
    added. Carried-by-reference files contribute nothing, so a
    compaction-only snapshot diffs as empty after the content join. The
    two sides full-outer-join on ``key_col``; identical-content pairs
    (pure file rewrites) cancel out.
    """
    from pyspark.sql import functions as F

    m0 = load_manifest(table_dir, v_from)
    m1 = load_manifest(table_dir, v_to)
    by0 = {f["path"]: f for f in m0["files"]}
    by1 = {f["path"]: f for f in m1["files"]}
    removed = [p for p in by0 if p not in by1]
    added = [p for p in by1 if p not in by0]
    schema = StructType.fromJson(json.loads(m1["schema"]))
    cols = [f.name for f in schema.fields]
    fids = m1.get("field_ids") or {}

    def _project(df, entry: dict | None):
        """Resolve one file's physical columns to the v_to schema through
        its field-id name_map (rename-safe; see _mapped_source)."""
        nm = (entry or {}).get("name_map") or {}
        have = set(df.columns)
        out = []
        for f in schema.fields:
            src = _mapped_source(f.name, fids, nm)
            out.append(
                F.col(src).alias(f.name)
                if src is not None and src in have
                else F.lit(None).cast(f.dataType).alias(f.name)
            )
        keep = [c for c in df.columns if c == "_pos"]
        return df.select(*out, *keep)

    def _read(paths: list[str], entry: dict | None = None):
        if not paths:
            return spark.createDataFrame([], schema)
        return _project(
            spark.read.parquet(*[os.path.join(table_dir, p) for p in paths]), entry
        )

    def _eq_keys(e: dict):
        return spark.read.parquet(os.path.join(table_dir, e["path"])).toDF("_eqk")

    def _eq_anti(df, m: dict, entry: dict):
        """Subtract rows equality deletes applicable to ``entry`` at
        manifest ``m`` removed (one anti join per eq file; names are the
        v_to projection's, resolved through m1's registry)."""
        fseq = int(entry.get("seq", 0))
        for e in m.get("eq_deletes") or []:
            if int(e.get("seq", 0)) <= fseq:
                continue
            cur = _eq_current_col(m1, e)
            if cur is None or cur not in df.columns:
                continue
            df = df.join(
                F.broadcast(_eq_keys(e)),
                F.col(cur) == F.col("_eqk"), "left_anti",
            )
        return df

    def _pos_df(delete_paths):
        """One distributed frame of the positions a set of delete files
        names — never a driver list, never an In literal (the same
        anti-join shape _read_files_visible uses; here the caller scopes
        to ONE data file, so positions alone are the key)."""
        return (
            spark.read.parquet(
                *[os.path.join(table_dir, d) for d in delete_paths]
            )
            .select(F.col("pos").alias("_pos"))
            .distinct()
        )

    def _visible(entry: dict, version_files: dict, m: dict):
        """Rows of one data file minus its position AND equality deletes
        at a version."""
        df = _read([entry["path"]], entry)
        dels = version_files.get(entry["path"], {}).get("deletes", ())
        if dels:
            raw = spark.read.parquet(os.path.join(table_dir, entry["path"])).withColumn(
                "_pos", F.col("_metadata.row_index")
            )
            df = (
                _project(raw, entry)
                .join(_pos_df(dels), "_pos", "left_anti")
                .drop("_pos")
            )
        return _eq_anti(df, m, entry)

    # old side: removed files as visible at v_from, plus carried files'
    # rows newly deleted by MOR between the versions
    old_parts = [_visible(by0[p], by0, m0) for p in removed]
    # ... plus carried files' rows a NEW equality delete removed: rows
    # visible at v_from whose key the new delete file names (semi join)
    eq0_paths = {e["path"] for e in (m0.get("eq_deletes") or [])}
    for e in m1.get("eq_deletes") or []:
        if e["path"] in eq0_paths:
            continue
        cur = _eq_current_col(m1, e)
        if cur is None:
            continue
        for p in by0:
            if p not in by1:
                continue
            if int(by1[p].get("seq", 0)) >= int(e.get("seq", 0)):
                continue
            old_parts.append(
                _visible(by0[p], by0, m0).join(
                    F.broadcast(_eq_keys(e)),
                    F.col(cur) == F.col("_eqk"), "left_semi",
                )
            )
    for p in by0:
        if p not in by1:
            continue
        new_dels = [d for d in by1[p].get("deletes", ()) if d not in by0[p].get("deletes", ())]
        if not new_dels:
            continue
        raw = spark.read.parquet(os.path.join(table_dir, p)).withColumn(
            "_pos", F.col("_metadata.row_index")
        )
        # rows AT the newly-deleted positions (semi join, positions stay
        # executor-side) — minus rows an eq delete had ALREADY removed at
        # v_from: they were invisible there, so they are not deletes of
        # this range (the streaming CDC's skip_eq rule; without it a
        # rewrite_eq_deletes fold emitted its folded rows as phantom
        # deletes even though the visible set never changed)
        old_parts.append(
            _eq_anti(
                _project(raw, by0[p])
                .join(_pos_df(new_dels), "_pos", "left_semi")
                .drop("_pos"),
                m0,
                by0[p],
            )
        )
    old_side = old_parts[0] if old_parts else _read([])
    for part in old_parts[1:]:
        old_side = old_side.unionByName(part)
    new_parts = [_visible(by1[p], by1, m1) for p in added]
    new_side = new_parts[0] if new_parts else _read([])
    for part in new_parts[1:]:
        new_side = new_side.unionByName(part)
    o = old_side.select(*cols).alias("o")
    n = new_side.select(*cols).alias("n")
    j = o.join(n, F.col(f"o.{key_col}") == F.col(f"n.{key_col}"), "full_outer")
    data_cols = [c for c in cols if c != key_col]
    same = F.struct(*[F.col(f"o.{c}") for c in data_cols]).eqNullSafe(
        F.struct(*[F.col(f"n.{c}") for c in data_cols])
    )
    deletes = j.filter(F.col(f"n.{key_col}").isNull()).select(
        *[F.col(f"o.{c}").alias(c) for c in cols],
        F.lit("delete").alias("_change_type"),
    )
    inserts = j.filter(F.col(f"o.{key_col}").isNull()).select(
        *[F.col(f"n.{c}").alias(c) for c in cols],
        F.lit("insert").alias("_change_type"),
    )
    changed = j.filter(
        F.col(f"o.{key_col}").isNotNull() & F.col(f"n.{key_col}").isNotNull() & ~same
    )
    pre = changed.select(
        *[F.col(f"o.{c}").alias(c) for c in cols],
        F.lit("update_preimage").alias("_change_type"),
    )
    post = changed.select(
        *[F.col(f"n.{c}").alias(c) for c in cols],
        F.lit("update_postimage").alias("_change_type"),
    )
    return deletes.unionByName(inserts).unionByName(pre).unionByName(post)


# ---------------------------------------------------------------------------
# metadata tables (the Iceberg `table$snapshots` / `$files` / `$refs` model)
# ---------------------------------------------------------------------------

def metadata_table(spark, table_dir: str, kind: str, ref: str | None = None):
    """Table metadata as a queryable DataFrame — the inspection surface a
    scheduler or operator joins against without touching data files:

    * ``snapshots``: one row per committed snapshot (version, branch —
      NULL for refs-only metadata commits, parent, n_files,
      n_delete_files, rows); expired versions are absent.
    * ``refs``: one row per branch/tag (name, type, version).
    * ``files``: one row per data file of a snapshot (default: main head;
      ``ref`` selects a branch/tag) — path, rows, n_deletes, and the
      pruning stats as a map<string, array<string>> of [min, max].
    * ``history``: the ancestry of ``ref`` (default main), newest first —
      version, branch, parent, is_current; the lineage rollback/publish
      decisions read.
    * ``delete_files``: one row per live delete file (position bitmaps
      with their owning data file; equality key files with current key
      column + scoping seq) — the rewrite_eq_deletes / compaction
      trigger metric.

    Metadata is manifest-sized (file counts, not row counts), so building
    these driver-side matches how Iceberg itself plans metadata tables —
    the frames are then distributed for arbitrary downstream SQL."""
    from pyspark.sql.types import (
        ArrayType, BooleanType, IntegerType, LongType, MapType, StringType,
        StructField, StructType,
    )

    if kind == "snapshots":
        schema = StructType([
            StructField("version", IntegerType(), False),
            StructField("branch", StringType(), True),
            StructField("parent", IntegerType(), False),
            StructField("n_files", IntegerType(), False),
            StructField("n_delete_files", IntegerType(), False),
            StructField("n_eq_deletes", IntegerType(), False),
            StructField("rows", LongType(), False),
        ])
        rows = []
        for v in range(1, current_version(table_dir) + 1):
            try:
                m = load_manifest(table_dir, v)
            except FileNotFoundError:
                continue
            rows.append((
                v,
                m.get("branch", "main"),
                int(m.get("parent", v - 1)),
                len(m["files"]),
                sum(len(f.get("deletes", ())) for f in m["files"]),
                len(m.get("eq_deletes") or []),
                sum(f["rows"] for f in m["files"]),
            ))
        return spark.createDataFrame(rows, schema)
    if kind == "refs":
        schema = StructType([
            StructField("name", StringType(), False),
            StructField("type", StringType(), False),
            StructField("version", IntegerType(), False),
        ])
        rows = [
            (name, r["type"], int(r["version"]))
            for name, r in sorted(table_refs(table_dir).items())
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "files":
        schema = StructType([
            StructField("path", StringType(), False),
            StructField("rows", LongType(), False),
            StructField("n_deletes", IntegerType(), False),
            StructField("stats", MapType(StringType(), ArrayType(StringType())), True),
        ])
        m = load_manifest(table_dir, ref=ref)
        rows = [
            (
                f["path"],
                int(f["rows"]),
                len(f.get("deletes", ())),
                {c: [str(b[0]), str(b[1])] for c, b in (f.get("stats") or {}).items()},
            )
            for f in m["files"]
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "history":
        schema = StructType([
            StructField("version", IntegerType(), False),
            StructField("branch", StringType(), True),
            StructField("parent", IntegerType(), False),
            StructField("is_current", BooleanType(), False),
        ])
        head = resolve_ref(table_dir, ref or "main")
        rows = []
        for v in _ancestry(table_dir, head):
            m = load_manifest(table_dir, v)
            rows.append((v, m.get("branch", "main"), int(m.get("parent", v - 1)), v == head))
        return spark.createDataFrame(rows, schema)
    if kind == "partitions":
        # the Iceberg `table$partitions` analog: per-partition file/row
        # rollup from MANIFEST STATS alone (a file belongs to a partition
        # iff its partition_id min == max — the clustered-write layout);
        # spanning or stat-less files roll up under partition NULL so the
        # total always reconciles with `files`. rows are manifest record
        # counts (pre-MOR-delete, as Iceberg reports them); n_delete_files
        # counts position-delete bitmaps attached to the partition's files.
        schema = StructType([
            StructField("partition", LongType(), True),
            StructField("n_files", IntegerType(), False),
            StructField("rows", LongType(), False),
            StructField("n_delete_files", IntegerType(), False),
        ])
        m = load_manifest(table_dir, ref=ref)
        agg: dict = {}
        for f in m["files"]:
            st = (f.get("stats") or {}).get(STATS_COLUMN)
            key = None
            if st is not None and st[0] == st[1]:
                try:
                    key = int(st[0])
                except (TypeError, ValueError):
                    key = None
            cur = agg.setdefault(key, [0, 0, 0])
            cur[0] += 1
            cur[1] += int(f["rows"])
            cur[2] += len(f.get("deletes", ()))
        rows = [
            (k, c[0], c[1], c[2])
            for k, c in sorted(agg.items(), key=lambda kv: (kv[0] is None, kv[0]))
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "delete_files":
        # the Iceberg `table$delete_files` analog: one row per live
        # delete file of a snapshot, both flavors — position bitmaps
        # (with their owning data file) and equality key files (with the
        # field-id-resolved CURRENT key column + scoping sequence; a
        # dropped-column delete shows key_col NULL = unbindable). `rows`
        # comes from each delete file's parquet FOOTER — O(delete files)
        # metadata reads, no data pages. The maintenance dashboard query:
        # when sum(equality rows) or count(position files) grows, run
        # rewrite_eq_deletes / compact_snapshot.
        schema = StructType([
            StructField("path", StringType(), False),
            StructField("type", StringType(), False),
            StructField("data_file", StringType(), True),
            StructField("key_col", StringType(), True),
            StructField("seq", IntegerType(), True),
            StructField("rows", LongType(), False),
        ])
        m = load_manifest(table_dir, ref=ref)
        rows = []
        for f in m["files"]:
            for d in f.get("deletes", ()):
                n, _ = _footer_stats(os.path.join(table_dir, d))
                rows.append((d, "position", f["path"], None, None, int(n)))
        for e in m.get("eq_deletes") or []:
            n, _ = _footer_stats(os.path.join(table_dir, e["path"]))
            rows.append((
                e["path"], "equality", None, _eq_current_col(m, e),
                int(e.get("seq", 0)), int(n),
            ))
        return spark.createDataFrame(rows, schema)
    raise ValueError(
        f"unknown metadata table '{kind}' "
        "(snapshots|refs|files|history|partitions|delete_files)"
    )
