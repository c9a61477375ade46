"""Snapshot tables: the storage-side half of the engine.

Every table the engine writes (exactly-once stream sinks, incremental
views, search and ANN indexes, catalogs) is a snapshot table: immutable
data files plus a log of versioned JSON commit files.  This module is
the one owner of that log's format: file names, the publish rename,
the commit builder, the keyed-bucket hash and the reading of what one
commit changed.  The reference has no batch sinks at all (its only
sink is HTTP, Example2.scala:42).  Regression tests:
tests/test_layout_writer.py and tests/test_snapshot_*.py.
"""

from __future__ import annotations

import json
import re
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def zorder_key(cols: list, bits: int = 8):
    """Morton (Z-order) interleave of pre-scaled integer columns: bit b
    of column i lands at position ``b * len(cols) + i`` of the key, so
    nearby (x, y, ...) points share key prefixes and range-clustered
    files stay box-local in EVERY dimension at once — the property
    linear sort gives only its leading column.  Pure
    shiftleft/shiftright/AND/OR column arithmetic (no lambdas), so the
    whole key stays inside whole-stage codegen.  ``cols`` must already
    be ints in [0, 2**bits); ``bits * len(cols)`` must fit a long."""
    if bits * len(cols) > 63:
        raise ValueError("zorder_key: bits * len(cols) must be <= 63")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return z


def _scaled_zorder_key(df: DataFrame, zorder_cols: list[str], bits: int = 8):
    """Build the Morton key COLUMN for ``zorder_cols`` of ``df``: scale
    each column to [0, 2**bits) by its global min/max (ONE 1-row agg —
    the only driver round-trip), then interleave with ``zorder_key``.
    ``compact_files(zorder_by=...)`` clusters its rewrite on it."""
    exprs = []
    for i, c in enumerate(zorder_cols):
        exprs += [
            F.min(F.col(c)).alias(f"_mn{i}"),
            F.max(F.col(c)).alias(f"_mx{i}"),
        ]
    row = df.agg(*exprs).first()
    top = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(zorder_cols):
        # empty input: min/max are NULL — degrade to a constant key
        # (the caller writes the empty frame) instead of crashing
        mn = row[f"_mn{i}"] if row[f"_mn{i}"] is not None else 0
        mx = row[f"_mx{i}"] if row[f"_mx{i}"] is not None else 0
        span = float(mx - mn) if mx > mn else 1.0
        scaled.append(
            F.least(
                F.lit(top).cast("long"),
                (
                    (F.col(c).cast("double") - float(mn)) / span * (top + 1)
                ).cast("long"),
            )
        )
    return zorder_key(scaled, bits)


# --- snapshot-isolated tables (manifest commit log) --------------------------
#
# Plain parquet directories can only swap per-directory, so
# multi-bucket / multi-partition changes are never atomic as a whole.
# A MANIFEST table fixes that the way Iceberg/Delta do, minus the
# format baggage: data files are immutable and write-once under
# <path>/data/, and each COMMIT is ONE atomic create-style rename of a
# complete _manifest_v<N>.json (staged as a hidden .tmp, renamed to a
# destination that must not exist — so two racing committers of the
# same version conflict instead of clobbering: optimistic
# concurrency, Iceberg's commit rule).  Readers list the manifests
# and take the max version (or an explicit version = time travel) and
# read exactly that manifest's resolved file list — they can never
# observe a half-committed state, because a manifest either exists
# completely or not at all, and nothing it references is ever mutated.
#
# METADATA SCALING: the manifest does not inline the table's file list.
# Each commit writes ONE immutable SEGMENT file under <path>/segments/
# describing only that commit's delta — files added (plus their
# per-file stats and bucket assignments), buckets replaced (merge),
# or a truncate marker (overwrite) — and the manifest is a tiny
# document holding the ordered segment list (Iceberg's manifest-list /
# Delta's commit-log shape).  Per-commit metadata cost is therefore
# O(batch files) + one ~60-byte manifest entry, NOT O(table files):
# a streaming sink appending micro-batches to a million-file table
# writes kilobytes of metadata per commit, not a table-sized JSON.
# Readers replay the segment list to resolve the live file set —
# O(total segment entries), bounded by compact_metadata(), the
# rewrite-manifests maintenance analog that collapses history into a
# single segment.  A crash mid-commit leaves orphaned data files, an
# orphaned segment, and a stale hidden .tmp manifest, all invisible
# to readers and reclaimable by vacuum_snapshots.  There is
# deliberately NO mutable pointer file: a delete+recreate pointer has
# a reader-visible missing window and a crash there would reset the
# version counter.  Same caveat as everything rename-based: atomic on
# HDFS/posix stores, not on S3A.


class SnapshotTxnAlreadyApplied(Exception):
    """Raised when a ``_txn_update`` does not ADVANCE its app's
    watermark in the version file the commit would supersede — the
    transactional-idempotence guard INSIDE the commit protocol.  The
    sinks' cheap pre-check catches ordinary replays; this guard closes
    the zombie-writer race (two live instances of the same app: both
    pass the pre-check, one commits, the other must abort here instead
    of appending the batch a second time — Delta's txnVersion
    revalidation).  Because an interleaving foreign commit makes the
    rename conflict and the retry re-reads the new version, this check
    is always evaluated against the version actually superseded."""


class SnapshotTruncateInFeed(ValueError):
    """Raised when a change-feed span crosses a TRUNCATE/overwrite
    commit: a truncate has no row-change representation, and silently
    full-diffing it would present "every old key deleted, every new key
    inserted" as if it were ordinary churn.  Consumers catch this,
    re-bootstrap from ``snapshot_read(version=<the truncating
    version>)``, and tail from there — the same recovery as a
    from-zero bootstrap.  Subclasses ValueError, so a consumer that
    treats every missing delta as a re-bootstrap catches it too."""


class SnapshotVersionConflict(IOError):
    """Raised by ``snapshot_merge(expected_version=...)`` when the
    manifest it would supersede is no longer the one the caller read
    its base state from — an optimistic-concurrency check for
    READ-MODIFY-WRITE callers (e.g. the rollup sink sums the batch
    into the CURRENT table rows before merging: a foreign-app commit
    landing between that read and the merge would be silently
    overwritten for touched keys without this guard).  Also raised
    by every version-file publish (``_publish``) when a concurrent
    committer wins the rename, and by ``optimistic_commit`` when every
    attempt conflicted.  Subclasses IOError."""


# Attempts ``optimistic_commit`` makes before it gives up.
COMMIT_ATTEMPTS = 5


def optimistic_commit(caller: str, attempt, applied=lambda: None):
    """The one conflict-retry policy of every read-modify-commit
    writer (sinks, views, index roots, catalogs): ``attempt()`` reads
    the latest state, checks its own watermark, merges and commits,
    returning its result.  A ``SnapshotVersionConflict`` (a foreign
    commit landed since the read, or won the rename) re-runs it, up to
    ``COMMIT_ATTEMPTS`` times, then raises ``SnapshotVersionConflict``
    naming ``caller``.  ``SnapshotTxnAlreadyApplied`` (a concurrent
    instance of the same app committed first) returns ``applied()``.
    Any other error propagates after one try."""
    for _ in range(COMMIT_ATTEMPTS):
        try:
            return attempt()
        except SnapshotTxnAlreadyApplied:
            return applied()
        except SnapshotVersionConflict as e:
            last_err = e
    raise SnapshotVersionConflict(
        f"{caller}: commit kept conflicting after {COMMIT_ATTEMPTS} "
        f"attempts: {last_err}"
    )


def _fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _read_small(spark, path: str) -> bytes:
    jvm, fs = _fs(spark, path)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        return bytes(jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream))
    finally:
        stream.close()


def _write_small(spark, path: str, data: bytes) -> None:
    jvm, fs = _fs(spark, path)
    st = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    st.write(bytearray(data))
    st.close()


def _is_not_found(e: Exception) -> bool:
    # Py4J wraps java.io.FileNotFoundException
    return "FileNotFoundException" in str(e)


def _json_safe(v):
    # stats min/max of timestamp/date/decimal columns: serialize as
    # str.  For ISO-8601 temporals lexicographic order IS chronological
    # order; decimal strings do NOT order lexicographically — which is
    # why the segment also records stats_types and snapshot_scan
    # coerces bounds back to comparable values before pruning
    # (lexicographic '9.5' > '10.2' would silently prune overlapping
    # files).
    return str(v)


# --- version files ----------------------------------------------------------
#
# A table's commits are ``_manifest_v<N>.json``; an index root's or a
# catalog's are ``_idxroot_v<N>.json``.  Both are published, listed,
# time-travelled and guarded by the bodies below, which take the file
# prefix as their argument.
_MANIFEST = "_manifest_v"
_IDXROOT = "_idxroot_v"


def _version_name(prefix: str, version: int) -> str:
    return f"{prefix}{version}.json"


def _name_version(prefix: str, name: str) -> int | None:
    """The version file ``name`` publishes under ``prefix``; None for
    any other file (hidden stages, segments, data dirs)."""
    m = re.fullmatch(re.escape(prefix) + r"(\d+)\.json", name)
    return int(m.group(1)) if m else None


def manifest_file(version: int) -> str:
    """File name (under the table root) of table version ``version``."""
    return _version_name(_MANIFEST, version)


def manifest_version(name: str) -> int | None:
    """The table version a file name under the table root commits, or
    None when the file is not a published manifest."""
    return _name_version(_MANIFEST, name)


def _versions(spark, base: str, prefix: str) -> list[int]:
    """Every published version under ``prefix`` at ``base``, ascending:
    one directory listing of the root — version files are tiny and
    vacuum bounds their count."""
    jvm, fs = _fs(spark, base)
    root = jvm.org.apache.hadoop.fs.Path(base)
    if not fs.exists(root):
        return []
    return sorted(
        v
        for v in (_name_version(prefix, st.getPath().getName()) for st in fs.listStatus(root))
        if v is not None
    )


def _publish(spark, base: str, prefix: str, version: int, doc: dict) -> None:
    """Atomically publish version ``version`` of ``doc`` under
    ``prefix``: stamp ``committed_at`` (epoch seconds, the basis of
    timestamp time travel), stage the full bytes at a hidden ``.tmp``
    name, then rename to the final name.  The destination must not
    exist — Hadoop rename returns false then — so a concurrent publish
    of the same version raises ``SnapshotVersionConflict`` instead of
    clobbering (optimistic concurrency)."""
    doc.setdefault("committed_at", time.time())
    jvm, fs = _fs(spark, base)
    path = jvm.org.apache.hadoop.fs.Path
    name = _version_name(prefix, version)
    tmp = f"{base}/.{name}.tmp"
    _write_small(spark, tmp, json.dumps(doc, default=_json_safe).encode())
    dst = path(f"{base}/{name}")
    if fs.exists(dst) or not fs.rename(path(tmp), dst):
        fs.delete(path(tmp), False)
        raise SnapshotVersionConflict(
            f"commit conflict: {name} already exists at {base} (a "
            f"concurrent committer won); re-read the latest and retry"
        )


def commit_time(doc: dict, name: str) -> float:
    """A version file's ``committed_at`` stamp (every publish writes
    one); ``ValueError`` naming the file ``name`` when it has none."""
    at = doc.get("committed_at")
    if at is None:
        raise ValueError(f"version file {name} carries no committed_at stamp")
    return float(at)


def _parse_ts(ts) -> float:
    """A timestamp argument as epoch seconds: accepts a number, a
    ``datetime`` (naive = local time, the ``datetime.timestamp()``
    contract), or an ISO-8601 string."""
    import datetime as _dt

    if isinstance(ts, (int, float)):
        return float(ts)
    if isinstance(ts, _dt.datetime):
        return ts.timestamp()
    if isinstance(ts, str):
        return _dt.datetime.fromisoformat(ts).timestamp()
    raise TypeError(f"timestamp must be epoch seconds, datetime, or ISO str: {ts!r}")


def _version_at(spark, base: str, prefix: str, timestamp, caller: str) -> int:
    """TIMESTAMP time travel: the largest retained version under
    ``prefix`` whose commit time is ≤ ``timestamp`` (epoch seconds,
    ``datetime``, or ISO string).  Raises ``ValueError`` when the
    timestamp predates the first RETAINED version (vacuumed history is
    gone, same contract as version-based travel).  Cost: one listing
    plus one small read per retained version."""
    ts = _parse_ts(timestamp)
    versions = _versions(spark, base, prefix)
    if not versions:
        raise ValueError(f"{caller}: no committed version at {base}")
    best = None
    for v in versions:
        name = f"{base}/{_version_name(prefix, v)}"
        try:
            doc = json.loads(_read_small(spark, name))
        except Exception as e:
            if not _is_not_found(e):
                raise
            continue  # vacuumed since the listing
        if commit_time(doc, name) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"{caller}: timestamp {timestamp!r} predates the first "
            f"retained version of {base}"
        )
    return best


def _advance_txn(txn: dict, update: dict | None) -> dict:
    """``txn`` overlaid with ``update``'s per-app watermarks, each of
    which must ADVANCE its app's watermark in ``txn`` (the superseded
    version's map) or ``SnapshotTxnAlreadyApplied`` aborts the commit.
    Deriving the map from the version a commit PROVABLY supersedes
    (the rename conflict guarantees it) keeps a caller that read a
    stale version from regressing another app's watermark."""
    for app, bid in (update or {}).items():
        wm = txn.get(app)
        if wm is not None and bid <= wm:
            raise SnapshotTxnAlreadyApplied(
                f"txn {app!r} batch {bid} already applied (watermark {wm})"
            )
    return {**txn, **(update or {})}


# --- table commits ----------------------------------------------------------


def _commit_manifest(spark, base: str, version: int, manifest: dict) -> None:
    """Publish table version ``version``: ``_publish`` under the
    manifest prefix."""
    _publish(spark, base, _MANIFEST, version, manifest)


def _segment_prefix(version: int) -> str:
    return f"segments/seg-v{version}-"


def _write_segment(spark, base: str, version: int, seg: dict) -> str:
    """Write one immutable commit-delta segment and return its
    manifest-relative path.  Segments are write-once under a unique
    name and only become reachable when a manifest referencing them is
    atomically renamed into place — a crash between the two leaves an
    orphan that vacuum reclaims once the version number is no longer
    in-flight (version-prefixed name, same rule as data dirs)."""
    rel = f"{_segment_prefix(version)}{uuid.uuid4().hex[:8]}.json"
    _write_small(spark, f"{base}/{rel}", json.dumps(seg, default=_json_safe).encode())
    return rel


def _commit_version(
    spark,
    base: str,
    version: int,
    seg: dict,
    mode: str,
    schema: str,
    segments: list[str] = (),
    keyed: dict | None = None,
    txn: dict | None = None,
    extra: dict | None = None,
) -> int:
    """The one commit builder of every table writer: write commit
    ``version``'s own segment ``seg``, build its manifest (``segments``
    are the earlier ones it replays on top of — none after a
    truncate-and-readd — and ``schema`` the committed schema JSON), and
    publish it.  ``extra`` merges fields into the manifest verbatim.
    Returns ``version``."""
    manifest = {
        "format": 2,
        "version": version,
        "mode": mode,
        "schema": schema,
        "segments": [*segments, _write_segment(spark, base, version, seg)],
    }
    if keyed:
        manifest["keyed"] = keyed
    if txn:
        manifest["txn"] = txn
    if extra:
        manifest.update(extra)
    _commit_manifest(spark, base, version, manifest)
    return version


def _readd_segment(resolved: dict, change_mode: str) -> dict:
    """A segment that truncates the table and re-adds ``resolved``'s
    live state — files with their buckets, stats, bloom sidecars and
    deletion vectors — by reference: no data is copied."""
    seg = {"truncate": True, "add": list(resolved["files"]), "change_mode": change_mode}
    for k in ("buckets", "stats", "stats_types", "bloom", "bloom_meta", "dv", "dv_rows"):
        if resolved[k]:
            seg[k] = resolved[k]
    return seg


def _part_files(jvm, fs, data_dir: str) -> list[str]:
    """The ``part-`` files a write left directly under ``data_dir``,
    sorted."""
    return sorted(
        f
        for f in (
            st.getPath().toString()
            for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(data_dir))
        )
        if f.rsplit("/", 1)[-1].startswith("part-")
    )


def keyed_bucket(keyed: dict):
    """The bucket-id column of a row of a keyed table, under a
    manifest's ``keyed`` contract: the ``bucket_col`` value when the
    table has one, else ``pmod(xxhash64(cast(key as string)),
    n_buckets)``.  Every bucket map on disk was written with this hash,
    so it must stay byte-identical."""
    if keyed.get("bucket_col"):
        return F.col(keyed["bucket_col"]).cast("int")
    return F.pmod(
        F.xxhash64(F.col(keyed["key_col"]).cast("string")),
        F.lit(int(keyed["n_buckets"])),
    )


def keyed_bucket_files(manifest: dict, keys: DataFrame) -> list[str]:
    """The files of a keyed table's resolved ``manifest`` that can hold
    the keys in ``keys`` (a frame carrying the table's key column):
    the files of the buckets those keys hash to, found with one
    collect of at most ``n_buckets`` bucket ids.  A ``bucket_col``
    table places rows by data, not by key, so every file stays."""
    keyed = manifest["keyed"]
    if keyed.get("bucket_col"):
        return list(manifest["files"])
    touched = {r[0] for r in keys.select(keyed_bucket(keyed)).distinct().collect()}
    return [f for f in manifest["files"] if manifest["buckets"].get(f) in touched]


# --- what one commit changed --------------------------------------------------


def commit_segment(base: str, version: int, doc: dict) -> str:
    """The manifest-relative path of commit ``version``'s OWN segment:
    the last one its manifest ``doc`` lists (every writer appends its
    own).  ``ValueError`` when that segment belongs to another
    version."""
    segs = doc.get("segments") or []
    if not segs or not segs[-1].startswith(_segment_prefix(version)):
        raise ValueError(
            f"version {version} of {base} has no segment of its own; "
            "re-bootstrap from a retained version"
        )
    return segs[-1]


def commit_delta(
    base: str, version: int, seg: dict, bootstrap: bool = False
) -> tuple[str, list[str]]:
    """What commit ``version`` of the table at ``base`` changed, read
    off its own segment ``seg`` with no IO and no Spark:

    - ``("log", changelog files)`` for a merge: rows carrying
      ``_change``, update pre-images included;
    - ``("insert", data files)`` for an append, whose added rows are
      its inserts;
    - ``("none", [])`` for a metadata, file or deletion-vector
      compaction: no logical change.

    With ``bootstrap``, the table's creation (version 1, a
    truncate-and-add) reads as inserts of its files.  Otherwise a
    truncate (an overwrite or a restore) raises
    ``SnapshotTruncateInFeed``, and a commit that recorded no delta (a
    keyed table's creation) raises ``ValueError``."""
    mode = seg.get("change_mode")
    if bootstrap and version == 1 and seg.get("truncate"):
        mode = "insert"
    if mode == "log":
        return "log", list(seg.get("changelog") or [])
    if mode == "insert":
        return "insert", list(seg.get("add") or [])
    if mode == "none":
        return "none", []
    if mode == "truncate":
        raise SnapshotTruncateInFeed(
            f"change feed span crosses a TRUNCATE/overwrite commit "
            f"(v{version} of {base}) — a truncate is not expressible as row "
            f"changes; re-bootstrap the consumer from "
            f"snapshot_read(version={version}) and tail from there"
        )
    raise ValueError(
        f"version {version} of {base} recorded no change delta (a keyed "
        "table's creation) — read it with snapshot_read, or diff a span "
        "with snapshot_changes"
    )


def _load_manifest_doc(spark, base: str, version: int) -> dict:
    return json.loads(_read_small(spark, f"{base}/{manifest_file(version)}"))


def _txn_applied(
    spark, base: str, app: str, batch_id: int, version: int | None = None
) -> bool:
    """True when manifest ``version`` (default: the latest) already
    carries ``app``'s watermark at or past ``batch_id`` — a replayed
    batch."""
    if version is None:
        version = snapshot_latest_version(spark, base)
    if version <= 0:
        return False
    last = (_load_manifest_doc(spark, base, version).get("txn") or {}).get(app)
    return last is not None and batch_id <= last


# (base, version, manifest-file identity) -> resolved manifest.  Sound
# because a PUBLISHED version is immutable by construction (segments
# and manifests are write-once; vacuum only deletes whole expired
# versions, whose reads fail at scan time exactly as they would on a
# cache miss).  The identity component ((length, modtime) of the
# manifest file — one getFileStatus RPC, vs O(segments) reads on a
# miss) guards the ONE way (path, version) can alias: a table deleted
# and recreated at the same path within a driver session (tempdir
# reuse, tests, out-of-band cleanup) — the recreated v<N> manifest is
# a different file, so colliding version numbers miss instead of
# serving the dead table.  Bounded LRU (move-to-end on hit, evict
# oldest); callers get container copies so no one can mutate the
# cached entry.
_MANIFEST_CACHE: dict = {}
_MANIFEST_CACHE_CAP = 64


def _manifest_copy(m: dict) -> dict:
    out = dict(m)
    for k in ("files", "segments", "last_add"):
        out[k] = list(m[k]) if m[k] is not None else None
    for k in ("buckets", "stats", "stats_types", "txn", "bloom", "bloom_meta"):
        out[k] = dict(m[k])
    out["dv"] = {f: list(v) for f, v in m["dv"].items()}
    out["dv_rows"] = dict(m["dv_rows"])
    out["changelog"] = list(m["changelog"]) if m["changelog"] else m["changelog"]
    return out


def snapshot_manifest(spark, path: str, version: int | None = None) -> dict:
    """Resolve the LOGICAL manifest of a snapshot table version: replay
    the manifest's ordered immutable segment list into the live state —
    ``files`` (sorted), ``buckets`` (file → bucket for keyed tables),
    ``stats`` / ``stats_types`` (file-skipping metadata), plus the
    table-level fields (``schema``, ``keyed``, ``txn``, ``mode``,
    ``segments``) and the LAST segment's commit delta
    (``changelog`` files / ``change_mode`` / ``last_add``) for the
    change feed.  Replay cost is O(total segment entries) small-file
    reads — bounded by ``compact_metadata``; per-COMMIT metadata cost
    stays O(batch) regardless of table size."""
    base = path.rstrip("/")
    if version is None:
        version = snapshot_latest_version(spark, base)
    if version <= 0:
        raise ValueError(f"snapshot_manifest: no committed version at {path}")
    jvm, fs = _fs(spark, base)
    try:
        mst = fs.getFileStatus(
            jvm.org.apache.hadoop.fs.Path(f"{base}/{manifest_file(version)}")
        )
    except Exception as e:
        if not _is_not_found(e):
            raise
        raise FileNotFoundError(
            f"snapshot_manifest: version {version} of {base} is missing — "
            f"expired by vacuum_snapshots or never committed "
            f"({manifest_file(version)} not found; latest is "
            f"{snapshot_latest_version(spark, base)})"
        ) from None
    cache_key = (base, version, mst.getLen(), mst.getModificationTime())
    hit = _MANIFEST_CACHE.get(cache_key)
    if hit is not None:
        # move-to-end on hit: eviction drops the least-recently USED
        _MANIFEST_CACHE[cache_key] = _MANIFEST_CACHE.pop(cache_key)
        return _manifest_copy(hit)
    doc = _load_manifest_doc(spark, base, version)
    seg_list = list(doc.get("segments", []))
    files: dict[str, int | None] = {}
    stats: dict = {}
    stats_types: dict = {}
    bloom: dict = {}
    bloom_meta: dict = {}
    dv: dict = {}  # data file -> [position-delete sidecar parquet files]
    dv_rows: dict = {}  # data file -> live deleted-position count
    seg: dict = {}
    # INCREMENTAL resolution (driver fixed cost):
    # segments are immutable and write-once, so the resolved state is a
    # pure left fold over the ordered segment list — a cached
    # resolution of any PRIOR version whose segment list is a strict
    # prefix of this one supplies the fold state, and only the new
    # segments replay (each commit previously re-read the ENTIRE chain:
    # O(n²) small-file reads across an n-commit burst).  Segment names
    # carry a uuid, so prefix equality also guards the
    # deleted-and-recreated-table alias: a recreated chain names
    # different segment files and falls back to the full replay.
    start = 0
    best = None
    for ck, cv in _MANIFEST_CACHE.items():
        if ck[0] != base:
            continue
        cs = cv["segments"]
        if (
            0 < len(cs) < len(seg_list)
            and seg_list[: len(cs)] == cs
            and (best is None or len(cs) > len(best["segments"]))
        ):
            best = cv
    if best is not None:
        files = {f: best["buckets"].get(f) for f in best["files"]}
        stats = dict(best["stats"])
        stats_types = dict(best["stats_types"])
        bloom = dict(best["bloom"])
        bloom_meta = dict(best["bloom_meta"])
        dv = {f: list(x) for f, x in best["dv"].items()}
        dv_rows = dict(best["dv_rows"])
        start = len(best["segments"])
    for rel in seg_list[start:]:
        seg = json.loads(_read_small(spark, f"{base}/{rel}"))
        if seg.get("truncate"):
            files.clear()
            stats.clear()
            bloom.clear()
            dv.clear()
            dv_rows.clear()
        rb = set(seg.get("remove_buckets", []))
        if rb:
            files = {f: b for f, b in files.items() if b not in rb}
            stats = {f: s for f, s in stats.items() if f in files}
            bloom = {f: s for f, s in bloom.items() if f in files}
            # a rewritten file's deletion vectors die with it — the
            # rewrite materialized them (COW merge of a DV'd bucket,
            # compaction)
            dv = {f: v for f, v in dv.items() if f in files}
            dv_rows = {f: n for f, n in dv_rows.items() if f in files}
        for f in seg.get("add", []):
            files[f] = (seg.get("buckets") or {}).get(f)
        # deletion vectors ACCUMULATE per file across commits (positions
        # are only ever added; a file's set shrinks only by the file
        # being rewritten, handled above)
        for f, sidecars in (seg.get("dv") or {}).items():
            dv.setdefault(f, []).extend(sidecars)
        for f, n in (seg.get("dv_rows") or {}).items():
            dv_rows[f] = dv_rows.get(f, 0) + int(n)
        stats.update(seg.get("stats", {}))
        stats_types.update(seg.get("stats_types", {}))
        bloom.update(seg.get("bloom", {}))
        bloom_meta.update(seg.get("bloom_meta", {}))
    resolved = {
        "version": version,
        "mode": doc.get("mode"),
        "schema": doc["schema"],
        "files": sorted(files),
        "buckets": {f: b for f, b in files.items() if b is not None},
        "stats": stats,
        "stats_types": stats_types,
        "bloom": bloom,
        "bloom_meta": bloom_meta,
        "keyed": doc.get("keyed"),
        "txn": dict(doc.get("txn", {})),
        "segments": list(doc.get("segments", [])),
        "changelog": seg.get("changelog"),
        "change_mode": seg.get("change_mode"),
        "last_add": list(seg.get("add", [])),
        "dv": dv,
        "dv_rows": dv_rows,
        "committed_at": doc.get("committed_at"),
    }
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_CAP:
        _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    _MANIFEST_CACHE[cache_key] = _manifest_copy(resolved)
    return resolved


def snapshot_commit(
    spark,
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 16384,
    bloom_hashes: int = 5,
    _extra: dict | None = None,
    _txn_update: dict | None = None,
) -> int:
    """Commit ``df`` to a snapshot table at ``path`` and return the new
    version number.  ``mode='overwrite'`` makes the new version exactly
    ``df``; ``mode='append'`` makes it previous-files + ``df``'s files
    (append never rewrites data OR metadata — the commit writes one
    O(batch) segment plus a tiny manifest).

    Protocol (each step safe to crash after):
      1. write df's parquet files to ``data/v<N>-<uuid>/`` (write-once,
         never listed by readers until referenced by a manifest);
      2. write the commit's immutable segment under ``segments/``
         (only this commit's files + stats — never the table's);
      3. stage the complete ``_manifest_v<N>.json`` at a hidden .tmp
         name, then atomically rename it into place — THE commit.
    A crash before step 3's rename leaves only invisible artifacts
    (readers still resolve N-1); the rename refuses an existing
    destination, so concurrent committers conflict instead of
    clobbering.  Committing to a ``snapshot_write_keyed`` table is
    rejected — a plain commit would drop the bucket map and break
    ``snapshot_merge`` (use snapshot_merge, or re-key with a fresh
    snapshot_write_keyed at a new path).

    ``stats_cols`` records per-NEW-file min/max of those columns in
    the segment (one bounded pass over just-written files, grouped by
    input_file_name) — the Iceberg-style FILE-SKIPPING metadata
    ``snapshot_scan`` prunes with — together with each column's Spark
    type so string-serialized decimal/temporal bounds compare
    correctly at scan time.

    Transaction watermarks: the committed ``txn`` map is ALWAYS the
    superseded manifest's map (overwrite included — a crashed stream
    must not double-append after an interleaved batch overwrite, the
    Delta txnAppId rule) overlaid with ``_txn_update``'s entries
    (``_advance_txn``).  ``_extra`` merges extra fields into the
    manifest verbatim.
    """
    base = path.rstrip("/")
    jvm, fs = _fs(spark, base)
    cur_version = snapshot_latest_version(spark, base)
    schema = df.schema
    segments: list[str] = []
    txn: dict = {}
    if cur_version > 0:
        prev = _load_manifest_doc(spark, base, cur_version)
        if prev.get("keyed"):
            raise ValueError(
                "snapshot_commit: table is keyed (snapshot_write_keyed) — a "
                "plain commit would drop its bucket map; use snapshot_merge"
            )
        txn = dict(prev.get("txn", {}))
        if mode == "append":
            segments = list(prev.get("segments", []))
            # SCHEMA EVOLUTION on append: the committed schema is the
            # column union (existing order first, new columns after);
            # a column present in both with a DIFFERENT type is a
            # contract break and raises — silent coercion corrupts
            prev_schema = StructType.fromJson(json.loads(prev["schema"]))
            by_name = {f.name: f for f in df.schema.fields}
            fields = []
            for f in prev_schema.fields:
                nf = by_name.pop(f.name, None)
                if nf is not None and nf.dataType != f.dataType:
                    raise ValueError(
                        f"snapshot_commit: column {f.name!r} changes type "
                        f"{f.dataType.simpleString()} -> "
                        f"{nf.dataType.simpleString()} — evolution adds "
                        "columns, never retypes them"
                    )
                fields.append(f)
            fields.extend(by_name.values())
            schema = StructType(fields)
    txn = _advance_txn(txn, _txn_update)
    new_version = cur_version + 1
    data_dir = f"{base}/data/v{new_version}-{uuid.uuid4().hex[:8]}"
    df.write.mode("error").parquet(data_dir)
    new_files = _part_files(jvm, fs, data_dir)
    seg: dict = {"add": new_files}
    if mode == "append":
        seg["change_mode"] = "insert"  # appends are pure inserts → free CDF
    else:
        seg["truncate"] = True
        # TRUNCATE MARKER: the feed must fail LOUDLY on an overwrite in
        # its span — a truncate is not expressible as row changes
        seg["change_mode"] = "truncate"
    if stats_cols and new_files:
        seg["stats"] = _file_stats(spark, new_files, stats_cols)
        seg["stats_types"] = {
            c: df.schema[c].dataType.simpleString() for c in stats_cols
        }
    # BLOOM sidecars: once a table declares bloom columns,
    # appends keep them alive automatically — a new file without its
    # bitmap is conservatively unprunable, which silently degrades
    # every later point lookup (the stats-maintenance lesson applied
    # to equality skipping).  An overwrite starts fresh: only the
    # commit's own ``bloom_cols`` declare bitmaps for the new table.
    bmeta: dict = {}
    if mode == "append" and cur_version > 0:
        bmeta.update(snapshot_manifest(spark, base, cur_version)["bloom_meta"])
    for c in bloom_cols or ():
        bmeta[c] = {"bits": int(bloom_bits), "hashes": int(bloom_hashes)}
    if bmeta and new_files:
        seg["bloom"] = _file_blooms(spark, new_files, bmeta, schema)
        seg["bloom_meta"] = bmeta
    return _commit_version(
        spark, base, new_version, seg, mode, schema.json(),
        segments=segments, txn=txn, extra=_extra,
    )


def _normalize_file_uri(f: str) -> str:
    """input_file_name() returns a percent-encoded URI (file:///…,
    %20 for spaces); the manifest stores Hadoop Path renderings
    (file:/… with raw characters).  Normalize prefix AND decode so
    stats keys match file-list entries on any path — a silent
    mismatch would not corrupt results but would disable pruning."""
    from urllib.parse import unquote

    if f.startswith("file:///"):
        f = "file:/" + f[len("file:///"):]
    return unquote(f)


def snapshot_latest_version(spark, path: str) -> int:
    """Current committed version (0 = no table yet): the max N with a
    published ``_manifest_vN.json``.  One directory listing of the
    table root — manifests are tiny and vacuum bounds their count, so
    this stays O(retained versions); hidden ``.tmp`` stages, segment
    files, and data dirs are not consulted."""
    return max(_versions(spark, path.rstrip("/"), _MANIFEST), default=0)


# Deletion vectors smaller than this many positions (summed over the
# files being read) broadcast to the anti-join; bigger sets shuffle.
# Positions are two thin columns — 4M rows is a few hundred MB tops.
_DV_BROADCAST_MAX_ROWS = 4_000_000

# merge(mode="auto") writes deletion vectors instead of rewriting when
# the matched keys are under this fraction of the rewrite files' rows
_DV_AUTO_MAX_FRACTION = 0.2


def _dv_files_for(manifest: dict, files) -> list[str]:
    """The position-delete sidecar files covering any of ``files`` —
    empty when none of them carries deletes (the common case reads
    with ZERO deletion-vector overhead)."""
    dv = manifest.get("dv") or {}
    out: set = set()
    for f in files:
        out.update(dv.get(f, ()))
    return sorted(out)


def snapshot_read_files(
    spark,
    manifest: dict,
    files: list[str],
    schema=None,
    with_positions: bool = False,
) -> DataFrame:
    """Read a SUBSET of a resolved manifest's data files with the
    table's DELETION VECTORS applied — the one reader every scan path
    (full read, stats/bloom-pruned scan, bucket-pruned merge probe,
    IVM join-side read) funnels through, so merge-on-read deletes are
    invisible everywhere by construction.

    Mechanics: each data row is identified by (``_metadata.file_path``,
    ``_metadata.row_index``) — Spark's native per-file row position,
    the same identity Iceberg position deletes use; live rows are the
    LEFT ANTI join against the union of the read files' position
    sidecars.  Only sidecars covering the requested files load (a
    pruned scan never pays for other files' deletes), the delete side
    broadcasts below ``_DV_BROADCAST_MAX_ROWS`` (manifest-recorded
    counts — no extra job), and a table with no deletes returns the
    plain pruned scan untouched: zero overhead unless DVs exist.

    ``with_positions=True`` keeps the ``_dv_file``/``_dv_pos`` identity
    columns on the output — the merge path needs them to RECORD new
    deletion vectors."""
    if schema is None:
        schema = StructType.fromJson(json.loads(manifest["schema"]))
    if not files:
        df = spark.createDataFrame([], schema)
        if with_positions:
            df = df.select(
                "*",
                F.lit(None).cast("string").alias("_dv_file"),
                F.lit(None).cast("long").alias("_dv_pos"),
            )
        return df
    dvf = _dv_files_for(manifest, files)
    if not dvf and not with_positions:
        return spark.read.schema(schema).parquet(*files)
    df = spark.read.schema(schema).parquet(*files).select(
        "*",
        F.col("_metadata.file_path").alias("_dv_file"),
        F.col("_metadata.row_index").alias("_dv_pos"),
    )
    if dvf:
        dv_rows = sum(
            (manifest.get("dv_rows") or {}).get(f, 0) for f in files
        )
        dead = spark.read.parquet(*dvf).select("_file", "_pos")
        if dv_rows <= _DV_BROADCAST_MAX_ROWS:
            dead = F.broadcast(dead)
        df = df.join(
            dead,
            (df["_dv_file"] == dead["_file"]) & (df["_dv_pos"] == dead["_pos"]),
            "left_anti",
        )
    if not with_positions:
        df = df.drop("_dv_file", "_dv_pos")
    return df


def snapshot_version_at(spark, path: str, timestamp) -> int:
    """TIMESTAMP time travel resolver (the Delta ``TIMESTAMP AS OF`` /
    Iceberg snapshot-at-time verb): the LARGEST retained committed
    version whose ``committed_at`` stamp is ≤ ``timestamp`` (epoch
    seconds, ``datetime``, or ISO string) — ``_version_at`` over the
    table's manifests.  Raises ``ValueError`` if the timestamp predates
    the first RETAINED commit, or if a manifest carries no stamp."""
    return _version_at(
        spark, path.rstrip("/"), _MANIFEST, timestamp, "snapshot_version_at"
    )


def snapshot_read(
    spark, path: str, version: int | None = None, timestamp=None
) -> DataFrame:
    """Read a snapshot table: the latest committed version, an
    explicit ``version``, or the version live at ``timestamp``
    (``snapshot_version_at``) for TIME TRAVEL.  The
    returned frame reads exactly the manifest's immutable resolved
    file list — concurrent commits cannot change what this reader
    sees (snapshot isolation by construction: data files are never
    mutated, only superseded).  Merge-on-read deletion vectors, when
    present, are anti-joined away inside ``snapshot_read_files`` — a
    row whose position is deleted never surfaces, at any version."""
    base = path.rstrip("/")
    if timestamp is not None:
        if version is not None:
            raise ValueError("snapshot_read: version and timestamp are exclusive")
        version = snapshot_version_at(spark, base, timestamp)
    manifest = snapshot_manifest(spark, base, version)

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    # the manifest's schema is the table contract for THIS version —
    # reading with it (not inference off one file) makes appended-
    # column evolution work: old files yield NULL for new columns,
    # and time travel to a pre-evolution version shows the old shape
    return snapshot_read_files(spark, manifest, manifest["files"], schema)


def compact_metadata(spark, path: str) -> int:
    """Metadata maintenance — the Iceberg rewrite-manifests analog:
    collapse the manifest's accumulated segment history into ONE
    segment equal to the current resolved state, committed as a new
    version (``mode='compact-metadata'``, no data change).  Bounds
    resolve cost back to O(live files) after long append/merge chains;
    run it on the same cadence as file compaction.  Time travel to
    pre-compaction versions still works until vacuum expires them.
    Deletion vectors carry over with their files."""
    base = path.rstrip("/")
    resolved = snapshot_manifest(spark, base)
    return _commit_version(
        spark,
        base,
        resolved["version"] + 1,
        _readd_segment(resolved, "none"),  # no data change → the feed skips it
        "compact-metadata",
        resolved["schema"],
        keyed=resolved["keyed"],
        txn=resolved["txn"],
    )


def vacuum_snapshots(spark, path: str, keep_last: int = 2) -> dict:
    """Reclaim storage: drop manifests older than the last
    ``keep_last`` versions, delete segments no retained manifest
    references, and delete data/changelog files no retained segment
    references (orphans from crashed commits included).  Time travel
    reaches only retained versions afterwards — the Iceberg
    expire-snapshots contract.

    IN-FLIGHT COMMIT SAFETY: a commit
    writes its data dir, changelog dir, and segment BEFORE the
    manifest rename, so a concurrent vacuum must not treat them as
    orphans — every such artifact carries a ``v<N>`` version prefix,
    and the sweep skips anything with N > the latest committed
    version at sweep time (the remove-orphan-files grace rule, made
    deterministic by version numbering).  Returns {"deleted_files": n,
    "deleted_manifests": n, "deleted_segments": n}."""
    base = path.rstrip("/")
    jvm, fs = _fs(spark, base)
    versions = _versions(spark, base, _MANIFEST)
    if not versions:
        return {"deleted_files": 0, "deleted_manifests": 0, "deleted_segments": 0}
    latest = versions[-1]
    keep = set(range(max(1, latest - keep_last + 1), latest + 1))
    live_files: set[str] = set()
    live_segments: set[str] = set()
    dropped_manifests = 0
    for v in versions:
        mp = f"{base}/{manifest_file(v)}"
        if v in keep:
            # live DATA files are the RESOLVED state of each retained
            # version (a segment's adds may be superseded by a later
            # segment's remove_buckets/truncate — the raw union would
            # keep dead files forever); live SEGMENTS are everything a
            # retained manifest replays through
            doc = json.loads(_read_small(spark, mp))
            live_segments.update(doc.get("segments", []))
            res_v = snapshot_manifest(spark, base, v)
            live_files.update(res_v["files"])
            # deletion-vector sidecars stay reachable as long as any
            # retained version's resolved state references them
            for sidecars in res_v["dv"].values():
                live_files.update(sidecars)
        else:
            fs.delete(jvm.org.apache.hadoop.fs.Path(mp), False)
            dropped_manifests += 1
    for rel in live_segments:
        # change logs stay reachable for the feed as long as their
        # version's manifest is retained
        m = re.search(r"seg-v(\d+)-", rel)
        if m is None or int(m.group(1)) not in keep:
            continue
        seg = json.loads(_read_small(spark, f"{base}/{rel}"))
        live_files.update(seg.get("changelog", []) or [])
    # stale hidden manifest stages from crashed commits
    root = jvm.org.apache.hadoop.fs.Path(base)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(f".{_MANIFEST}") and name.endswith(".json.tmp"):
            fs.delete(st.getPath(), False)
    # unreferenced segments (expired history, crashed commits) — skip
    # in-flight version numbers
    deleted_segments = 0
    seg_root = jvm.org.apache.hadoop.fs.Path(f"{base}/segments")
    if fs.exists(seg_root):
        for st in fs.listStatus(seg_root):
            name = st.getPath().getName()
            m = re.match(r"seg-v(\d+)-", name)
            if m is None or int(m.group(1)) > latest:
                continue
            if f"segments/{name}" not in live_segments:
                fs.delete(st.getPath(), False)
                deleted_segments += 1
    deleted = 0

    def _sweep(d):
        nonlocal deleted
        for st in fs.listStatus(d):
            if st.isDirectory():
                # keyed tables nest one _bucket=<b> level under the
                # version dir
                _sweep(st.getPath())
                if not fs.listStatus(st.getPath()):
                    fs.delete(st.getPath(), True)
                continue
            f = st.getPath().toString()
            if f.rsplit("/", 1)[-1].startswith("part-") and f not in live_files:
                fs.delete(st.getPath(), False)
                deleted += 1

    for sub in ("data", "changes", "dv"):
        sub_root = jvm.org.apache.hadoop.fs.Path(f"{base}/{sub}")
        if not fs.exists(sub_root):
            continue
        for vdir in fs.listStatus(sub_root):
            m = re.match(r"v(\d+)-", vdir.getPath().getName())
            if m is not None and int(m.group(1)) > latest:
                continue  # in-flight commit's artifacts — not orphans yet
            _sweep(vdir.getPath())
            if not fs.listStatus(vdir.getPath()):
                fs.delete(vdir.getPath(), True)
    return {
        "deleted_files": deleted,
        "deleted_manifests": dropped_manifests,
        "deleted_segments": deleted_segments,
    }


def _write_buckets(df: DataFrame, data_dir: str, sort_within: str | None) -> None:
    """Write ``df`` (carrying ``_bucket``) as one file set per bucket,
    rows ordered on ``sort_within`` inside each file when given."""
    out = df.repartition(F.col("_bucket"))
    if sort_within:
        # _bucket prefix REQUIRED (see compact_files): FileFormatWriter
        # demands ordering by the partition column and would otherwise
        # insert its own _bucket-only sort, discarding the clustering
        out = out.sortWithinPartitions("_bucket", sort_within)
    out.write.partitionBy("_bucket").parquet(data_dir)


def snapshot_write_keyed(
    spark,
    df: DataFrame,
    path: str,
    key_col: str,
    n_buckets: int = 16,
    stats_cols: list[str] | None = None,
    _txn_update: dict | None = None,
    sort_within: str | None = None,
    bucket_col: str | None = None,
) -> int:
    """Create a KEYED snapshot table: rows hash-bucketed by ``key_col``
    into one file set per bucket, the bucket map recorded in the
    commit's segment — the layout that makes ``snapshot_merge`` a
    bucket-pruned copy-on-write whose commit is ATOMIC ACROSS BUCKETS.
    ``sort_within`` clusters each bucket's files on a column (term-
    sorted posting files make a per-term lookup row-group-skippable
    instead of a full scan); it is recorded with the table's keying, so
    merges and DV compaction keep it on every bucket they rewrite.

    ``bucket_col`` makes the bucket assignment PLUGGABLE: an
    int column of ``df`` (caller-computed — e.g. an IVF cell id) places
    each row instead of the key hash, so reads can prune files by a
    SEMANTIC partition (probed cells) straight off the manifest's
    bucket map while merges stay key-correct (a re-upserted key whose
    bucket value changed MOVES — the old row is dropped from its old
    bucket, the new row lands in the new one).  The column stays in
    the schema as ordinary data.  Returns the committed version."""
    base = path.rstrip("/")
    jvm, fs = _fs(spark, base)
    if snapshot_latest_version(spark, base) != 0:
        raise ValueError(f"snapshot_write_keyed: {path} already has commits")
    if bucket_col is not None and bucket_col not in df.columns:
        raise ValueError(
            f"snapshot_write_keyed: bucket_col {bucket_col!r} not in df"
        )
    keyed = {"key_col": key_col, "n_buckets": n_buckets}
    if bucket_col is not None:
        keyed["bucket_col"] = bucket_col
    if sort_within:
        keyed["sort_within"] = sort_within
    data_dir = f"{base}/data/v1-{uuid.uuid4().hex[:8]}"
    _write_buckets(df.withColumn("_bucket", keyed_bucket(keyed)), data_dir, sort_within)
    files, buckets = _list_bucket_files(jvm, fs, data_dir)
    seg = {"add": files, "buckets": buckets, "truncate": True}
    if stats_cols and files:
        # file-skipping stats on a KEYED table: recorded per commit
        # exactly like plain commits; snapshot_merge re-derives the
        # column set from stats_types so every bucket rewrite keeps
        # the metadata alive
        seg["stats"] = _file_stats(spark, files, stats_cols)
        seg["stats_types"] = {
            c: df.schema[c].dataType.simpleString() for c in stats_cols
        }
    # a streaming sink creating its table on batch 0 needs the
    # watermark on the CREATING commit too, or a replayed batch 0
    # would hit the already-has-commits guard and crash-loop
    return _commit_version(
        spark, base, 1, seg, "overwrite", df.schema.json(),
        keyed=keyed, txn=_advance_txn({}, _txn_update),
    )


def _list_bucket_files(jvm, fs, data_dir: str) -> tuple[list[str], dict]:
    """The sorted ``part-`` files of a ``_bucket``-partitioned write and
    the bucket map {file: bucket}."""
    buckets: dict = {}
    for bdir in fs.listStatus(jvm.org.apache.hadoop.fs.Path(data_dir)):
        name = bdir.getPath().getName()
        if name.startswith("_bucket="):
            b = int(name.split("=", 1)[1])
            for f in _part_files(jvm, fs, bdir.getPath().toString()):
                buckets[f] = b
    return sorted(buckets), buckets


def _change_struct_cols(schema_names: list[str], key_col: str) -> list[str]:
    return [c for c in schema_names if c != key_col]


def _file_stats(spark, files: list[str], stats_cols: list[str], schema=None) -> dict:
    """Per-file min/max of ``stats_cols`` over just-written files — the
    one bounded pass (one row per file, commit-sized never table-sized)
    every stats-recording commit shares."""
    if not files or not stats_cols:
        return {}
    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    reader = spark.read.schema(schema) if schema is not None else spark.read
    rows = (
        reader.parquet(*files)
        .groupBy(F.input_file_name().alias("_f"))
        .agg(*aggs)
        .collect()
    )
    return {
        _normalize_file_uri(r["_f"]): {
            c: [r[f"_mn_{c}"], r[f"_mx_{c}"]] for c in stats_cols
        }
        for r in rows
    }


def _bloom_position_exprs(col_expr, bits: int, hashes: int) -> list:
    """The k bit positions of one value: k independently SEEDED
    xxhash64 hashes of the value's string form (seeding by an extra
    literal column, not by hash arithmetic — h1 + i*h2 overflows a
    long and would raise under ANSI mode), each pmod'ed into [0, bits).
    The SAME expression computes write-side bitmaps and lookup-side
    probes, so engine hashing can never disagree with itself."""
    s = col_expr.cast("string")
    return [
        F.pmod(F.xxhash64(s, F.lit(i)), F.lit(bits)).cast("int")
        for i in range(hashes)
    ]


def _file_blooms(spark, files: list[str], meta: dict, schema=None) -> dict:
    """Per-file Bloom bitmaps for the columns in ``meta`` ({col:
    {"bits": m, "hashes": k}}) over just-written files — the
    equality-lookup twin of ``_file_stats`` min/max.  SIZING: with
    k=5 hashes, ~1% false positives needs bits ≈ 10 × the file's
    DISTINCT values (the default 16384 covers ~1.6k values/file; a
    128 MB file of short rows wants ~2**23 bits ≈ 1 MB bitmap —
    declare accordingly, the bitmap rides the commit's segment JSON
    base64'd at bits/6 bytes).  An over-full bitmap never returns
    wrong rows; it just stops pruning.  One bounded
    distributed pass per column: distinct (file, bit) pairs group per
    file IN THE CLUSTER and an Arrow-batched ``applyInPandas`` packs
    each file's positions into the finished base64 string
    EXECUTOR-SIDE — the driver
    collects one ~bits/6-byte string per file, never files × bits int
    rows; at the 2²³-bit sizing this docstring recommends for 128 MB
    files, a 1 000-file commit streams ~1.4 MB/file of base64 instead
    of holding ~1 GB of positions + bytearrays in driver Python.  A
    file whose column is entirely NULL gets the empty bitmap —
    definitely-not for every probe (an equality predicate can never
    match NULL)."""
    import base64

    if not files or not meta:
        return {}
    reader = spark.read.schema(schema) if schema is not None else spark.read
    src = reader.parquet(*files)
    out: dict[str, dict[str, str]] = {
        f: {} for f in (_normalize_file_uri(f) for f in files)
    }

    def _pack_factory(nbits: int):
        nbytes = (nbits + 7) // 8

        def _pack(pdf):
            import pandas as pd

            bm = bytearray(nbytes)
            for p in pdf["_p"]:
                p = int(p)
                bm[p >> 3] |= 1 << (p & 7)
            return pd.DataFrame(
                {
                    "_f": [pdf["_f"].iloc[0]],
                    "_bm": [base64.b64encode(bytes(bm)).decode("ascii")],
                }
            )

        return _pack

    for c, m in meta.items():
        bits, hashes = int(m["bits"]), int(m["hashes"])
        pos = F.explode(
            F.array(*_bloom_position_exprs(F.col(c), bits, hashes))
        ).alias("_p")
        rows = (
            src.filter(F.col(c).isNotNull())
            .select(F.input_file_name().alias("_f"), pos)
            .distinct()
            .groupBy("_f")
            .applyInPandas(_pack_factory(bits), "_f string, _bm string")
            .collect()
        )
        bitmaps = {_normalize_file_uri(r["_f"]): r["_bm"] for r in rows}
        empty = base64.b64encode(bytes((bits + 7) // 8)).decode("ascii")
        for f in out:
            out[f][c] = bitmaps.get(f, empty)
    return out


def snapshot_merge(
    spark,
    path: str,
    updates: DataFrame,
    key_col: str,
    delete_col: str | None = None,
    change_log: bool = True,
    _txn_update: dict | None = None,
    expected_version: int | None = None,
    mode: str = "cow",
) -> int:
    """MERGE INTO a keyed snapshot table with FULL-TABLE atomicity:
    matched keys replaced, new keys inserted, and only the buckets
    holding MATCHED keys re-written (copy-on-write via the manifest's
    bucket map; the COW is insert-aware — a pure-insert
    batch APPENDS new files to its buckets and rewrites nothing, so
    commit write cost is O(batch); untouched and insert-only buckets'
    files carry over BY REFERENCE in an O(touched) segment), and the
    whole merge becomes visible in ONE atomic manifest rename.  A
    reader can never see half a merge, a crash anywhere leaves the
    table at the previous version, and time travel reaches the
    pre-merge state — none of which a per-directory rename swap can
    give.

    ``delete_col`` names a boolean column in ``updates``: rows where
    it is true DELETE their key (WHEN MATCHED … DELETE; deleting an
    absent key is a no-op), the rest upsert as usual — one atomic
    commit carries inserts, updates, and deletes together.  The
    column is stripped before writing.

    SCHEMA EVOLUTION: a merge batch may CARRY NEW COLUMNS —
    the committed schema becomes the column union (same contract as
    append: existing order first, new columns after; a retype raises;
    a batch MISSING an existing column raises, because an upsert row
    is a full row).  Untouched buckets' files are never rewritten;
    they read as NULL for the new columns through the manifest schema,
    and time travel to a pre-evolution version shows the old shape.

    ``change_log=True`` (default) additionally writes this commit's
    exact insert/update/delete rows to ``changes/v<N>-<uuid>/`` and
    references them from the segment — the PER-COMMIT CHANGE LOG that
    lets ``snapshot_changes`` / ``snapshot_changes_feed`` serve CDC
    reads in O(changed rows) instead of diffing two full versions.
    Cost: one extra join over the
    already-touched buckets — O(touched), never O(table).  The log
    uses the identical struct-diff semantics as the diff-based feed
    (no-op updates excluded), pytest-pinned row-identical.

    ``_txn_update`` overlays per-app transaction watermarks exactly as
    ``snapshot_commit`` does (the streaming MERGE sink rides it); the
    superseded manifest's ``txn`` map is always carried forward.

    ``mode`` picks the write strategy for MATCHED keys (merge-on-read
    is the Delta deletion-vector / Iceberg position-delete analog):

    - ``"cow"`` (default): copy-on-write — matched buckets rewrite in
      full, exactly as before.
    - ``"mor"``: merge-on-read — matched keys' OLD rows are recorded
      as per-file POSITION-DELETE sidecars (``dv/v<N>-…/`` parquet of
      (_file, _pos), referenced from the segment) and the batch's
      surviving rows append as new files; NO data file is rewritten.
      A 1-row update to a 1 GB bucket writes one tiny sidecar plus one
      tiny data file — the write-amplification fix for scattered-key
      delete/update traffic (GDPR deletes, dedup tombstones) at 100 TB.
      Every reader (``snapshot_read``, scans, lookups, IVM probes)
      anti-joins live positions via ``snapshot_read_files``;
      ``compact_files`` materializes DVs away (its rewrite drops them).
      Read cost until then: the anti-join against O(deleted positions).
    - ``"auto"``: per-merge choice, decided from EXACT row counts the
      probe scan already produces — MOR when matched keys are under
      ``_DV_AUTO_MAX_FRACTION`` of the matched buckets' live rows, COW
      otherwise (a backfill that touches most rows should rewrite and
      keep reads clean; a needle update should not rewrite gigabytes).

    Changelog, schema evolution, stats/bloom maintenance, transaction
    watermarks, and the conflict guard behave IDENTICALLY in all
    modes — a MOR commit's changelog records the same exact
    insert/update/delete rows, so CDC consumers and incremental views
    cannot tell the difference (pytest-pinned hash-equal to the COW
    path on the same op stream).

    ``expected_version`` pins the read-modify-write unit for callers
    whose ``updates`` were COMPUTED FROM a specific table version
    (read-current-rows → combine → merge): if the latest version is no
    longer ``expected_version`` when the merge resolves its base,
    ``SnapshotVersionConflict`` (an IOError) is raised BEFORE anything
    is written, and the caller re-reads and retries — otherwise a
    foreign commit landing between the caller's read and this merge
    would be silently overwritten for touched keys (lost update).
    Callers whose updates are self-contained (plain upserts) omit it.
    Returns the new version."""
    if mode not in ("cow", "mor", "auto"):
        raise ValueError(f"snapshot_merge: unknown mode {mode!r}")
    base = path.rstrip("/")
    jvm, fs = _fs(spark, base)
    resolved = snapshot_manifest(spark, base)
    cur = resolved["version"]
    if expected_version is not None and cur != expected_version:
        raise SnapshotVersionConflict(
            f"snapshot_merge: expected to supersede v{expected_version} "
            f"but latest is v{cur} — re-read base state and retry"
        )
    keyed = resolved["keyed"]
    if not keyed:
        raise ValueError(f"snapshot_merge: {path} is not a snapshot_write_keyed table")
    if keyed["key_col"] != key_col:
        raise ValueError(
            f"snapshot_merge: table is keyed on {keyed['key_col']!r}, not {key_col!r}"
        )
    txn = _advance_txn(resolved["txn"], _txn_update)
    dup = (
        updates.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"snapshot_merge: duplicate key {dup[0][key_col]!r} in updates"
        )
    bucket_col = keyed.get("bucket_col")
    bucket_expr = keyed_bucket(keyed)
    upd = updates.withColumn("_bucket", bucket_expr)
    buckets: dict = resolved["buckets"]
    # files to PROBE for key matches: a hash-bucketed key can only live
    # in its hash bucket; a bucket_col table must probe EVERY file (a
    # key's stored cell may differ from the batch's new cell — the
    # probe is still a two-thin-column scan, never a row-payload read)
    probe_files = keyed_bucket_files(resolved, updates)
    tbl_schema = StructType.fromJson(json.loads(resolved["schema"]))
    # SCHEMA EVOLUTION on merge: same column-union contract
    # as append — update columns the table lacks are appended to the
    # committed schema (old files read as NULL through it; untouched
    # buckets never rewrite), a retype raises.  The delete flag is
    # transport, never schema.
    upd_fields = [
        f for f in updates.schema.fields
        if f.name != delete_col and f.name != "_bucket"
    ]
    by_name = {f.name: f for f in upd_fields}
    for f in tbl_schema.fields:
        nf = by_name.pop(f.name, None)
        if nf is None:
            # evolution widens, never narrows: an upsert row is a FULL
            # row — silently nulling a column the batch forgot would
            # corrupt every matched key
            raise ValueError(
                f"snapshot_merge: updates are missing table column "
                f"{f.name!r} — upserts carry full rows (evolution only "
                "ADDS columns)"
            )
        if nf.dataType.simpleString() != f.dataType.simpleString():
            # simpleString comparison: nullability/containsNull vary by
            # how a batch was built (e.g. F.array().cast(...)) and are
            # not a retype — unionByName reconciles them
            raise ValueError(
                f"snapshot_merge: column {f.name!r} changes type "
                f"{f.dataType.simpleString()} -> "
                f"{nf.dataType.simpleString()} — evolution adds columns, "
                "never retypes them"
            )
    if by_name:
        tbl_schema = StructType(list(tbl_schema.fields) + list(by_name.values()))
    keys = upd.select(F.col(key_col))
    survivors = upd.drop("_bucket")
    if delete_col is not None:
        survivors = survivors.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    # INSERT-AWARE COW: only buckets holding MATCHED keys
    # are rewritten — a pure-insert batch (the dominant CDC shape)
    # APPENDS new files to its buckets and removes nothing, so commit
    # write cost is O(batch), not O(touched buckets' bytes).  Match
    # detection is a KEY-COLUMN-ONLY scan of the touched buckets
    # (columnar projection — no row payload read); the full-row read
    # then touches ONLY the matched buckets' files, so a pure-insert
    # merge never reads a row payload at all.  Matched buckets rewrite
    # as before: their untouched rows re-written minus the batch's
    # keys, plus the batch's survivors.  Repeated insert commits
    # accumulate files per bucket; compact_files restores one file set
    # per bucket (the Iceberg minor-compaction lifecycle).
    probe_cols = [key_col] + ([bucket_col] if bucket_col else [])
    # DV-aware probe: a key whose every stored row is
    # position-deleted is NOT a match — it re-inserts.  Tables without
    # DVs read exactly as before inside snapshot_read_files.
    existing_probe = snapshot_read_files(
        spark, resolved, probe_files, tbl_schema
    ).select(*probe_cols)
    # per-STORED-bucket (live rows, matched rows) in ONE thin-column
    # aggregation — match detection for every mode, plus the exact
    # numbers mode="auto" decides with (bounded by n_buckets)
    probe_rows = (
        existing_probe.withColumn("_pb", bucket_expr)
        .join(
            updates.select(F.col(key_col), F.lit(1).alias("_mk")).distinct(),
            key_col,
            "left_outer",
        )
        .groupBy("_pb")
        .agg(
            F.count(F.lit(1)).alias("_rows"),
            F.sum(F.coalesce(F.col("_mk"), F.lit(0))).alias("_matched"),
        )
        .collect()
    )
    matched = sorted(r["_pb"] for r in probe_rows if r["_matched"] > 0)
    mset = set(matched)
    rewrite_files = [f for f in probe_files if buckets.get(f) in mset]
    if mode == "auto":
        m_rows = sum(r["_matched"] for r in probe_rows if r["_pb"] in mset)
        b_rows = sum(r["_rows"] for r in probe_rows if r["_pb"] in mset)
        use_mor = bool(b_rows) and m_rows < _DV_AUTO_MAX_FRACTION * b_rows
    else:
        use_mor = mode == "mor"
    # matched-bucket rows are ALSO the only possible `_old` rows for
    # the change log: a key that exists anywhere lives in a matched
    # bucket by definition, so keys outside read as inserts correctly.
    # Read LIVE rows (prior deletion vectors applied), with positions
    # retained when this merge will record new ones.
    existing_pos = snapshot_read_files(
        spark, resolved, rewrite_files, tbl_schema, with_positions=True
    )
    existing = existing_pos.drop("_dv_file", "_dv_pos")
    new_version = cur + 1
    data_dir = f"{base}/data/v{new_version}-{uuid.uuid4().hex[:8]}"
    if use_mor:
        # MERGE-ON-READ: record matched keys' old positions as delete
        # sidecars; append ONLY the batch's rows — no bucket rewrite
        dv_dir = f"{base}/dv/v{new_version}-{uuid.uuid4().hex[:8]}"
        pos = existing_pos.join(keys, key_col, "semi").select(
            F.col("_dv_file").alias("_file"), F.col("_dv_pos").alias("_pos")
        )
        pos.coalesce(1).write.parquet(dv_dir)
        dv_files = _part_files(jvm, fs, dv_dir)
        # per-data-file position counts: bounded by touched buckets'
        # file count, and the broadcast-gate metadata readers need
        pos_counts = (
            {
                r["_file"]: r["_n"]
                for r in spark.read.parquet(*dv_files)
                .groupBy("_file")
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect()
            }
            if dv_files
            else {}
        )
        merged = survivors.withColumn("_bucket", bucket_expr)
    else:
        # COPY-ON-WRITE: matched buckets rewrite from their LIVE rows
        # (prior deletion vectors materialize away — replay drops a
        # removed file's DV entries with the file)
        merged = existing.join(keys, key_col, "left_anti").unionByName(
            survivors
        )
        merged = merged.withColumn("_bucket", bucket_expr)
    _write_buckets(merged, data_dir, keyed.get("sort_within"))
    new_files, new_buckets = _list_bucket_files(jvm, fs, data_dir)
    seg: dict = {
        "add": new_files,
        "buckets": new_buckets,
        "remove_buckets": [] if use_mor else matched,
    }
    if use_mor and pos_counts:
        seg["dv"] = {f: dv_files for f in sorted(pos_counts)}
        seg["dv_rows"] = {f: int(n) for f, n in pos_counts.items()}
    if resolved["stats_types"]:
        # the table records file-skipping stats — keep them alive on
        # every rewritten bucket (untouched files' stats carry by
        # segment replay); dropping them here would silently turn
        # future scans unpruned
        stats_cols2 = sorted(resolved["stats_types"])
        seg["stats"] = _file_stats(spark, new_files, stats_cols2, tbl_schema)
        seg["stats_types"] = resolved["stats_types"]
    if resolved["bloom_meta"]:
        # same contract for bloom sidecars: every file this merge adds
        # gets its bitmaps, untouched files' bitmaps carry by replay
        seg["bloom"] = _file_blooms(
            spark, new_files, resolved["bloom_meta"], tbl_schema
        )
        seg["bloom_meta"] = resolved["bloom_meta"]
    if change_log:
        value_cols = _change_struct_cols(tbl_schema.names, key_col)
        del_flag = (
            F.coalesce(F.col(delete_col), F.lit(False))
            if delete_col is not None
            else F.lit(False)
        )
        n = upd.select(
            F.col(key_col),
            F.struct(*[F.col(c) for c in value_cols]).alias("_new"),
            del_flag.alias("_del"),
        )
        o = existing.select(
            F.col(key_col), F.struct(*[F.col(c) for c in value_cols]).alias("_old")
        )
        tagged = (
            n.join(o, key_col, "left_outer")
            .select(
                key_col,
                F.when(F.col("_del") & F.col("_old").isNotNull(), F.lit("delete"))
                .when(F.col("_del"), F.lit(None).cast("string"))
                .when(F.col("_old").isNull(), F.lit("insert"))
                .otherwise(F.lit("update"))
                .alias("_change"),
                "_new",
                "_old",
            )
            .filter(F.col("_change").isNotNull())
            # the EXACT no-op-update filter snapshot_changes applies to
            # its full diff — same expression, so log ≡ diff by
            # construction (pytest-pinned)
            .filter(
                F.col("_change").isin("insert", "delete")
                | (F.col("_new") != F.col("_old"))
            )
        )
        # UPDATE PRE-IMAGES (the Delta CDF update_preimage analog):
        # each real update ALSO records its old row under
        # _change='update_pre', in the SAME changelog write — emitted
        # by EXPLODING one-or-two rows per change in a single pass
        # over the join (a unionByName of two selects would execute
        # the join twice; the quiet-box bench measured that as +50%
        # on merge-heavy paths).  Default feed reads filter them out
        # (snapshot_changes_feed); snapshot_update_preimages serves them
        # — the piece that makes downstream aggregates INCREMENTALLY
        # maintainable (an update is -old +new, not a group recompute).
        post = F.struct(
            F.col("_change").alias("_change"),
            F.when(F.col("_change") == "delete", F.col("_old"))
            .otherwise(F.col("_new"))
            .alias("_row"),
        )
        pre = F.struct(
            F.lit("update_pre").alias("_change"), F.col("_old").alias("_row")
        )
        changes = (
            tagged.select(
                key_col,
                F.explode(
                    F.when(
                        F.col("_change") == "update", F.array(post, pre)
                    ).otherwise(F.array(post))
                ).alias("_e"),
            )
            .select(key_col, F.col("_e._change").alias("_change"), "_e._row.*")
        )
        changes_dir = f"{base}/changes/v{new_version}-{uuid.uuid4().hex[:8]}"
        changes.write.parquet(changes_dir)
        seg["changelog"] = _part_files(jvm, fs, changes_dir)
        seg["change_mode"] = "log"
    # the (possibly evolved) column-union schema — old files read as
    # NULL through it, time travel shows the pre-evolution shape
    return _commit_version(
        spark, base, new_version, seg, "merge", tbl_schema.json(),
        segments=resolved["segments"], keyed=keyed, txn=txn,
    )


def _coerce_stat_bound(dtype: str | None, v):
    """Coerce a manifest-serialized stats bound (or a caller's query
    bound) back to a comparable value for ``dtype``.  Decimal columns
    serialize as strings whose LEXICOGRAPHIC order is wrong ('9.5' >
    '10.2') — compare as Decimal; temporal
    strings parse to datetime/date only when needed (ISO text already
    orders chronologically, so string-vs-string stays as-is)."""
    if v is None or dtype is None:
        return v
    if dtype.startswith("decimal"):
        from decimal import Decimal

        return Decimal(str(v))
    if dtype in ("timestamp", "timestamp_ntz", "date") and not isinstance(v, str):
        return v  # datetime/date objects compare natively among themselves
    return v


def snapshot_scan(
    spark,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
):
    """Stats-pruned range scan of a snapshot table on ONE column —
    sugar for ``snapshot_scan_multi(spark, path, {col: (lo, hi)})``;
    see that function for semantics."""
    return snapshot_scan_multi(spark, path, {col: (lo, hi)}, version)


def snapshot_scan_multi(
    spark,
    path: str,
    preds: dict,
    version: int | None = None,
):
    """Stats-pruned BOX scan of a snapshot table: ``preds`` maps column
    name -> (lo, hi); keep only files whose manifest [min, max] for
    EVERY predicate column OVERLAPS its range (a file disjoint on ANY
    dimension cannot contain a matching row — per-column skipping
    decisions AND together, which is what makes multi-column pruning
    sound regardless of layout).  Files without recorded stats for a
    column are conservatively kept for that column.  Read just the
    surviving files and apply the exact conjunctive predicate on top —
    output identical to filtering a full ``snapshot_read``, but
    unselective files are never opened (manifest-level data skipping,
    the metadata twin of parquet row-group pruning).  After a
    ``compact_files(zorder_by=[...])`` rewrite the per-file boxes are
    Z-curve segments, so a box predicate on ANY subset of the
    z-ordered dimensions prunes — a linear sort prunes only its
    leading column.  Bounds are compared under each column's RECORDED
    TYPE (decimal strings as Decimal, not lexicographically); any
    incomparable pair keeps the file
    conservatively rather than mis-pruning.  Returns ``(df,
    n_files_read, n_files_total)`` so callers — and the regression
    tests — can SEE the pruning."""
    if not preds:
        raise ValueError("snapshot_scan_multi: preds must be non-empty")
    base = path.rstrip("/")
    manifest = snapshot_manifest(spark, base, version)

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    stats = manifest["stats"]
    bounds = {}
    for col, (lo, hi) in preds.items():
        dtype = manifest["stats_types"].get(col)
        bounds[col] = (
            dtype,
            _coerce_stat_bound(dtype, lo),
            _coerce_stat_bound(dtype, hi),
        )
    keep = []
    for f in manifest["files"]:
        fstats = stats.get(f, {})
        disjoint = False
        for col, (dtype, qlo, qhi) in bounds.items():
            st = fstats.get(col)
            if st is None or st[0] is None:
                continue  # no stats for this column → cannot prune on it
            try:
                if (
                    _coerce_stat_bound(dtype, st[1]) < qlo
                    or _coerce_stat_bound(dtype, st[0]) > qhi
                ):
                    disjoint = True
                    break
            except TypeError:
                continue  # incomparable bounds → keep conservatively
        if not disjoint:
            keep.append(f)
    pred = None
    for col, (lo, hi) in preds.items():
        p = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        pred = p if pred is None else (pred & p)
    if not keep:
        return (
            spark.createDataFrame([], schema).filter(pred),
            0,
            len(manifest["files"]),
        )
    # bind the MANIFEST schema, exactly as snapshot_read does: after
    # schema evolution a kept pre-evolution file may sort first, and
    # footer inference off it would drop the evolved column the
    # predicate names; deletion vectors of
    # the KEPT files (only) anti-join inside snapshot_read_files
    return (
        snapshot_read_files(spark, manifest, keep, schema).filter(pred),
        len(keep),
        len(manifest["files"]),
    )


def snapshot_point_lookup(
    spark,
    path: str,
    col: str,
    value,
    version: int | None = None,
):
    """BLOOM + min/max pruned EQUALITY lookup on a snapshot table: keep
    only files whose bitmap (declared via ``bloom_cols`` on
    ``snapshot_commit`` / ``compact_files`` and auto-maintained by
    appends, merges, and compactions) says the value MIGHT be present
    — a bloom "definitely not" skips the file outright, which is what
    range stats cannot do for a needle inside a wide [min, max] (a
    point probe on an unclustered column overlaps almost every file's
    range but almost no file's bitmap).  Range stats, when recorded,
    prune first (both checks AND).  Files without a bitmap are
    conservatively kept; false positives cost an extra file read,
    never a wrong row — the exact equality predicate applies on top.
    The probe's bit positions come from the SAME Spark expression the
    write side used (one 1-row job), so engine hashing can never
    disagree with itself.  ``value`` must be non-NULL (equality never
    matches NULL) and in the column's native type.  Returns ``(df,
    n_files_read, n_files_total)``."""
    if value is None:
        raise ValueError("snapshot_point_lookup: value must be non-NULL")
    base = path.rstrip("/")
    manifest = snapshot_manifest(spark, base, version)

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    keep = _files_for_values(spark, manifest, schema, col, [value])
    pred = F.col(col) == F.lit(value)
    if not keep:
        return (
            spark.createDataFrame([], schema).filter(pred),
            0,
            len(manifest["files"]),
        )
    return (
        snapshot_read_files(spark, manifest, keep, schema).filter(pred),
        len(keep),
        len(manifest["files"]),
    )


def _files_for_values(spark, manifest, schema, col: str, values: list) -> list:
    """The manifest files that MIGHT contain ANY of ``values`` in
    ``col``, decided per file from recorded min/max stats (range test)
    AND bloom sidecars (membership test) — a file is kept unless every
    value is excluded; files without stats or bitmaps are
    conservatively kept.  Bit positions for ALL values come from one
    N-row Spark job using the SAME expression the write side used.
    False positives cost an extra file read, never a wrong row."""
    import base64
    import bisect

    positions_by_value: dict = {}
    meta = manifest["bloom_meta"].get(col)
    if meta is not None and values:
        bits, hashes = int(meta["bits"]), int(meta["hashes"])
        # cast to the COLUMN's type first: the write side hashed the
        # column's own string rendering (decimal "10.20", not "10.2")
        probe = spark.createDataFrame(
            [(v,) for v in values], StructType([schema[col]])
        )
        exprs = _bloom_position_exprs(
            F.col(col).cast(schema[col].dataType), bits, hashes
        )
        rows = probe.select(
            F.col(col).alias("_v"),
            *[e.alias(f"_p{i}") for i, e in enumerate(exprs)],
        ).collect()
        positions_by_value = {
            r["_v"]: [r[f"_p{i}"] for i in range(hashes)] for r in rows
        }
    dtype = manifest["stats_types"].get(col)
    try:
        qvs = sorted(_coerce_stat_bound(dtype, v) for v in values)
    except TypeError:
        qvs = None  # mixed/incomparable probe values → stats can't prune
    keep = []
    for f in manifest["files"]:
        st = manifest["stats"].get(f, {}).get(col)
        if st is not None and st[0] is not None and qvs is not None:
            try:
                lo = _coerce_stat_bound(dtype, st[0])
                hi = _coerce_stat_bound(dtype, st[1])
                i = bisect.bisect_left(qvs, lo)
                if i >= len(qvs) or qvs[i] > hi:
                    continue  # every value outside this file's range
            except TypeError:
                pass  # incomparable bounds → fall through to the bloom
        if positions_by_value:
            b64 = manifest["bloom"].get(f, {}).get(col)
            if b64 is not None:
                bm = base64.b64decode(b64)
                if not any(
                    all(bm[p >> 3] & (1 << (p & 7)) for p in ps)
                    for ps in positions_by_value.values()
                ):
                    continue  # definitely contains NONE of the values
        keep.append(f)
    return keep


def snapshot_prune_files_for_values(
    spark, path: str, col: str, values: list, version: int | None = None
) -> tuple[list, int]:
    """File-level SEMI-JOIN pruning: the subset of a
    snapshot version's files that might contain ANY of the (bounded,
    non-NULL) probe ``values`` in ``col``, decided from the manifest's
    min/max stats and bloom sidecars without opening a single data
    file.  This is the pruning tier for a join side NOT hash-keyed by
    the join column — a fact table keyed by its own PK can still skip
    most files for a dimension-delta's keys when it declares
    ``stats_cols``/``bloom_cols`` on the FK (``operators/ivm.py``'s
    ``_pruned_join_side`` uses exactly this).  Returns
    ``(files_kept, n_files_total)``; read the kept list with
    ``spark.read.schema(...).parquet(*files)`` and apply the exact
    join/filter on top (pruning is conservative, never wrong)."""
    base = path.rstrip("/")
    manifest = snapshot_manifest(spark, base, version)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    vals = [v for v in values if v is not None]
    if not vals:
        return [], len(manifest["files"])
    return (
        _files_for_values(spark, manifest, schema, col, vals),
        len(manifest["files"]),
    )


def snapshot_append_stream(
    path: str,
    txn_app_id: str,
    stats_cols: list[str] | None = None,
):
    """EXACTLY-ONCE streaming append sink on the snapshot commit log —
    the Delta transactional-sink pattern on plain parquet, keyed by
    ``txn_app_id`` exactly as Delta keys by ``txnAppId``: the manifest
    carries a ``txn`` map {app_id: last_batch_id}, each micro-batch
    becomes one atomic append commit advancing ITS OWN app's
    watermark, and a RETRIED batch (failure after commit but before
    the checkpoint advanced) sees batch_id ≤ its watermark and skips.
    Keying per app is what makes this safe in the real world: a
    SECOND stream with its own checkpoint (fresh batch ids from 0)
    gets its own watermark instead of being silently discarded, and
    plain batch appends AND overwrites carry every app's watermark
    forward.  The watermark overlay
    happens INSIDE ``snapshot_commit`` against the manifest the commit
    provably supersedes, and an optimistic-concurrency loss re-reads
    and retries — two racing apps can interleave commits without one
    regressing the other's watermark.
    Structured Streaming delivers batch_ids in increasing order per
    query, which is exactly what a per-app watermark needs.  Returns
    the function for ``foreachBatch``."""
    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        base = path.rstrip("/")

        def attempt() -> None:
            if _txn_applied(spark, base, txn_app_id, batch_id):
                return  # retry replay of an already-committed batch
            snapshot_commit(
                spark,
                batch,
                base,
                mode="append",
                stats_cols=stats_cols,
                _txn_update={txn_app_id: batch_id},
            )

        optimistic_commit(f"snapshot_append_stream batch {batch_id}", attempt)

    return commit_batch


def snapshot_merge_stream(
    path: str,
    key_col: str,
    txn_app_id: str,
    delete_col: str | None = None,
    change_log: bool = True,
):
    """EXACTLY-ONCE streaming UPSERT sink — ``snapshot_merge`` composed
    with the per-app transaction watermark of ``snapshot_append_stream``
    (the Delta streaming-MERGE shape): each micro-batch becomes one
    atomic bucket-pruned MERGE commit, a replayed batch_id (crash
    between sink success and the checkpoint commit) sees batch_id ≤
    its watermark and skips, and an optimistic-concurrency loss
    re-reads and retries without regressing any other app's watermark.
    The batch must be key-unique (aggregate to last-per-key upstream —
    ``snapshot_merge`` rejects duplicates loudly rather than picking a
    nondeterministic winner).  Returns the function for
    ``foreachBatch``."""
    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        base = path.rstrip("/")

        def attempt() -> None:
            if _txn_applied(spark, base, txn_app_id, batch_id):
                return  # retry replay of an already-committed batch
            snapshot_merge(
                spark,
                base,
                batch,
                key_col,
                delete_col=delete_col,
                change_log=change_log,
                _txn_update={txn_app_id: batch_id},
            )

        optimistic_commit(f"snapshot_merge_stream batch {batch_id}", attempt)

    return merge_batch


def snapshot_changes(
    spark,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """NET CHANGE between two versions of a keyed snapshot table: one
    row per changed key with ``_change ∈ {insert, update, delete}``
    plus the row's new values (old values for deletes) — the Delta CDF
    shape, collapsed over the span.  Reads both versions' files and
    diffs them by key: the honest cost of a log-free diff, proportional
    to the table, not to history — and the reference the per-commit
    logs are checked against.  It serves any span, truncates included.
    For the per-commit rows of a span, each under its version, read
    ``snapshot_changes_feed`` (O(changed rows))."""
    base = path.rstrip("/")
    if to_version is None:
        to_version = snapshot_latest_version(spark, base)
    if key_col is None:
        keyed = snapshot_manifest(spark, base, to_version)["keyed"]
        if not keyed:
            raise ValueError("snapshot_changes: pass key_col for non-keyed tables")
        key_col = keyed["key_col"]
    old = snapshot_read(spark, base, from_version)
    new = snapshot_read(spark, base, to_version)
    value_cols = [c for c in new.columns if c != key_col]
    new_types = {f.name: f.dataType for f in new.schema.fields}
    # schema evolution: a column added between the versions is absent
    # from the OLD frame — pad it with typed NULLs so the structs line
    # up
    old_vals = [
        F.col(c) if c in old.columns else F.lit(None).cast(new_types[c]).alias(c)
        for c in value_cols
    ]
    o = old.select(
        F.col(key_col),
        F.struct(*old_vals).alias("_old"),
    )
    n = new.select(
        F.col(key_col),
        F.struct(*[F.col(c) for c in value_cols]).alias("_new"),
    )
    joined = o.join(n, key_col, "full_outer")
    return (
        joined.select(
            key_col,
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .when(F.col("_new").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("_change"),
            F.coalesce(F.col("_new"), F.col("_old")).alias("_row"),
        )
        .filter(
            F.col("_change").isin("insert", "delete")
            | (F.col("_new") != F.col("_old"))
        )
        .select(key_col, "_change", "_row.*")
    )


def snapshot_update_preimages(
    spark, path: str, version: int, key_col: str | None = None
) -> DataFrame:
    """The OLD rows of the keys a commit UPDATED — the Delta CDF
    ``update_preimage`` twin of ``snapshot_changes_feed``'s post-image
    rows, read in O(changed rows) from the same per-commit changelog
    the merge wrote (pre-images rode the write; this costs no extra
    commit work).  Empty for commits that recorded no log or updated
    nothing.  With post-images (+new) and pre-images (-old), a
    downstream aggregate becomes INCREMENTALLY maintainable: an update
    applies as subtract-old-add-new instead of a group recompute —
    see ``operators/ivm.py``."""
    from pyspark.sql.types import StructField, StringType

    base = path.rstrip("/")
    resolved = snapshot_manifest(spark, base, version)
    if key_col is None:
        if not resolved["keyed"]:
            raise ValueError(
                "snapshot_update_preimages: pass key_col for non-keyed tables"
            )
        key_col = resolved["keyed"]["key_col"]
    schema = StructType.fromJson(json.loads(resolved["schema"]))
    value_fields = [f for f in schema.fields if f.name != key_col]
    feed_schema = StructType(
        [schema[key_col], StructField("_change", StringType(), True)]
        + value_fields
    )
    files = resolved["changelog"] or []
    if resolved["change_mode"] != "log" or not files:
        return spark.createDataFrame([], feed_schema).drop("_change")
    return (
        spark.read.schema(feed_schema)
        .parquet(*files)
        .filter(F.col("_change") == "update_pre")
        .drop("_change")
    )


def snapshot_span_delta_files(
    spark, path: str, from_version: int, to_version: int | None = None
) -> dict:
    """Per-commit delta FILE LISTS over versions (from_version,
    to_version] resolved in O(span) metadata reads — exactly TWO small
    JSON reads per version (the manifest doc + the version's OWN
    segment, never a full segment-chain replay, classified by
    ``commit_delta``) and ZERO per-version DataFrames.  This is what
    lets a long-span consumer (the change feed, ``operators/ivm.py``'s
    sync) read the whole span's rows in ONE parquet scan instead of
    O(span) plan-node unions (a thousand-commit backlog would
    otherwise blow up driver-side plan analysis long before data cost
    mattered).

    Returns ``{"to_version", "schema" (to_version's schema JSON),
    "keyed" (to_version's keyed contract or None),
    "log_files": {version: [changelog parquet files]},
    "insert_files": {version: [appended data files]}}`` — log files
    carry ``_change`` rows (incl. ``update_pre``); insert files are
    the appends' raw data (pure inserts, the free CDF).  Raises
    ``SnapshotTruncateInFeed`` when the span crosses a truncate/
    overwrite and ``ValueError`` when a version kept no delta;
    metadata/file compactions contribute nothing."""
    base = path.rstrip("/")
    if to_version is None:
        to_version = snapshot_latest_version(spark, base)
    if to_version <= from_version:
        raise ValueError("snapshot_span_delta_files: empty version span")
    files: dict = {"log": {}, "insert": {}}
    for v in range(from_version + 1, to_version + 1):
        try:
            doc = _load_manifest_doc(spark, base, v)
        except Exception as e:
            if not _is_not_found(e):
                raise
            raise FileNotFoundError(
                f"snapshot_span_delta_files: version {v} of {base} is missing — "
                f"expired by vacuum_snapshots (latest is "
                f"{snapshot_latest_version(spark, base)}); re-bootstrap the "
                f"consumer from a retained snapshot_read version"
            ) from None
        seg = json.loads(_read_small(spark, f"{base}/{commit_segment(base, v, doc)}"))
        kind, delta = commit_delta(base, v, seg)
        if delta:
            files[kind][v] = delta
    return {
        "to_version": to_version,
        "schema": doc["schema"],
        "keyed": doc.get("keyed"),
        "log_files": files["log"],
        "insert_files": files["insert"],
    }


_FILE_VERSION_MAP_CHUNK = 1000


def _file_version_expr(files_by_version: dict[int, list[str]]):
    """``_version`` column for a multi-commit bulk scan: map each
    input file (``input_file_name()``, normalized the same way
    ``_normalize_file_uri`` normalizes — prefix + percent-decoding)
    back to the commit that wrote it.  Literal maps, so the whole span
    stays a single scan node.

    '+' is percent-escaped BEFORE ``url_decode``: SQL url_decode is
    form decoding ('+' → space), but ``_normalize_file_uri``'s
    ``unquote`` leaves '+' alone — without the escape, any table path
    containing '+' missed the map and every row came back
    ``_version=NULL``.  ``input_file_name()``
    percent-encodes raw '+' as '%2B' itself, so every literal '+' seen
    here is a real one.

    The map is CHUNKED into ≤1000-entry pieces combined with
    ``coalesce`` (element_at on a map is NULL on a miss): a span of
    ~10k delta files would otherwise put ~20k literals into ONE
    ``create_map`` call — per-expression pressure in analysis and
    codegen.  Spans of ≤1000 files (every normal
    cadence) build exactly the single-map expression they always did.
    """
    pairs = []
    for v, files in files_by_version.items():
        for f in files:
            pairs += [F.lit(f), F.lit(int(v))]
    norm = F.url_decode(
        F.regexp_replace(
            F.regexp_replace(F.input_file_name(), "^file:///", "file:/"),
            r"\+",
            "%2B",
        )
    )
    step = 2 * _FILE_VERSION_MAP_CHUNK
    lookups = [
        F.element_at(F.create_map(*pairs[i : i + step]), norm)
        for i in range(0, len(pairs), step)
    ]
    return lookups[0] if len(lookups) == 1 else F.coalesce(*lookups)


def snapshot_changes_feed(
    spark,
    path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    key_col: str | None = None,
    from_timestamp=None,
    to_timestamp=None,
) -> DataFrame:
    """INCREMENTAL change feed — the per-commit CDC stream a real
    consumer tails (Delta CDF's ``_commit_version`` shape): one row
    per change PER COMMIT over versions (from_version, to_version],
    with a ``_version`` column, read entirely from the commits'
    recorded deltas in O(changed rows) — never a table diff.  Raises
    if any version in the span kept no delta (an overwrite, a
    restore, or a keyed table's creation); compaction commits
    contribute nothing.  Unlike ``snapshot_changes`` (which collapses the span
    into one net diff), consecutive changes to the same key all
    appear, each under its version.

    The span is served as AT MOST TWO parquet scans (one
    over every log-mode changelog file, one over every append's data
    files, ``_version`` derived from an input-file → commit map) —
    plan size is O(1) in span length, so tailing a thousand-commit
    backlog builds the same plan as tailing one commit.  Schema
    evolution across the span reads through the LATEST schema; columns
    a commit predates are NULL, exactly as a per-version
    ``unionByName(allowMissingColumns=True)`` would produce.

    ``from_timestamp`` / ``to_timestamp`` (each exclusive
    with its version twin) bound the span by COMMIT TIME instead —
    'every change since 02:00' resolves through
    ``snapshot_version_at`` (from = the version live AT the
    timestamp, i.e. changes strictly after it; to = the version live
    at the end time)."""
    from pyspark.sql.types import StringType, StructField, StructType

    base = path.rstrip("/")
    if from_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "snapshot_changes_feed: from_version and from_timestamp "
                "are exclusive"
            )
        # a timestamp predating retained history raises (same as
        # version-based travel): bootstrap via snapshot_read, then tail
        from_version = snapshot_version_at(spark, base, from_timestamp)
    if from_version is None:
        raise ValueError(
            "snapshot_changes_feed: from_version or from_timestamp required"
        )
    if to_timestamp is not None:
        if to_version is not None:
            raise ValueError(
                "snapshot_changes_feed: to_version and to_timestamp "
                "are exclusive"
            )
        to_version = snapshot_version_at(spark, base, to_timestamp)
    span = snapshot_span_delta_files(spark, base, from_version, to_version)
    keyed = span["keyed"]
    if key_col is None:
        if not keyed:
            raise ValueError(
                "snapshot_changes_feed: pass key_col for non-keyed tables"
            )
        key_col = keyed["key_col"]
    schema = StructType.fromJson(json.loads(span["schema"]))
    value_fields = [f for f in schema.fields if f.name != key_col]
    feed_schema = StructType(
        [schema[key_col], StructField("_change", StringType(), True)]
        + value_fields
    )
    parts = []
    if span["log_files"]:
        all_logs = [f for fl in span["log_files"].values() for f in fl]
        parts.append(
            spark.read.schema(feed_schema)
            .parquet(*all_logs)
            # pre-images ride the same files; the feed is the Delta CDF
            # post-image shape — serve them via snapshot_update_preimages
            .filter(F.col("_change") != "update_pre")
            .select(
                _file_version_expr(span["log_files"]).alias("_version"), "*"
            )
        )
    if span["insert_files"]:
        all_adds = [f for fl in span["insert_files"].values() for f in fl]
        parts.append(
            spark.read.schema(schema)
            .parquet(*all_adds)
            .select(
                _file_version_expr(span["insert_files"]).alias("_version"),
                F.col(key_col),
                F.lit("insert").alias("_change"),
                *[F.col(f.name) for f in value_fields],
            )
        )
    if not parts:
        from pyspark.sql.types import IntegerType

        return spark.createDataFrame(
            [],
            StructType(
                [StructField("_version", IntegerType(), True)]
                + feed_schema.fields
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # same IntegerType the old per-version F.lit(v) column carried
    return out.withColumn("_version", F.col("_version").cast("int"))


def compact_files(
    spark,
    path: str,
    target_files: int = 8,
    sort_by: str | None = None,
    stats_cols: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
    max_records_per_file: int | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 16384,
    bloom_hashes: int = 5,
    n_buckets: int | None = None,
) -> int:
    """DATA-FILE compaction for a snapshot table — the maintenance pass
    that fixes the streaming small-file problem (every micro-batch
    append is its own file set; a day of 10 s triggers is ~8 640 file
    sets) and, with ``sort_by``, restores file-skipping power:
    ``repartitionByRange(sort_by) + sortWithinPartitions`` clusters
    the rewrite so per-file [min, max] ranges are DISJOINT, which is
    what makes ``snapshot_scan`` pruning sharp again after unordered
    appends blurred it (the Delta OPTIMIZE ZORDER analog, 1-D).

    ``zorder_by=[c1, c2, ...]`` is the full OPTIMIZE ZORDER analog:
    cluster the rewrite along the Morton curve of the named numeric
    columns (``_scaled_zorder_key``) so every file covers one compact
    Z-curve segment — per-file [min, max] boxes are then tight in
    EVERY listed dimension at once, and ``snapshot_scan_multi`` box
    queries prune on any subset of them (a linear ``sort_by`` prunes
    only its leading column).  Mutually exclusive with ``sort_by``.
    Stats for the z-ordered columns are ALWAYS recorded (clustering
    without the stats that exploit it would be a silent no-op — the
    ``compact_files`` lesson applied at design time).  On a
    keyed table the curve clusters WITHIN each bucket (bucket map
    preserved — merges stay bucket-pruned; scans prune files inside
    every bucket).

    ``n_buckets`` RESCALES a hash-keyed table's bucket count (the
    Iceberg bucket-evolution move, done as one atomic rewrite): every
    row re-hashes into the new layout, the committed ``keyed`` contract
    carries the new count, and later merges bucket-prune against it —
    the maintenance answer when a table outgrew its creation-time
    bucket sizing (or was over-bucketed into small files).  Rejected
    on ``bucket_col`` tables (their bucket values are data-defined —
    re-cell via the owning index's rebuild) and on plain tables.
    Time travel to pre-rescale versions serves the OLD layout intact.

    The rewrite commits as one new version whose segment both
    truncates-and-readds (so it is ALSO a metadata compaction — the
    segment list collapses to one) with ``change_mode='none'``: no
    logical data change, the CDC feed skips it, time travel still
    reaches pre-compaction versions until vacuum expires them, and
    transaction watermarks carry forward (a streaming sink keeps its
    exactly-once guarantee across compactions).  Keyed tables rewrite
    per bucket (bucket map preserved — later merges stay
    bucket-pruned); plain tables re-record stats for ``stats_cols``
    (default: every column that already had stats, so compaction
    never silently LOSES pruning metadata).  Returns the new
    version."""
    if sort_by and zorder_by:
        raise ValueError("compact_files: sort_by and zorder_by are exclusive")
    base = path.rstrip("/")
    jvm, fs = _fs(spark, base)
    resolved = snapshot_manifest(spark, base)
    schema = StructType.fromJson(json.loads(resolved["schema"]))
    new_version = resolved["version"] + 1
    data_dir = f"{base}/data/v{new_version}-{uuid.uuid4().hex[:8]}"
    # LIVE rows only: the compaction rewrite MATERIALIZES deletion
    # vectors away (position-deleted rows are dropped here; the
    # truncate-and-readd segment clears every DV entry in replay)
    df = snapshot_read_files(spark, resolved, resolved["files"], schema)
    keyed = resolved["keyed"]
    seg: dict = {"truncate": True, "change_mode": "none"}
    if zorder_by:
        # compute the curve key BEFORE the bucket/range shuffle so the
        # min/max agg reads the pre-shuffle files once
        df = df.withColumn("_z", _scaled_zorder_key(df, zorder_by, zorder_bits))
        # z-ordered columns must carry stats or the clustering is a
        # silent no-op for every reader
        stats_types = dict(resolved["stats_types"])
        for c in zorder_by:
            stats_types.setdefault(c, schema[c].dataType.simpleString())
    else:
        stats_types = resolved["stats_types"]
    if n_buckets is not None and (not keyed or keyed.get("bucket_col")):
        raise ValueError(
            "compact_files: n_buckets rescale applies only to hash-keyed "
            "tables (plain tables have no bucket contract; bucket_col "
            "tables re-cell via their owning index's rebuild)"
        )
    if keyed:
        if n_buckets is not None:
            keyed = {**keyed, "n_buckets": int(n_buckets)}
        out = df.withColumn("_bucket", keyed_bucket(keyed)).repartition(F.col("_bucket"))
        if sort_by or zorder_by:
            # _bucket prefix REQUIRED: FileFormatWriter demands ordering
            # by the partition column and would otherwise insert its own
            # _bucket-only sort, silently discarding the clustering
            out = out.sortWithinPartitions("_bucket", sort_by or "_z")
        if zorder_by:
            out = out.drop("_z")
        writer = out.write
        if max_records_per_file:
            # a keyed table writes ONE file per bucket partition;
            # chunking along the in-partition sort order is what turns
            # within-bucket clustering into multiple prunable files —
            # each file one contiguous sort/Z-curve segment
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy("_bucket").parquet(data_dir)
        files, buckets = _list_bucket_files(jvm, fs, data_dir)
        seg["add"] = files
        seg["buckets"] = buckets
        # a keyed compaction can DECLARE new skipping stats too, e.g. on
        # a join FK it just sort_by-clustered
        if stats_cols:
            stats_types = dict(stats_types)
            for c in stats_cols:
                stats_types.setdefault(c, schema[c].dataType.simpleString())
        if stats_types:
            cols = sorted(stats_types)
            seg["stats"] = _file_stats(spark, files, cols, schema)
            seg["stats_types"] = stats_types
    else:
        if zorder_by:
            out = (
                df.repartitionByRange(max(1, target_files), F.col("_z"))
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        elif sort_by:
            out = df.repartitionByRange(
                max(1, target_files), F.col(sort_by)
            ).sortWithinPartitions(sort_by)
        else:
            out = df.repartition(max(1, target_files))
        writer = out.write
        if max_records_per_file:
            # same chunking contract as the keyed branch — each
            # range/Z partition splits into contiguous prunable files
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(data_dir)
        files = _part_files(jvm, fs, data_dir)
        seg["add"] = files
        if stats_cols is None:
            stats_cols = sorted(stats_types)
        elif zorder_by:
            stats_cols = sorted(set(stats_cols) | set(zorder_by))
        if stats_cols and files:
            seg["stats"] = _file_stats(spark, files, stats_cols, schema)
            seg["stats_types"] = {
                c: schema[c].dataType.simpleString() for c in stats_cols
            }
    # BLOOM sidecars: keep the table's declared bitmap columns alive
    # across the rewrite (same never-silently-lose rule as stats), and
    # let the maintenance pass DECLARE new ones (the Delta "OPTIMIZE
    # with bloom index" shape)
    bmeta = dict(resolved["bloom_meta"])
    for c in bloom_cols or ():
        bmeta[c] = {"bits": int(bloom_bits), "hashes": int(bloom_hashes)}
    if bmeta:
        if files:
            seg["bloom"] = _file_blooms(spark, files, bmeta, schema)
        seg["bloom_meta"] = bmeta  # declaration survives an empty table
    return _commit_version(
        spark, base, new_version, seg, "compact-files", resolved["schema"],
        keyed=keyed, txn=resolved["txn"],
    )


def compact_dv_buckets(spark, path: str) -> int | None:
    """TARGETED deletion-vector materialization: rewrite
    ONLY the buckets whose files carry position-delete sidecars —
    their live rows (DVs applied) re-land as fresh per-bucket files,
    the old files and their sidecar references die in replay
    (``remove_buckets``), every other bucket's files carry forward
    untouched.  Cost is O(DV'd buckets), never O(table): on a 100 TB
    table where scattered GDPR-delete/tombstone traffic has touched
    0.1 % of buckets, this is the maintenance verb — a full
    ``compact_files`` rewrite would cost 1000× more for the same DV
    debt.  The commit is ``change_mode='none'`` (no logical data
    change): the CDC feed and the ``snapshot_cdc`` stream skip it,
    incremental views sync across it, transaction watermarks carry
    forward, and time travel still reaches pre-compaction versions.
    Declared skipping stats and Bloom sidecars are recomputed for the
    rewritten files (never silently lost); within-bucket sort/Z
    clustering of rewritten buckets is NOT preserved (same contract
    as merge rewrites — re-run ``compact_files(sort_by=…)`` when
    clustering matters).  Keyed tables only (DVs arise from keyed
    MOR merges).  Returns the new version, or None when the table
    carries no deletion vectors (nothing to do, no commit)."""
    base = path.rstrip("/")
    jvm, fs = _fs(spark, base)
    resolved = snapshot_manifest(spark, base)
    keyed = resolved["keyed"]
    if not keyed:
        raise ValueError(
            "compact_dv_buckets: keyed snapshot tables only (deletion "
            "vectors arise from keyed merges; plain tables never carry them)"
        )
    if not resolved["dv"]:
        return None
    touched = sorted({resolved["buckets"][f] for f in resolved["dv"]})
    tset = set(touched)
    files = [f for f in resolved["files"] if resolved["buckets"].get(f) in tset]
    schema = StructType.fromJson(json.loads(resolved["schema"]))
    # live rows only — this rewrite IS the materialization
    df = snapshot_read_files(spark, resolved, files, schema)
    new_version = resolved["version"] + 1
    data_dir = f"{base}/data/v{new_version}-{uuid.uuid4().hex[:8]}"
    _write_buckets(
        df.withColumn("_bucket", keyed_bucket(keyed)), data_dir, keyed.get("sort_within")
    )
    new_files, new_buckets = _list_bucket_files(jvm, fs, data_dir)
    seg: dict = {
        "add": new_files,
        "buckets": new_buckets,
        "remove_buckets": touched,
        "change_mode": "none",
    }
    if resolved["stats_types"] and new_files:
        cols = sorted(resolved["stats_types"])
        seg["stats"] = _file_stats(spark, new_files, cols, schema)
        seg["stats_types"] = resolved["stats_types"]
    if resolved["bloom_meta"]:
        if new_files:
            seg["bloom"] = _file_blooms(
                spark, new_files, resolved["bloom_meta"], schema
            )
        seg["bloom_meta"] = resolved["bloom_meta"]
    return _commit_version(
        spark, base, new_version, seg, "compact-dv", resolved["schema"],
        segments=resolved["segments"], keyed=keyed, txn=resolved["txn"],
    )


def snapshot_restore(
    spark, path: str, version: int | None = None, timestamp=None
) -> int:
    """ROLL BACK a snapshot table to an earlier version — as a NEW
    commit that re-pins version ``version``'s resolved file list (the
    Delta RESTORE / Iceberg rollback-to-snapshot verb).
    ``timestamp`` restores to the version live at that time instead
    (``snapshot_version_at`` — 'undo everything since 02:00').  No
    data is copied or rewritten: the new commit's one segment
    truncates-and-readds the target version's files, buckets, stats,
    bloom sidecars, and deletion vectors, so the restore is a
    METADATA-ONLY operation of O(target version's file count) — the
    recovery path after a bad write that previously meant hand-editing
    manifests.

    Contracts, stated:

    - **History is preserved**: the bad version(s) remain reachable by
      time travel until ``vacuum_snapshots`` expires them, and the
      restore itself is just another version (a restore can be
      restored away).
    - **Vacuum-safe**: the target version must still be retained;
      restoring a vacuumed version raises (its files are gone).  After
      the restore, the re-pinned files are referenced by the LATEST
      manifest, so future vacuums keep them regardless of the old
      manifest's fate.
    - **Schema rolls back too**: the committed schema is the target
      version's (a restore across a schema evolution un-evolves —
      same as Delta RESTORE).
    - **CDC raises across it** (documented choice): the restore
      segment carries ``change_mode="truncate"``, so
      ``snapshot_changes_feed`` / the ``snapshot_cdc`` stream raise
      their re-bootstrap signal rather than inventing a row-level diff
      — a consumer that replayed the undone commits must reset, not
      silently double-count.
    - **Transaction watermarks carry FORWARD from the current
      version** (not the target's): a streaming sink's already-applied
      batch ids stay applied, so a crashed sink cannot re-append
      batches the restore deliberately undid.  To re-ingest, rewind
      the app's own cursor (``snapshot_tail_rewind``) explicitly.

    Returns the new version number."""
    base = path.rstrip("/")
    if (version is None) == (timestamp is None):
        raise ValueError(
            "snapshot_restore: exactly one of version/timestamp required"
        )
    if timestamp is not None:
        version = snapshot_version_at(spark, base, timestamp)
    latest = snapshot_latest_version(spark, base)
    if latest <= 0:
        raise ValueError(f"snapshot_restore: no committed table at {path}")
    if not (1 <= version <= latest):
        raise ValueError(
            f"snapshot_restore: version {version} out of range (latest is "
            f"{latest})"
        )
    target = snapshot_manifest(spark, base, version)  # raises if vacuumed
    current = snapshot_manifest(spark, base, latest)
    seg = _readd_segment(target, "truncate")
    seg["restore_of"] = int(version)
    # the TARGET's keyed contract: the re-pinned files are laid out
    # under it (a restore across a bucket rescale un-rescales)
    return _commit_version(
        spark, base, latest + 1, seg, "restore", target["schema"],
        keyed=target["keyed"], txn=current["txn"],
    )


def catalog_version_at(spark, path: str, timestamp) -> int:
    """TIMESTAMP AS OF for catalog and index roots: the largest
    retained root version committed ≤ ``timestamp`` (epoch seconds,
    ``datetime``, or ISO string) — ``snapshot_version_at``'s body one
    level up: resolving a time gives the COHERENT cross-table state the
    pipeline served then."""
    return _version_at(
        spark, path.rstrip("/"), _IDXROOT, timestamp, "catalog_version_at"
    )


def catalog_restore(
    spark, path: str, version: int | None = None, timestamp=None
) -> int:
    """Catalog-level rollback: re-publish catalog root ``version``'s
    member pins as a NEW root version — one atomic rename restores the
    whole pipeline's coherent cross-table state (member tables keep
    their full histories; only the pins move).  ``timestamp`` restores
    to the root live at that time instead (``catalog_version_at``).
    The pinned member versions must still be retained
    (``catalog_vacuum`` protects everything a retained root pins, so
    restore within the retention window always works).  Returns the
    new root version."""
    if (version is None) == (timestamp is None):
        raise ValueError(
            "catalog_restore: exactly one of version/timestamp required"
        )
    if timestamp is not None:
        version = catalog_version_at(spark, path, timestamp)
    cat = catalog_resolve(spark, path, version)
    return catalog_commit(
        spark,
        path,
        {
            name: (t["path"], t["version"], t["kind"])
            for name, t in cat["tables"].items()
        },
    )


def maintenance_report(
    spark,
    path: str,
    max_segments: int = 8,
    max_files_per_bucket: int = 4,
    min_avg_file_bytes: int = 8 << 20,
    max_avg_bucket_bytes: int = 1 << 30,
) -> dict:
    """LAYOUT-HEALTH inspection — the OPTIMIZE advisor: one manifest
    resolve plus one ``getFileStatus`` per live file (O(live files)
    metadata RPCs, never a data read) yields the numbers every
    maintenance decision needs, and turns them into concrete
    recommendations:

      - ``compact_metadata`` when the segment chain exceeds
        ``max_segments`` (resolve cost grows with history);
      - ``compact_files`` when a keyed table averages more than
        ``max_files_per_bucket`` files per bucket, or a plain table's
        mean file size falls under ``min_avg_file_bytes`` (the
        streaming small-file problem);
      - ``compact_files(n_buckets=...)`` rescale when a hash-keyed
        table's mean bucket exceeds ``max_avg_bucket_bytes`` (suggests
        the next power of two that brings it under);
      - ``compact_files(stats/bloom refresh)`` when declared skipping
        metadata covers less than every live file (appends that
        skipped ``stats_cols`` silently blunt pruning — surfaced as a
        report instead of a surprise).

    Pure read-only: returns the report dict, never mutates the table."""
    base = path.rstrip("/")
    jvm, fs = _fs(spark, base)
    resolved = snapshot_manifest(spark, base)
    files = resolved["files"]
    sizes = []
    for f in files:
        try:
            sizes.append(
                fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
            )
        except Exception:
            sizes.append(0)  # racing vacuum/rewrite: report best-effort
    total_bytes = int(sum(sizes))
    n_files = len(files)
    keyed = resolved["keyed"]
    stats_cov = {
        c: (
            sum(
                1
                for f in files
                if resolved["stats"].get(f, {}).get(c) is not None
            )
            / n_files
            if n_files
            else 1.0
        )
        for c in resolved["stats_types"]
    }
    bloom_cov = {
        c: (
            sum(1 for f in files if c in resolved["bloom"].get(f, {})) / n_files
            if n_files
            else 1.0
        )
        for c in resolved["bloom_meta"]
    }
    recs: list[str] = []
    if len(resolved["segments"]) > max_segments:
        recs.append("compact_metadata")
    if keyed:
        nb = int(keyed["n_buckets"])
        if n_files > max_files_per_bucket * nb:
            recs.append("compact_files")
        if not keyed.get("bucket_col") and nb and total_bytes / nb > max_avg_bucket_bytes:
            want = nb
            while total_bytes / want > max_avg_bucket_bytes:
                want *= 2
            recs.append(f"compact_files(n_buckets={want})")
    elif n_files and total_bytes / n_files < min_avg_file_bytes and n_files > 1:
        recs.append("compact_files")
    if any(v < 1.0 for v in stats_cov.values()) or any(
        v < 1.0 for v in bloom_cov.values()
    ):
        recs.append("compact_files(refresh skipping metadata)")
    # deletion-vector health: heavy DV accumulation means
    # every read pays the anti-join — the TARGETED verb rewrites only
    # the DV'd buckets (O(DV'd buckets), never O(table))
    dv_rows_total = int(sum(resolved["dv_rows"].values()))
    n_dv_files = len(resolved["dv"])
    if dv_rows_total and n_files and n_dv_files / n_files > 0.25:
        recs.append("compact_dv_buckets(materialize deletion vectors)")
    # a table whose latest commit is a restore target candidate: the
    # advisor's recovery verb is snapshot_restore(path, version) — a
    # metadata-only rollback (no data copy); surfaced here so operators
    # discover it
    if resolved["mode"] == "restore":
        recs.append("table is a restore — vacuum when history settles")
    return {
        "version": resolved["version"],
        "n_files": n_files,
        "total_bytes": total_bytes,
        "avg_file_bytes": total_bytes // n_files if n_files else 0,
        "n_segments": len(resolved["segments"]),
        "keyed": bool(keyed),
        "n_buckets": int(keyed["n_buckets"]) if keyed else None,
        "files_per_bucket": (
            n_files / int(keyed["n_buckets"]) if keyed else None
        ),
        "stats_coverage": stats_cov,
        "bloom_coverage": bloom_cov,
        "n_dv_files": n_dv_files,
        "dv_rows_total": dv_rows_total,
        "rollback": "snapshot_restore(path, version)",
        "recommendations": recs,
    }


def snapshot_tail(
    spark,
    path: str,
    cursor: int | None = None,
    cursor_path: str | None = None,
):
    """POLL-BASED CDC CONSUMER primitive over the per-commit change
    feed: returns ``(changes_df | None, new_cursor)`` for everything
    committed after ``cursor`` (a version number).  ``None`` means no
    new commits — the caller sleeps and polls again.  Each poll costs
    O(changed rows since cursor), never a table diff, because it reads
    the commits' recorded deltas (``snapshot_changes_feed``).

    ``cursor_path`` makes the cursor DURABLE: it is read when
    ``cursor`` is None and atomically advanced (write-tmp + rename)
    only AFTER the returned frame is materialized by the caller —
    call ``snapshot_tail_commit(spark, cursor_path, new_cursor)``
    once downstream processing succeeds, so a crashed consumer
    re-reads its last window (at-least-once, the Kafka-offset
    discipline; make downstream idempotent or key it by
    (_version, key))."""
    base = path.rstrip("/")
    if cursor is None and cursor_path is not None:
        cursor = _read_tail_cursor(spark, cursor_path)
    if cursor is None:
        cursor = 0
    latest = snapshot_latest_version(spark, base)
    if latest <= cursor:
        return None, cursor
    if cursor == 0:
        # bootstrap: version 1 is the initial load — serve it as
        # inserts via the feed only if it recorded a delta, else the
        # caller should snapshot_read(version=1) and start from 1
        try:
            feed = snapshot_changes_feed(spark, base, 0, latest)
        except ValueError:
            # v1 kept no delta (an initial overwrite/keyed load) — the
            # consumer bootstraps it via snapshot_read(version=1) and
            # the feed starts after it.  latest == 1 must short-circuit
            # BEFORE re-calling the feed: the (1, 1] span is empty and
            # would raise instead of meaning "nothing new yet".
            if latest == 1:
                return None, 1
            feed = snapshot_changes_feed(spark, base, 1, latest)
            cursor = 1
    else:
        feed = snapshot_changes_feed(spark, base, cursor, latest)
    return feed, latest


def _tail_cursor_versions(jvm, fs, cursor_path: str) -> list[int]:
    """Versioned cursor files beside ``cursor_path``: ``<name>.v<N>``
    in the same directory (the manifest discipline — monotonically
    named immutable files, reader takes the max)."""
    p = jvm.org.apache.hadoop.fs.Path(cursor_path)
    parent, name = p.getParent(), p.getName()
    if parent is None or not fs.exists(parent):
        return []
    out = []
    for st in fs.listStatus(parent):
        fname = st.getPath().getName()
        if fname.startswith(name + ".v"):
            try:
                out.append(int(fname[len(name) + 2 :]))
            except ValueError:
                continue
    return out


def _read_tail_cursor(spark, cursor_path: str) -> int | None:
    """Max over the versioned cursor files (None when there is none)."""
    jvm, fs = _fs(spark, cursor_path)
    return max(_tail_cursor_versions(jvm, fs, cursor_path), default=None)


def _write_tail_cursor(spark, jvm, fs, cursor_path: str, cursor: int) -> None:
    """Stage ``cursor`` at ``<cursor_path>.tmp-<N>`` and rename it to
    its versioned name.  A rename that finds the version already
    written (a concurrent or replayed commit) just drops the stage —
    fine under max-wins."""
    tmp = f"{cursor_path}.tmp-{cursor}"
    _write_small(spark, tmp, str(cursor).encode())
    dst = jvm.org.apache.hadoop.fs.Path(f"{cursor_path}.v{cursor:020d}")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), dst):
        if not fs.exists(dst):
            raise IOError(f"snapshot tail cursor: rename to {dst} failed")
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), False)


def snapshot_tail_commit(spark, cursor_path: str, cursor: int) -> None:
    """Durably advance a ``snapshot_tail`` cursor, called by the
    consumer AFTER its downstream effects are committed (crash before
    = re-delivery, never loss).

    The cursor is a VERSIONED file (``<cursor_path>.v<N>``, reader
    takes the max) so there is no instant at which no cursor exists:
    a delete-then-rename scheme would have a crash window between the
    delete and the rename that re-bootstraps the consumer from
    version 0 and re-delivers the entire history — the same
    delete+recreate pointer window the manifest design bans.  Old
    cursor files AND superseded ``.tmp-*`` stages (a crash between
    write and rename orphans one) are pruned only after the new
    cursor is durably in place (best-effort; stale ones are harmless
    under max-wins).  NON-MONOTONIC commits are a documented no-op:
    a cursor lower than an existing versioned file is shadowed by
    max-wins reads — deliberate consumer rewind is a distinct
    operation, ``snapshot_tail_rewind``."""
    cursor = int(cursor)
    jvm, fs = _fs(spark, cursor_path)
    _write_tail_cursor(spark, jvm, fs, cursor_path, cursor)
    # prune superseded cursors (post-commit)
    for v in _tail_cursor_versions(jvm, fs, cursor_path):
        if v < cursor:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{cursor_path}.v{v:020d}"), False
            )
    # orphaned tmp stages from a crash between write and rename: prune
    # only STRICTLY superseded ones (suffix < cursor) — a concurrent
    # consumer mid-commit of a HIGHER cursor keeps its in-flight tmp
    p = jvm.org.apache.hadoop.fs.Path(cursor_path)
    parent, name = p.getParent(), p.getName()
    if parent is not None and fs.exists(parent):
        for st in fs.listStatus(parent):
            fname = st.getPath().getName()
            if fname.startswith(name + ".tmp-"):
                try:
                    stale = int(fname[len(name) + 5 :]) < cursor
                except ValueError:
                    stale = True  # unparseable tmp: ours are always -<int>
                if stale:
                    fs.delete(st.getPath(), False)


def snapshot_tail_rewind(spark, cursor_path: str, cursor: int) -> None:
    """DELIBERATE consumer rewind — re-deliver the feed from ``cursor``
    forward.  ``snapshot_tail_commit`` of a lower cursor is a
    documented no-op (max-wins reads shadow it), so rewind is its own
    operation: write the target cursor first, THEN delete every higher
    versioned file — ordered so a crash mid-rewind leaves the consumer
    at either the old or the new cursor, never cursorless (the
    re-bootstrap-from-zero window the versioned scheme exists to
    close).  Re-delivery downstream is at-least-once by contract."""
    cursor = int(cursor)
    jvm, fs = _fs(spark, cursor_path)
    _write_tail_cursor(spark, jvm, fs, cursor_path, cursor)
    for v in _tail_cursor_versions(jvm, fs, cursor_path):
        if v > cursor:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{cursor_path}.v{v:020d}"), False
            )


# ---------------------------------------------------------------------------
# MULTI-TABLE INDEX ROOT — one atomic commit spanning several snapshot tables
#
# A serving index is rarely ONE table: BM25 needs postings + doclen (+ the
# docterms sidecar), phrase search adds positions.  Committing them
# sequentially leaves a window where a reader scores postings against a
# stale doclen.  The root closes it with the same
# write-once + rename protocol as table manifests, one level up:
#
#   {index}/_idxroot_v<K>.json   →  {"tables": {"postings": 7, "doclen": 5},
#                                    "txn": {...}}
#
# Each named sub-table is an ordinary snapshot table under {index}/{name};
# the root pins ONE version per sub-table.  Writers merge each sub-table
# (each merge individually atomic, the new versions unreferenced until the
# root lands), then publish ONE root — readers resolve the latest root and
# read every sub-table AT ITS PINNED VERSION, so they can never observe
# half an ingest: a crash between sub-table merges leaves dangling
# sub-versions that no root references, and the next ingest of the same
# batch simply merges on top (content-idempotent upserts) and publishes.
# Root-level ``txn`` watermarks give multi-table ingest exactly-once under
# replay (the CDC→index sync keys them by source-table version); root
# ``expected_version`` serializes concurrent maintainers (conflict →
# re-resolve, re-merge, re-commit).  Time travel works at BOTH levels:
# a root version is a consistent cross-table snapshot.


def index_root_latest(spark, path: str) -> int:
    """Current committed index-root version (0 = none): max N with a
    published ``_idxroot_vN.json`` — one directory listing, same
    discipline as ``snapshot_latest_version``."""
    return max(_versions(spark, path.rstrip("/"), _IDXROOT), default=0)


def index_root_resolve(spark, path: str, version: int | None = None) -> dict:
    """Resolve an index root: ``{"version", "tables": {name: pinned
    snapshot version}, "txn": {app: watermark}}``.  Roots are tiny
    (one JSON object, no segment replay) so there is no cache."""
    base = path.rstrip("/")
    if version is None:
        version = index_root_latest(spark, base)
    if version <= 0:
        raise ValueError(f"index_root_resolve: no committed index root at {path}")
    try:
        doc = json.loads(
            _read_small(spark, f"{base}/{_version_name(_IDXROOT, version)}")
        )
    except Exception as e:
        if not _is_not_found(e):
            raise
        raise FileNotFoundError(
            f"index_root_resolve: root version {version} of {base} is "
            f"missing (expired or never committed; latest is "
            f"{index_root_latest(spark, base)})"
        ) from None
    return {
        "version": int(doc["version"]),
        "tables": {k: int(v) for k, v in doc["tables"].items()},
        "txn": dict(doc.get("txn", {})),
        "extra": dict(doc.get("extra", {})),
    }


def index_root_commit(
    spark,
    path: str,
    tables: dict,
    _txn_update: dict | None = None,
    expected_version: int | None = None,
    extra: dict | None = None,
) -> int:
    """Atomically publish a new index root pinning ``tables``
    ({name: snapshot version}).  ``extra`` is an opaque JSON object
    riding the root — index-level metadata whose swap must be ATOMIC
    WITH the table pins (the versioned ANN index stores its trained
    centroids here, so a rebuild flips centroids and inverted lists in
    one rename); omitted ⇒ the superseded root's extra carries
    forward, passed ⇒ replaced.  Semantics mirror the table-level
    commit protocol: the superseded root's ``txn`` map carries
    forward; ``_txn_update`` must ADVANCE its app's watermark or
    ``SnapshotTxnAlreadyApplied`` aborts (zombie-writer guard);
    ``expected_version`` raises ``SnapshotVersionConflict`` when a
    foreign root landed since the caller resolved its base
    (``optimistic_commit`` re-resolves and retries); the rename
    itself refuses to clobber, so two same-version publishers cannot
    both win.  Returns the committed root version."""
    base = path.rstrip("/")
    cur = index_root_latest(spark, base)
    if expected_version is not None and cur != expected_version:
        raise SnapshotVersionConflict(
            f"index_root_commit: expected to supersede root v"
            f"{expected_version} but latest is v{cur} — re-resolve and retry"
        )
    txn: dict = {}
    prev_extra: dict = {}
    if cur > 0:
        prev = index_root_resolve(spark, base, cur)
        txn = prev["txn"]
        prev_extra = prev["extra"]
    txn = _advance_txn(txn, _txn_update)
    new_version = cur + 1
    doc = {
        "format": 1,
        "version": new_version,
        "tables": {k: int(v) for k, v in tables.items()},
    }
    if txn:
        doc["txn"] = txn
    final_extra = prev_extra if extra is None else extra
    if final_extra:
        doc["extra"] = final_extra
    _publish(spark, base, _IDXROOT, new_version, doc)
    return new_version


def _vacuum_roots(spark, base: str, keep_last: int, members) -> dict:
    """Expire root versions older than the last ``keep_last`` AND every
    member version no retained root pins.  ``members(root_version)``
    maps a retained root to ``{out_key: (member path, kind, pinned
    version)}``; each member keeps everything from its OLDEST retained
    pin forward (``vacuum_snapshots`` with keep_last derived from the
    pins; dangling newer-than-latest-pin versions stay too: they may
    belong to an in-flight ingest), so time travel over retained roots
    stays whole.  A ``kind="index_root"`` member vacuums through
    ``index_root_vacuum``, which protects ITS sub-tables' pins."""
    versions = _versions(spark, base, _IDXROOT)
    if not versions:
        return {"deleted_roots": 0, "tables": {}}
    latest = versions[-1]
    keep_from = max(1, latest - keep_last + 1)
    # member pins across retained roots BEFORE deleting old roots
    oldest: dict = {}
    for v in range(keep_from, latest + 1):
        for key, (p, kind, tv) in members(v).items():
            prev = oldest.get(key)
            oldest[key] = (p, kind, tv if prev is None else min(prev[2], tv))
    jvm, fs = _fs(spark, base)
    expired = [v for v in versions if v < keep_from]
    for v in expired:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{base}/{_version_name(_IDXROOT, v)}"),
            False,
        )
    out: dict = {}
    for key, (p, kind, tv) in oldest.items():
        if kind == "index_root":
            cur = index_root_latest(spark, p)
            out[key] = index_root_vacuum(spark, p, keep_last=cur - tv + 1)
        else:
            cur = snapshot_latest_version(spark, p)
            out[key] = vacuum_snapshots(spark, p, keep_last=cur - tv + 1)
    return {"deleted_roots": len(expired), "tables": out}


def index_root_vacuum(spark, path: str, keep_last: int = 2) -> dict:
    """Expire old index roots AND the sub-table versions no retained
    root pins (``_vacuum_roots``: an index root is a catalog whose
    members are its sub-tables ``{path}/{name}``).  Returns
    ``{"deleted_roots": n, "tables": {name: vacuum_snapshots report}}``."""
    base = path.rstrip("/")
    return _vacuum_roots(
        spark,
        base,
        keep_last,
        lambda v: {
            name: (f"{base}/{name}", "snapshot", tv)
            for name, tv in index_root_resolve(spark, base, v)["tables"].items()
        },
    )


# --- CATALOG-LEVEL MULTI-TABLE TRANSACTIONS ----------------------------------
#
# The index-root protocol generalized from "sub-tables of one index"
# to "N ARBITRARY snapshot tables at arbitrary paths": one write-once-
# renamed _catalog_vN.json pins every member table's (path, version),
# so a PIPELINE — source merge + agg-view sync + search-index sync —
# publishes as ONE atomic unit.  Readers that resolve tables through
# the catalog can never observe a partial pipeline: sub-table commits
# that land before the root rename are simply unreferenced until it,
# and a crash between them leaves the previous coherent root serving
# (retry re-runs the sub-steps — each is individually idempotent via
# its own txn watermark — and publishes).  Same txn-watermark /
# expected_version / refuse-to-clobber semantics as index_root_commit,
# because it IS index_root_commit: pins ride "tables", paths ride the
# root's "extra" (swapped atomically with the pins by construction).
# A member may itself be an INDEX ROOT (kind="index_root"), pinning a
# whole multi-table serving index's root version one level down —
# catalog -> index root -> sub-tables, every hop one rename.


def catalog_resolve(spark, path: str, version: int | None = None) -> dict:
    """Resolve a catalog root: ``{"version", "tables": {name: {"path",
    "version", "kind"}}, "txn"}``."""
    root = index_root_resolve(spark, path, version)
    paths = root["extra"].get("paths", {})
    kinds = root["extra"].get("kinds", {})
    return {
        "version": root["version"],
        "txn": root["txn"],
        "tables": {
            name: {
                "path": paths[name],
                "version": v,
                "kind": kinds.get(name, "snapshot"),
            }
            for name, v in root["tables"].items()
        },
    }


def catalog_commit(
    spark,
    path: str,
    tables: dict,
    _txn_update: dict | None = None,
    expected_version: int | None = None,
) -> int:
    """Atomically publish a catalog root pinning ``tables`` ({name:
    (table_path, version)} or {name: (table_path, version, kind)},
    kind ∈ {"snapshot", "index_root"}).  Pass the FULL member set each
    time (the root is the complete coherent state, not a patch);
    ``catalog_resolve`` + carry-forward makes that one dict-merge for
    the caller.  Watermark/conflict semantics are exactly
    ``index_root_commit``'s."""
    pins: dict = {}
    paths: dict = {}
    kinds: dict = {}
    for name, tv in tables.items():
        p, v = tv[0], int(tv[1])
        pins[name] = v
        paths[name] = p.rstrip("/")
        if len(tv) > 2 and tv[2] != "snapshot":
            kinds[name] = tv[2]
    extra = {"paths": paths}
    if kinds:
        extra["kinds"] = kinds
    return index_root_commit(
        spark,
        path,
        pins,
        _txn_update=_txn_update,
        expected_version=expected_version,
        extra=extra,
    )


def catalog_read(
    spark, path: str, name: str, version: int | None = None
) -> DataFrame:
    """A member snapshot table's contents AT ITS PINNED VERSION under
    the given (or latest) catalog root — the coherent cross-table read
    path.  For ``kind="index_root"`` members, use ``catalog_resolve``
    and pass the pinned root version to the index's own reader
    (e.g. ``phrase_count_from_index(root_version=...)``)."""
    cat = catalog_resolve(spark, path, version)
    t = cat["tables"][name]
    if t["kind"] != "snapshot":
        raise ValueError(
            f"catalog_read: member {name!r} is kind={t['kind']!r} — resolve "
            "and serve it through its own reader with the pinned version"
        )
    return snapshot_read(spark, t["path"], t["version"])


def catalog_vacuum(spark, path: str, keep_last: int = 2) -> dict:
    """Expire old catalog roots AND member versions no retained root
    pins — ``_vacuum_roots`` with member paths read from the roots.
    ``kind="index_root"`` members vacuum through ``index_root_vacuum``,
    keeping the whole catalog → index → sub-table pin chain whole.
    Returns ``{"deleted_roots": n, "tables": {member path: report}}``."""
    base = path.rstrip("/")
    return _vacuum_roots(
        spark,
        base,
        keep_last,
        lambda v: {
            t["path"]: (t["path"], t["kind"], t["version"])
            for t in catalog_resolve(spark, base, v)["tables"].values()
        },
    )
