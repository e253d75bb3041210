"""Manifest-committed table format: ACID upsert over plain parquet.

This is the engine's only keyed-table format. Every commit is atomic,
the way Delta/Iceberg make it, reduced to their essential mechanics:

* data files are IMMUTABLE. Each commit writes its output to a private
  segment directory (`data/seg-<nonce>/pk_bucket=N/...`) that no reader
  references yet — a writer that dies mid-write changes NOTHING;
* the table state is a MANIFEST (`_manifests/0000000N.json`): a map
  bucket -> its current segment dir, plus the schema, per-bucket-dir
  column STATS (min/max/null-count — Iceberg's metadata-skipping
  essential, read at commit from the just-written segment's parquet
  footers and consulted by `read_manifest_table(skip=...)` and
  `read_manifest_lookup` so predicate reads never open bucket dirs
  that cannot match), optional PER-FILE stats written by a clustered
  `optimize_table(cluster_by=...)` (Delta's OPTIMIZE ZORDER — the
  layer that makes NON-key predicates prunable, since hash-bucketing
  scatters every non-key value range into every bucket dir), and the
  committing writer's fencing token.
  Publishing the next manifest version is the ONE atomic commit point
  (temp + no-clobber `os.link`; on an object store, a conditional
  PUT — the same seam Delta's commit service and Iceberg's catalog
  swap provide);
* readers resolve the LATEST manifest once and read only the files it
  references: snapshot isolation for free (a concurrent commit cannot
  tear a read — the reader's manifest still references the old
  segments, which are immutable and only removed by an explicit
  `vacuum`). Old versions stay readable => time travel;
* DELETE has a merge-on-read path (`delete_where`): the commit records
  small per-bucket equality-delete key files instead of rewriting any
  segment (Iceberg v2 equality deletes / Delta deletion vectors,
  reduced to their mechanics). Every reader anti-joins the pending
  delete keys out, and the next rewrite of a bucket — upsert, merge,
  or `optimize_table` — materializes them and drops the delete files.

The reference's upsert claim is server-side MERGE semantics
(DESIGN.md:41, fetch-weather/src/weather.py:25-32); this is that claim
made transactional at the storage layer. IO stays proportional to the
touched buckets (copy-on-write per bucket, untouched buckets' segment
dirs carry over into the next manifest by reference, zero bytes moved).

Concurrency: commits run under the lease + fencing protocol of
sinks/lease.py (`acquire_table_lease` / `check_fence` /
`record_commit`), and a fenced abort is total — the stale writer's
segment is orphaned data no manifest references, swept by `vacuum`,
and the table never saw a byte of it.

Full format spec (layout, manifest fields, DML matrix, 100 TB notes
incl. "Bucket sizing at scale" — target bytes/bucket, when
`maintain_table` rescales, the CDC-reader implication):
docs/TABLE_FORMAT.md.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import uuid
from dataclasses import dataclass
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import bloom as _bloom
from .lease import (
    WriterFencedError,
    acquire_table_lease,
    check_fence,
    record_commit,
    release_table_lease,
    retry_with_backoff,
)

DEFAULT_BUCKETS = 64


def _with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(
        "pk_bucket", F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
    )


def _manifest_dir(table_path: str) -> str:
    return os.path.join(table_path, "_manifests")


def _manifest_path(table_path: str, version: int) -> str:
    return os.path.join(_manifest_dir(table_path), f"{version:08d}.json")


# ---------------------------------------------------------------------------
# Sharded metadata (r11, VERDICT r10 directive 2 — the Iceberg
# manifest-list/manifest split reduced to its mechanics): past
# SIDECAR_RANGE buckets, the per-bucket maps (bucket->segment refs,
# stats, file stats, row counts, delete refs, bloom bitmaps) no longer
# inline in the manifest JSON. They shard into immutable bucket-range
# SIDECAR files under `_meta/`, and the manifest itself becomes a slim
# list referencing them by (path, content-hash). Every commit goes
# through `_commit_manifest`, the one place that picks the layout: a
# commit touching one bucket rewrites ONE sidecar (its range) plus the
# slim manifest — metadata IO ∝ change size, independent of n_buckets
# — while every untouched range carries its base snapshot's index
# entry verbatim. At the sizing rule's 800k buckets
# (docs/TABLE_FORMAT.md) that is ~12.5k sidecars of ~64 buckets each;
# the old single-JSON layout rewrote all of it on every commit.
# Readers below the threshold see the inline layout unchanged; sharded
# manifests gate behind the `sharded-metadata` reader feature (an old
# build's `mf["buckets"]` would KeyError loudly, but `mf.get(...)`
# consumers — vacuum's clone-pin check — would silently misread).
# ---------------------------------------------------------------------------

#: bucket-range width of one sidecar file, and the inline/sharded
#: threshold: tables with n_buckets <= SIDECAR_RANGE keep the inline
#: single-JSON layout (one slim file + one sidecar would be strictly
#: more IO there). Tests exercise sharding by patching this down.
SIDECAR_RANGE = 64

#: the per-bucket maps that shard (everything keyed by bucket id)
_SIDECAR_KEYS = (
    "buckets",
    "stats",
    "file_stats",
    "row_counts",
    "deletes",
    "delete_counts",
    "blooms",
)


def _meta_dir(table_path: str) -> str:
    return os.path.join(table_path, "_meta")


def _read_slim(table_path: str, version: int) -> dict | None:
    """The manifest JSON exactly as stored (sidecars unresolved), no
    feature gate — internal: publish-time carry-by-reference diffing
    and vacuum's reference sweep."""
    try:
        with open(_manifest_path(table_path, version)) as f:
            return json.load(f)
    except OSError:
        return None


from functools import lru_cache as _lru_cache


#: sidecar-parse cache bound, sized PAST the sizing rule's range count
#: (docs/TABLE_FORMAT.md: 100 TB ≈ 800k buckets / SIDECAR_RANGE 64 ≈
#: 12.5k ranges) with headroom for a second in-flight snapshot — so a
#: long-lived driver really does re-parse only changed ranges instead
#: of evicting-and-reloading inside one full assembly (VERDICT r11).
_SIDECAR_CACHE_SIZE = 32768


@_lru_cache(maxsize=_SIDECAR_CACHE_SIZE)
def _load_sidecar_abs(abspath: str) -> dict:
    with open(abspath) as f:
        return json.load(f)


def _load_sidecar(path: str) -> dict:
    """Parse one sidecar file. Sidecars are IMMUTABLE (content-hash in
    the name, never rewritten in place), so caching is safe for the
    life of the process; `_assemble` hands out one-level copies so
    callers can never poison the cache. The cache keys on the
    NORMALIZED absolute path — a relative table_path plus a cwd change
    must not alias two files or duplicate one (ADVICE r11)."""
    return _load_sidecar_abs(os.path.abspath(path))


_load_sidecar.cache_info = _load_sidecar_abs.cache_info
_load_sidecar.cache_clear = _load_sidecar_abs.cache_clear


def _merge_sidecar(mf: dict, ent: dict, table_path: str) -> None:
    """Merge one sidecar's per-bucket maps into `mf`. Values are copied
    one level deep (the inner per-bucket dict/list), so a caller that
    mutates a per-bucket value can never poison the process-wide
    `_load_sidecar` cache.

    A CARRIED entry (r12 zero-copy clone: `base` names the table the
    file belongs to) resolves its RELATIVE dir refs — `buckets` values
    and `deletes` lists, the only path-bearing sidecar keys — against
    that base, producing exactly what the eager absolutize produced
    when clones re-published all metadata; everything else (stats,
    counts, bitmaps) is location-independent and merges verbatim."""
    sc = _load_sidecar(os.path.join(table_path, ent["path"]))
    base = ent.get("base")
    for k in _SIDECAR_KEYS:
        part = sc.get(k)
        if not part:
            continue
        tgt = mf[k]
        if base and k == "buckets":
            for b, v in part.items():
                tgt[b] = v if os.path.isabs(v) else os.path.join(base, v)
        elif base and k == "deletes":
            for b, v in part.items():
                tgt[b] = [
                    x if os.path.isabs(x) else os.path.join(base, x)
                    for x in v
                ]
        else:
            for b, v in part.items():
                if isinstance(v, dict):
                    tgt[b] = dict(v)
                elif isinstance(v, list):
                    tgt[b] = list(v)
                else:
                    tgt[b] = v


def _assemble(table_path: str, mf: dict) -> dict:
    """Resolve a slim manifest's sidecars back into the inline shape
    every consumer reads. EMPTY is a value, not an absence: a sharded
    table whose every row was deleted publishes `"sidecars": {}`, and
    readers must still get the (empty) per-bucket maps back — a falsy
    check here used to KeyError every later read and commit (r12,
    found by the two-writer hypothesis model)."""
    sidecars = mf.pop("sidecars", None)
    if sidecars is None:
        return mf
    for k in _SIDECAR_KEYS:
        mf.setdefault(k, {})
    for ent in sidecars.values():
        _merge_sidecar(mf, ent, table_path)
    return mf


def _serialize_range(content: dict) -> tuple[str, str]:
    """One sidecar range's canonical bytes and content hash — THE unit
    of per-commit serialization work. Factored so tests can count calls:
    the O(change) driver-CPU pin (r13) asserts a 1-bucket commit
    serializes O(1) ranges, not all ~12.5k at the sizing rule."""
    import hashlib

    blob = json.dumps(content, sort_keys=True)
    return blob, hashlib.sha256(blob.encode()).hexdigest()[:16]


def _write_sidecar(table_path: str, lo: int, blob: str, h: str) -> str:
    """Persist one range's sidecar under its content-addressed name
    (`sc-<lo>-<hash>.json` — no version: identical content across ANY
    version distance is ONE file; a revert-shaped commit whose bytes
    already exist writes nothing) and return the table-relative path."""
    rel = os.path.join("_meta", f"sc-{lo:08d}-{h}.json")
    dest = os.path.join(table_path, rel)
    if not os.path.exists(dest):
        tmp = f"{dest}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(blob)
        os.replace(tmp, dest)  # same name => same content: idempotent
    return rel


def list_versions(table_path: str) -> list[int]:
    """Committed manifest versions, ascending. [] for a fresh table."""
    try:
        entries = os.listdir(_manifest_dir(table_path))
    except OSError:
        return []
    return sorted(
        int(e.removesuffix(".json")) for e in entries if e.endswith(".json")
    )


#: reader feature gate (Delta's protocol readerFeatures): a manifest
#: lists the features a correct read REQUIRES under
#: `required_reader_features`; a reader that doesn't know one must
#: refuse loudly instead of misreading (e.g. a pre-column-mapping
#: reader would silently NULL-fill every renamed column). This set is
#: what THIS build understands — writers stamp exactly the subset a
#: manifest actually uses, so old tables never gain gates they don't
#: need and new readers keep reading old tables.
SUPPORTED_READER_FEATURES = frozenset(
    {
        "column-mapping",
        "bloom-index",
        "merge-on-read-deletes",
        "sharded-metadata",
    }
)


class UnsupportedTableFeatureError(RuntimeError):
    """The manifest requires a reader feature this build doesn't know.
    Reading anyway would return WRONG data (not an error), so every
    read path refuses up front — Delta's protocol-version contract."""


def required_reader_features(manifest: dict) -> list[str]:
    """The reader features a correct read of `manifest` depends on —
    recomputed from content at commit time, never carried blindly. A
    slim manifest's pending deletes show in its `agg` scalars (its
    per-bucket maps live in the sidecars its `sidecars` index names)."""
    feats = []
    if manifest.get("column_mapping") or manifest.get("retired_physical"):
        feats.append("column-mapping")
    if manifest.get("deletes") or manifest.get("agg", {}).get("dels"):
        feats.append("merge-on-read-deletes")
    if "sidecars" in manifest:
        feats.append("sharded-metadata")
    # bloom is advisory (ignoring bitmaps is slower, never wrong), so
    # it is deliberately NOT a required reader feature
    return feats


def read_manifest(
    table_path: str,
    version: int | None = None,
    *,
    buckets: list | None = None,
) -> dict | None:
    """The manifest for `version` (default: latest). None when the table
    has no commits yet. Raises UnsupportedTableFeatureError when the
    manifest names a required reader feature this build lacks — every
    read and write path resolves manifests through here, so the gate
    covers the whole surface.

    `buckets` (r11, sharded tables only): resolve ONLY the sidecar
    ranges covering these bucket ids — the point-lookup metadata fast
    path. A k-key probe on an 800k-bucket table parses the slim
    manifest plus ceil(k / SIDECAR_RANGE) sidecars instead of all
    ~12.5k. Pass [] for the slim scalars alone (keys, n_buckets,
    schema — enough to PLAN the buckets for a second, covering call).
    Partial manifests are for READS only: per-bucket maps outside the
    requested ranges are absent, so never feed one back into a
    publish. Ignored (full assembly) on inline tables."""
    if version is None:
        versions = list_versions(table_path)
        if not versions:
            return None
        version = versions[-1]
    with open(_manifest_path(table_path, version)) as f:
        mf = json.load(f)
    unknown = (
        set(mf.get("required_reader_features", []))
        - SUPPORTED_READER_FEATURES
    )
    if unknown:
        raise UnsupportedTableFeatureError(
            f"{table_path} version {version} requires reader feature(s) "
            f"{sorted(unknown)} this build does not support "
            f"(supported: {sorted(SUPPORTED_READER_FEATURES)}); reading "
            "anyway would return wrong data — upgrade the reader"
        )
    if buckets is not None and "sidecars" in mf:
        width = mf.get("sidecar_range", SIDECAR_RANGE)
        needed = {_range_of(b, width) for b in buckets}
        sidecars = mf.pop("sidecars")
        for k in _SIDECAR_KEYS:
            mf.setdefault(k, {})
        for lo, ent in sidecars.items():
            if lo not in needed:
                continue
            _merge_sidecar(mf, ent, table_path)
        return mf
    return _assemble(table_path, mf)


def _require_manifest(
    table_path: str, version: int | None = None, *, buckets: list | None = None
) -> dict:
    """`read_manifest` for a table that must exist: FileNotFoundError
    when it has no commits yet."""
    mf = read_manifest(table_path, version, buckets=buckets)
    if mf is None:
        raise FileNotFoundError(f"no committed manifest under {table_path}")
    return mf


def _span_manifests(
    table_path: str, frm: int, to: int
) -> tuple[dict | None, dict | None]:
    """(mf_to, mf_from) for a CDC/CDF version span, metadata-pruned on
    sharded tables (the change-feed planner,
    `sources/manifest_source.py::ManifestCDCStreamReader`): ranges whose sidecar (path, hash) entries are
    IDENTICAL at both span ends provably changed nothing — their
    buckets, delete refs, and stats are byte-equal — so only the
    DIFFERING ranges' sidecars load and the per-bucket diff downstream
    sees just their buckets. A 1-bucket commit on an 800k-bucket table
    plans from the two slim manifests + ONE sidecar pair instead of
    ~25k sidecar parses. Falls back to full assembly when either end
    is inline, the layouts disagree (rescale — the rescale path needs
    every bucket anyway), or the range widths differ across a build
    upgrade. `frm <= 0` returns (mf_to, None) — the bootstrap span.
    The partial manifests are for READS only (never republish)."""
    if frm > 0:
        slim_new = _read_slim(table_path, to) or {}
        slim_old = _read_slim(table_path, frm) or {}
        sc_new = slim_new.get("sidecars")
        sc_old = slim_old.get("sidecars")
        if (
            sc_new is not None
            and sc_old is not None
            and slim_new.get("n_buckets") == slim_old.get("n_buckets")
            and slim_new.get("sidecar_range")
            == slim_old.get("sidecar_range")
        ):
            width = slim_new["sidecar_range"]
            changed = {
                lo for lo, ent in sc_new.items() if sc_old.get(lo) != ent
            } | {lo for lo in sc_old if lo not in sc_new}
            bucket_ids = [
                b
                for lo in changed
                for b in range(int(lo), int(lo) + width)
            ]
            return (
                read_manifest(table_path, to, buckets=bucket_ids),
                read_manifest(table_path, frm, buckets=bucket_ids),
            )
    return (
        read_manifest(table_path, to),
        read_manifest(table_path, frm) if frm > 0 else None,
    )


def _bucket_agg(manifest: dict) -> dict:
    """Whole-table scalars derived from the per-bucket maps, stamped
    into every manifest so later commits can maintain them
    INCREMENTALLY (`_tally`: subtract the dirty buckets' previous
    contributions, add their new ones) without ever assembling the
    full maps. `live`/`dels` are bucket counts (op metrics, the MoR
    feature gate); `rows`/`drows` sum the recorded row/delete-key
    counts; `uncounted`/`undel` count buckets MISSING a count
    (older format versions) — total_rows is exact iff both are
    zero, the same contract manifest_row_count honors."""
    counts = manifest.get("row_counts", {})
    bkts = manifest.get("buckets", {})
    dels = manifest.get("deletes", {})
    dcnt = manifest.get("delete_counts", {})
    return {
        "live": len(bkts),
        "rows": sum(counts[b] for b in bkts if b in counts),
        "uncounted": sum(1 for b in bkts if b not in counts),
        "dels": len(dels),
        "drows": sum(dcnt[b] for b in dels if b in dcnt),
        "undel": sum(1 for b in dels if b not in dcnt),
    }


#: fields a commit never carries over from its base: the per-bucket
#: maps (carried range by range below), what is derived from them and
#: from the layout, and what every commit states for itself (`clone_of`
#: marks only a clone's first version)
_NOT_CARRIED = frozenset(
    _SIDECAR_KEYS
    + ("sidecars", "sidecar_range", "agg", "total_rows")
    + ("required_reader_features", "token", "committed_at")
    + ("operation", "op_metrics", "clone_of")
)

#: table-level fields of a brand-new table
_NEW_TABLE = {
    "bloom": {},
    "column_mapping": {},
    "retired_physical": [],
    "generated": {},
    "constraints": {},
    "txns": {},
}


def _scalars(mf: dict) -> dict:
    """`mf` without its per-bucket maps: the base of a commit that
    rewrites every bucket (optimize, rescale, replace) — it keeps the
    table's fields and none of its buckets."""
    return {k: v for k, v in mf.items() if k not in _SIDECAR_KEYS}


def _row(mf: dict, bucket: str) -> dict:
    """Bucket `bucket`'s complete per-bucket row in an assembled
    manifest: the unit `_commit_manifest` replaces."""
    return {
        k: mf[k][bucket] for k in _SIDECAR_KEYS if bucket in mf.get(k, {})
    }


def _range_of(bucket: str, width: int | None) -> str | None:
    """The sidecar range holding `bucket`; None on the inline layout,
    whose one range is the manifest itself."""
    return None if width is None else str(int(bucket) // width * width)


def _tally(agg: dict, content: dict, bucket: str, sign: int) -> None:
    """Add (sign 1) or take out (sign -1) one bucket's share of the
    `agg` scalars, counted exactly as `_bucket_agg` counts it."""
    if bucket in content["buckets"]:
        agg["live"] += sign
        if bucket in content["row_counts"]:
            agg["rows"] += sign * content["row_counts"][bucket]
        else:
            agg["uncounted"] += sign
    if bucket in content["deletes"]:
        agg["dels"] += sign
        if bucket in content["delete_counts"]:
            agg["drows"] += sign * content["delete_counts"][bucket]
        else:
            agg["undel"] += sign


def _commit_manifest(
    table_path: str,
    token: int,
    base: dict | None,
    scalars: dict,
    changed: dict[str, dict] | None = None,
    dropped=(),
) -> int:
    """THE commit: publish the next manifest version as `base` plus
    this commit's changes, and return that version. Every writer
    commits through here.

    * `base`: the snapshot the commit starts from, as stored
      (`_read_slim`). That is the previous version for data and DDL
      commits, the target version for a restore, and the source for a
      clone (its sidecar entries given `base` refs). `_scalars(mf)`
      starts from the table's fields with no buckets (full rewrites);
      None starts a new table.
    * `scalars`: the fields this commit sets (version, operation,
      op_metrics and whatever it changes); every other field carries
      from `base`. `token` and `committed_at` are stamped here.
    * `changed`: bucket id -> its COMPLETE new per-bucket row
      ({map key: value}); `dropped`: bucket ids to remove. A bucket
      named in either loses its whole old row first, so a rewritten
      bucket's stale deletes or file stats never survive.

    The layout is decided here and nowhere else. Past SIDECAR_RANGE
    buckets the per-bucket maps shard into range sidecars, and only a
    range holding a changed or dropped bucket is parsed, patched,
    re-hashed and (content-addressed) written; every other range's
    index entry carries verbatim, so a commit that changes no bucket
    parses and writes no sidecar at all. The `agg` scalars are
    maintained incrementally, so `total_rows` and the reader features
    never need the full maps: a 1-bucket commit on the sizing rule's
    ~12.5k-range table costs O(1) sidecar work. A base at another range
    width, one predating `agg`, or a move across the threshold resolves
    the base's full maps and rebuilds every range instead.

    The publish is no-clobber: `os.link` fails with EEXIST when the
    version already exists (os.replace would silently overwrite), so a
    stalled fenced writer racing a thief's published version gets a
    fenced abort, never a lost commit. On an object store this is the
    if-none-match conditional PUT."""
    base = base or {}
    changed = changed or {}
    slim = {**_NEW_TABLE}
    slim.update((k, v) for k, v in base.items() if k not in _NOT_CARRIED)
    slim.update(scalars)
    slim["token"] = token
    slim["committed_at"] = _dt.datetime.now(_dt.timezone.utc).isoformat()
    width = SIDECAR_RANGE if slim["n_buckets"] > SIDECAR_RANGE else None
    index = base.get("sidecars")
    if index is not None and (
        base.get("sidecar_range") != width or "agg" not in base
    ):
        base = _assemble(table_path, dict(base))
        index = None
    ranges: dict[str | None, dict] = {}
    if index is None:
        agg = _bucket_agg(base)
        for k in _SIDECAR_KEYS:
            for b, v in base.get(k, {}).items():
                ranges.setdefault(
                    _range_of(b, width), {x: {} for x in _SIDECAR_KEYS}
                )[k][b] = v
        index = {}
    else:
        agg = dict(base["agg"])
        index = dict(index)
    for b in {*changed, *dropped}:
        lo = _range_of(b, width)
        if lo not in ranges:
            ranges[lo] = {k: {} for k in _SIDECAR_KEYS}
            if lo in index:
                # one sidecar parse (usually cached); base-carried
                # entries resolve to absolute refs
                _merge_sidecar(ranges[lo], index[lo], table_path)
        content = ranges[lo]
        _tally(agg, content, b, -1)
        for k in _SIDECAR_KEYS:
            content[k].pop(b, None)
        for k, v in changed.get(b, {}).items():
            content[k][b] = v
        _tally(agg, content, b, 1)
    if width is None:
        slim.update(ranges.get(None) or {k: {} for k in _SIDECAR_KEYS})
    else:
        os.makedirs(_meta_dir(table_path), exist_ok=True)
        for lo in sorted(ranges, key=int):
            prev = index.pop(lo, None)
            if not any(ranges[lo].values()):
                continue  # a fully emptied range leaves the index
            blob, h = _serialize_range(ranges[lo])
            if prev is not None and prev["hash"] == h and "base" not in prev:
                index[lo] = prev  # dirty but byte-identical: carry
            else:
                index[lo] = {
                    "path": _write_sidecar(table_path, int(lo), blob, h),
                    "hash": h,
                }
        slim["sidecars"] = index
        # readers map bucket -> range with the manifest's OWN width,
        # never the module constant: a build with another default must
        # still find every range of this manifest
        slim["sidecar_range"] = width
    slim["agg"] = agg
    if agg["uncounted"] == 0 and agg["undel"] == 0:
        slim["total_rows"] = agg["rows"] - agg["drows"]
    slim["required_reader_features"] = required_reader_features(slim)
    check_fence(table_path, token)
    _atomic_publish(table_path, slim, slim["version"])
    return slim["version"]


def _atomic_publish(table_path: str, to_write: dict, version: int) -> None:
    dest = _manifest_path(table_path, version)
    os.makedirs(_manifest_dir(table_path), exist_ok=True)
    tmp = f"{dest}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(to_write, f)
    try:
        os.link(tmp, dest)  # atomic no-clobber publish
    except FileExistsError:
        raise WriterFencedError(
            f"manifest version {version} already committed to "
            f"{table_path}: a racing writer published first"
        ) from None
    finally:
        os.unlink(tmp)


#: errors no retry can fix: a fenced writer, a rejected commit, a
#: missing table
_FATAL = (WriterFencedError, ValueError, FileNotFoundError)


def _under_lease(table_path: str, attempt, fatal=_FATAL):
    """Run one commit under the table's writer lease. `attempt(token)`
    is retried with bounded backoff on transient errors (`fatal` ones
    propagate at once), each try checking the fence before it writes.
    The commit is recorded when a version came back (None means nothing
    was committed), and the lease is released whatever happens."""
    token = acquire_table_lease(table_path)

    def once():
        check_fence(table_path, token)
        return attempt(token)

    try:
        version = retry_with_backoff(once, fatal=fatal)
        if version is not None:
            record_commit(table_path, token)
        return version
    finally:
        release_table_lease(table_path, token)


# ---------------------------------------------------------------------------
# Per-bucket-dir column stats: Iceberg's metadata skipping reduced to its
# essentials. A commit clusters its segment write by pk_bucket, so each
# touched bucket gets ONE data file (more only past _MAX_ROWS_PER_FILE),
# then reads the stats from the just-written parquet footers on the
# driver — no Spark job re-reads the segment. Segment timestamps are
# written as INT64 microseconds (`_write_segment`) because parquet-java
# records no footer bounds for INT96. Stats carry forward by reference for untouched
# buckets and are consulted at read so a predicate scan opens only
# bucket dirs whose [min, max] ranges can contain matching rows. The
# reference analog is the per-city window read-back
# (categorize-trail-conditions/src/client.py:31-56), which never scans
# other cities' data.
# ---------------------------------------------------------------------------

#: types whose min/max are recorded (orderable scalars; complex/binary
#: columns are skipped — absent stats mean "never prunable", always sound)
_STAT_TYPES = {
    "byte", "short", "integer", "long", "float", "double",
    "string", "date", "timestamp", "boolean",
}

#: string bounds longer than this are NOT recorded (Iceberg truncates
#: with upper-bound increment; omitting the column entirely is the
#: simpler always-sound choice — that bucket just isn't prunable on it)
_MAX_STAT_STRING = 64

#: rows per segment data file (Spark's maxRecordsPerFile): a clustered
#: write puts each touched bucket in one task, so a bucket stays one
#: file up to this many rows and splits only past it — file size stays
#: bounded however large a bucket grows
_MAX_ROWS_PER_FILE = 1_000_000

#: parquet timestamp encoding of segment files: INT64 micros carry
#: footer min/max, Spark's INT96 default carries none
_SEGMENT_TS_TYPE = "TIMESTAMP_MICROS"
_TS_TYPE_CONF = "spark.sql.parquet.outputTimestampType"

#: crashed-writer staging dirs younger than this survive `vacuum` — an
#: in-flight DataFrameWriter job stages WITHOUT the table lease, so age
#: is the only safe orphan signal (Delta's VACUUM retention window)
_STAGING_TTL_SECONDS = 24 * 3600


class TxnAlreadyCommittedError(Exception):
    """An idempotent writer (`manifest_upsert(txn=...)`) tried to commit
    an (app_id, version) at or below the version the manifest already
    records for that app — a replayed streaming epoch. The table is
    untouched; catching this and moving on IS the exactly-once path."""


class ConcurrentWriteError(Exception):
    """A commit preconditioned on a snapshot version
    (`manifest_upsert(require_version=...)`) found a different version
    under the lease — another writer landed between the caller's
    snapshot read and its commit (Delta's ConcurrentAppendException).
    The table is untouched; callers recompute against the new snapshot
    and retry (`update_where`/`merge_into` do this automatically)."""


def _stat_columns(schema: StructType) -> list[str]:
    return [
        f.name
        for f in schema.fields
        if f.dataType.typeName() in _STAT_TYPES
    ]


def _stat_json(v):
    """JSON-encodable stat bound. Timestamps/dates serialize to ISO-8601
    ('T' separator), whose lexicographic order matches chronological
    order — predicate values are normalized identically at read."""
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def _norm_stat(v):
    """Normalize a predicate value into the stored-stat comparison
    domain (datetime/date -> ISO-8601 string). Stored bounds come from
    collect() under the engine's pinned-UTC session, i.e. naive-UTC —
    an aware predicate datetime is converted to naive UTC first so the
    lexicographic comparison never sees a '+00:00' suffix."""
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _row_col_stats(bounds: dict[str, tuple]) -> dict[str, list]:
    """{col -> [min, max, null_count]} as recorded in the manifest, from
    {col -> (min, max, null_count)} bounds: JSON-encoded, with columns
    that must never prune (long strings, NaN bounds) left out."""
    col_stats: dict[str, list] = {}
    for c, (mn, mx, nulls) in bounds.items():
        mn = _stat_json(mn)
        mx = _stat_json(mx)
        if isinstance(mn, str) and len(mn) > _MAX_STAT_STRING:
            continue
        if isinstance(mx, str) and len(mx) > _MAX_STAT_STRING:
            continue
        if any(
            isinstance(v, float) and v != v for v in (mn, mx)
        ):
            # NaN bound (Spark sorts NaN largest; Python NaN
            # comparisons are always False): recording it would
            # wrongly prune ranges that DO match the bucket's
            # non-NaN rows — omit the column, never prune on it
            continue
        col_stats[c] = [mn, mx, int(nulls or 0)]
    return col_stats


def _file_debt_floor(mf: dict, bucket: str, max_files: int) -> int:
    """Data files bucket `bucket` may hold before it is small-file
    debt: `max_files`, or more when the row cap forces them — a rewrite
    of R rows still leaves ceil(R / _MAX_ROWS_PER_FILE) files, and
    counting those as debt would rewrite the bucket on every pass.
    Uses the manifest's recorded row count (no IO); a bucket without
    one is held to `max_files`."""
    rows = mf.get("row_counts", {}).get(bucket, 0)
    return max(max_files, -(-rows // _MAX_ROWS_PER_FILE))


def _write_segment(df: DataFrame, seg_abs: str) -> None:
    """Write a bucketed frame as a segment: one dir per pk_bucket, each
    task's rows of a bucket split into files of at most
    `_MAX_ROWS_PER_FILE` rows. Callers choose the distribution.

    The timestamp encoding is a session conf, not a write option, so it
    is set for this write only and restored after: other parquet the
    session writes keeps the caller's encoding. A concurrent write on
    the same session that races the restore can at worst land INT96,
    whose timestamp column `_read_footers` then leaves unbounded."""
    conf = df.sparkSession.conf
    prev = conf.get(_TS_TYPE_CONF)
    conf.set(_TS_TYPE_CONF, _SEGMENT_TS_TYPE)
    try:
        df.write.option("maxRecordsPerFile", _MAX_ROWS_PER_FILE).partitionBy(
            "pk_bucket"
        ).mode("overwrite").parquet(seg_abs)
    finally:
        conf.set(_TS_TYPE_CONF, prev)


@dataclass(frozen=True)
class _SegmentFooters:
    """A just-written segment as its parquet footers describe it.
    `stats` ({bucket -> {col -> [min, max, null_count]}}) and
    `file_stats` ({bucket -> {file basename -> {col -> ...}}}) follow
    the `_row_col_stats` rules. Basenames (not full paths) are recorded
    so carried buckets keep valid file stats — the manifest's bucket
    entry already pins the dir — and the per-dir map is COMPLETE (every
    data file gets an entry): the read path treats a missing basename
    as unprunable, so completeness is what lets an empty surviving-file
    list mean 'whole dir pruned'. `null_counts` ({top-level column ->
    nulls in the whole segment}) leaves out a column some row group
    records no null count for (parquet-java drops a column chunk's
    statistics past 4 KB)."""

    stats: dict[str, dict[str, list]]
    file_stats: dict[str, dict[str, dict[str, list]]]
    row_counts: dict[str, int]
    files_written: int
    bytes_written: int
    null_counts: dict[str, int]


def _footer_value(v):
    """A footer bound in the stored-stat domain: parquet timestamps are
    UTC instants, stored bounds are naive UTC (see `_norm_stat`)."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _merge_bound(a, b, pick):
    """`pick` (min or max) of two bounds, None meaning 'no non-null
    value'. A NaN bound stays NaN, so `_row_col_stats` omits the column
    — Spark orders NaN above every number, and parquet-java's bounds
    agree, so a NaN anywhere in a file already shows in its max."""
    if a is None:
        return b
    if b is None:
        return a
    if a != a or b != b:
        return float("nan")
    return pick(a, b)


def _merge_col(a: tuple, b: tuple) -> tuple:
    return (
        _merge_bound(a[0], b[0], min),
        _merge_bound(a[1], b[1], max),
        a[2] + b[2],
    )


def _file_bounds(md, cols: list[str]) -> dict[str, tuple]:
    """{col -> (min, max, null_count)} over one file's row groups, for
    the columns whose footer bounds every row group holding non-null
    values. A column absent from the file, or without statistics where
    it has values (INT96 timestamps, strings past parquet-java's stats
    size limit), is left out — never prunable, always sound."""
    idx = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.path == col.name:  # top-level leaf
            idx[col.name] = i
    out = {}
    for c in cols:
        i = idx.get(c)
        if i is None:
            continue
        acc = (None, None, 0)
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            st = rg.column(i).statistics
            if st is None or not st.has_null_count:
                break
            if st.has_min_max:
                part = (_footer_value(st.min), _footer_value(st.max))
            elif st.null_count == rg.num_rows:
                part = (None, None)  # all-null row group: no bounds
            else:
                break
            acc = _merge_col(acc, (*part, st.null_count))
        else:
            out[c] = acc
    return out


def _file_nulls(md) -> dict[str, int | None]:
    """{top-level column -> nulls in one file}, None where a row group
    records no null count."""
    out = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.path != col.name:
            continue
        sts = [
            md.row_group(r).column(i).statistics
            for r in range(md.num_row_groups)
        ]
        known = all(st is not None and st.has_null_count for st in sts)
        out[col.name] = sum(st.null_count for st in sts) if known else None
    return out


def _read_footers(seg_abs: str, stat_cols: list[str]) -> _SegmentFooters:
    """Stats, row counts, null counts, file and byte totals for a
    freshly written segment, read from its data files' parquet footers
    on the driver (no Spark job; cost is one footer parse per written
    file)."""
    import pyarrow.parquet as pq

    stats: dict[str, dict[str, list]] = {}
    file_stats: dict[str, dict[str, dict[str, list]]] = {}
    row_counts: dict[str, int] = {}
    nulls: dict[str, int | None] = {}
    n_files = n_bytes = 0
    for e in sorted(os.listdir(seg_abs)):
        if not e.startswith("pk_bucket="):
            continue
        bucket = e.split("=", 1)[1]
        d = os.path.join(seg_abs, e)
        merged: dict[str, tuple] | None = None
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".parquet"):
                continue  # .crc checksums
            path = os.path.join(d, fn)
            md = pq.read_metadata(path)
            n_files += 1
            n_bytes += os.path.getsize(path)
            row_counts[bucket] = row_counts.get(bucket, 0) + md.num_rows
            for c, n in _file_nulls(md).items():
                prev = nulls.get(c, 0)
                nulls[c] = None if prev is None or n is None else prev + n
            fb = _file_bounds(md, stat_cols)
            file_stats.setdefault(bucket, {})[fn] = _row_col_stats(fb)
            # a bucket column is bounded only if every file bounds it
            merged = (
                fb
                if merged is None
                else {
                    c: _merge_col(merged[c], fb[c])
                    for c in merged
                    if c in fb
                }
            )
        if merged is not None:
            stats[bucket] = _row_col_stats(merged)
    known = {c: n for c, n in nulls.items() if n is not None}
    return _SegmentFooters(
        stats, file_stats, row_counts, n_files, n_bytes, known
    )


def _collect_blooms(
    spark: SparkSession, seg_abs: str, cfg: dict[str, list[int]]
) -> dict[str, dict[str, str]]:
    """Per-bucket bloom bitmaps for a freshly written segment (one job,
    sinks/bloom.py). Empty when the table has no bloom config or the
    commit wrote no data buckets."""
    if not cfg:
        return {}
    if not any(e.startswith("pk_bucket=") for e in os.listdir(seg_abs)):
        return {}
    return _bloom.collect_bloom_stats(spark.read.parquet(seg_abs), cfg)


def _segment_rows(
    seg: str,
    footers: _SegmentFooters,
    blooms: dict,
    file_stats: bool = False,
) -> dict[str, dict]:
    """The complete per-bucket rows a freshly written segment (`seg`,
    table-relative) commits: each bucket dir (every dir holds a data
    file, so the footers name them all) with its footer stats, row
    count and bloom bitmaps, plus per-file stats for a clustered
    write. A rewritten bucket has no pending deletes: the rewrite
    materialized them."""
    parts = {
        "stats": footers.stats,
        "row_counts": footers.row_counts,
        "blooms": blooms,
        "file_stats": footers.file_stats if file_stats else {},
    }
    return {
        b: {
            "buckets": os.path.join(seg, f"pk_bucket={b}"),
            **{k: m[b] for k, m in parts.items() if b in m},
        }
        for b in footers.row_counts
    }


@dataclass(frozen=True)
class _Segment:
    """A freshly written segment: its absolute dir, the complete
    per-bucket rows it commits (`_segment_rows`), the op_metrics it
    wrote and its columns' null counts (`_SegmentFooters`)."""

    path: str
    rows: dict[str, dict]
    metrics: dict[str, int]
    null_counts: dict[str, int]


def _write_bucketed(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    bloom_cfg: dict | None = None,
    file_stats: bool = False,
    prefix: str = "seg",
) -> _Segment:
    """THE segment-write step of every data commit: write the bucketed,
    physically named frame `df` (its distribution is the caller's) as
    the new segment `data/<prefix>-<nonce>`, then describe it from its
    footers and bloom bitmaps. Stats cover every orderable column of
    `df`; a column the segment's files lack gets none."""
    seg = os.path.join("data", f"{prefix}-{uuid.uuid4().hex[:12]}")
    seg_abs = os.path.join(table_path, seg)
    _write_segment(df, seg_abs)
    footers = _read_footers(seg_abs, _stat_columns(df.schema))
    rows = _segment_rows(
        seg,
        footers,
        _collect_blooms(spark, seg_abs, bloom_cfg or {}),
        file_stats,
    )
    metrics = {
        "rows_written": sum(footers.row_counts.values()),
        "files_written": footers.files_written,
        "bytes_written": footers.bytes_written,
    }
    return _Segment(seg_abs, rows, metrics, footers.null_counts)


def _type_names(schema: StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema.fields}


# ---------------------------------------------------------------------------
# cluster keys (OPTIMIZE ... ZORDER BY): map orderable columns onto a
# single sortable dimension so range-repartitioned files cover narrow
# value ranges and per-file stats become selective. Correctness never
# depends on this — it only changes physical row placement.
# ---------------------------------------------------------------------------


def _orderable_double(col: str, dtype) -> F.Column:
    """An order-preserving numeric image of an orderable column, used
    only for clustering (never read back): numerics/booleans cast;
    date/timestamp -> epoch units; strings -> first-6-bytes magnitude
    (exact in a double, 2^48 < 2^53; ties beyond the prefix are fine —
    clustering quality, not correctness)."""
    tn = dtype.typeName()
    c = F.col(col)
    if tn in ("byte", "short", "integer", "long", "float", "double"):
        return c.cast("double")
    if tn == "boolean":
        return c.cast("int").cast("double")
    if tn == "date":
        return F.datediff(c, F.lit("1970-01-01").cast("date")).cast("double")
    if tn == "timestamp":
        return F.unix_micros(c).cast("double")
    if tn == "string":
        return F.conv(
            F.hex(F.substring(F.encode(c, "UTF-8"), 1, 6)), 16, 10
        ).cast("double")
    raise ValueError(
        f"cluster_by column {col!r} has unorderable type {tn}; "
        f"supported: {sorted(_STAT_TYPES)}"
    )


def _z_interleave(bins: list[F.Column]) -> F.Column:
    """Bit-interleave k 16-bit bins into one Z-value (Morton order):
    files range-partitioned on it cover small hyper-rectangles of the
    cluster space, so EVERY cluster dimension prunes, not just the
    leading one. Pure JVM bit math, whole-stage-codegen friendly."""
    k = len(bins)
    z = F.lit(0).cast("long")
    for i in range(16):
        for j, b in enumerate(bins):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long")
            z = z + F.shiftleft(bit, i * k + j)
    return z


#: a skip predicate is a list of (column, op, value) conjuncts;
#: value is (lo, hi) for "between", a list for "in", ignored for the
#: null tests. Applied twice: to STATS for dir pruning, and as a real
#: Spark filter on the surviving dirs — so results are exact even when
#: stats are absent (old manifests, complex types, long strings).
SKIP_OPS = ("=", "<", "<=", ">", ">=", "in", "between", "is_null", "is_not_null")


def _may_match(col_stats: dict[str, list], col: str, op: str, val) -> bool:
    """Conservative containment test: False ONLY when the recorded
    [min, max, null_count] prove no row in the bucket can satisfy the
    conjunct. Missing stats => True (never prune blind)."""
    st = col_stats.get(col)
    if st is None:
        return True
    mn, mx, nulls = st
    if op == "is_null":
        return nulls > 0
    if op == "is_not_null":
        return not (mn is None and mx is None)
    if mn is None and mx is None:
        return False  # all-null bucket: no non-null comparison can match
    if op == "in":
        vals = [_norm_stat(v) for v in val if v is not None]
        return any(mn <= v <= mx for v in vals)
    if op == "between":
        lo, hi = (_norm_stat(val[0]), _norm_stat(val[1]))
        return not (hi < mn or lo > mx)
    v = _norm_stat(val)
    if op == "=":
        return mn <= v <= mx
    if op == "<":
        return mn < v
    if op == "<=":
        return mn <= v
    if op == ">":
        return mx > v
    if op == ">=":
        return mx >= v
    raise ValueError(f"unknown skip op: {op!r} (supported: {SKIP_OPS})")


def _bucket_may_match(col_stats: dict[str, list], skip: list[tuple]) -> bool:
    return all(_may_match(col_stats, c, op, v) for c, op, v in skip)


def skip_filter_expr(skip: list[tuple]) -> F.Column:
    """The skip predicate as a real Spark filter (residual correctness:
    pruning is an IO optimization, never the source of truth)."""
    conds = []
    for c, op, val in skip:
        col = F.col(c)
        if op == "=":
            conds.append(col == F.lit(val))
        elif op == "<":
            conds.append(col < F.lit(val))
        elif op == "<=":
            conds.append(col <= F.lit(val))
        elif op == ">":
            conds.append(col > F.lit(val))
        elif op == ">=":
            conds.append(col >= F.lit(val))
        elif op == "in":
            conds.append(col.isin(list(val)))
        elif op == "between":
            conds.append(col.between(F.lit(val[0]), F.lit(val[1])))
        elif op == "is_null":
            conds.append(col.isNull())
        elif op == "is_not_null":
            conds.append(col.isNotNull())
        else:
            raise ValueError(
                f"unknown skip op: {op!r} (supported: {SKIP_OPS})"
            )
    return reduce(lambda a, b: a & b, conds)


# ---------------------------------------------------------------------------
# merge-on-read deletes (equality delete files)
# ---------------------------------------------------------------------------


def _key_schema(mf: dict) -> StructType:
    keys = set(mf["keys"])
    return StructType(
        [f for f in _data_schema(mf).fields if f.name in keys]
    )


def _delete_dirs_for(table_path: str, mf: dict, bucket_ids) -> list[str]:
    """Absolute delete-file dirs recorded for the given buckets (ids may
    be int or str). Empty for a table with no pending MoR deletes."""
    dmap = mf.get("deletes", {})
    return [
        os.path.join(table_path, d)
        for b in bucket_ids
        for d in dmap.get(str(b), [])
    ]


def _apply_deletes(
    spark: SparkSession, df: DataFrame, table_path: str, mf: dict, bucket_ids
) -> DataFrame:
    """Anti-join the pending equality-delete keys for `bucket_ids` out of
    `df`. Delete sets are small relative to the table (that is the point
    of merge-on-read — and `optimize_table` materializes them before
    they grow large), so the anti-join broadcasts."""
    dirs = _delete_dirs_for(table_path, mf, bucket_ids)
    if not dirs:
        return df
    dels = _read_parquet_paths(spark, _key_schema(mf), dirs)
    return df.join(F.broadcast(dels), mf["keys"], "left_anti")


def _bucket_ids(key_rows: DataFrame, keys: list[str], n_buckets: int) -> list:
    """The bucket ids the key rows `key_rows` hash into under a layout of
    `n_buckets` buckets (one Spark job)."""
    return [
        r.pk_bucket
        for r in _with_bucket(key_rows, keys, n_buckets)
        .select("pk_bucket")
        .distinct()
        .collect()
    ]


def _read_buckets(
    spark: SparkSession, table_path: str, mf: dict, bucket_ids
) -> DataFrame | None:
    """The current rows of the live buckets among `bucket_ids` (int or
    str) of snapshot `mf`: their segments, LOGICAL-named, with pending
    MoR deletes anti-joined out. None when none of them is live."""
    live = [str(b) for b in bucket_ids if str(b) in mf["buckets"]]
    if not live:
        return None
    dirs = [os.path.join(table_path, mf["buckets"][b]) for b in live]
    return _apply_deletes(
        spark, _read_segments(spark, mf, dirs), table_path, mf, live
    )


def delete_where(
    spark: SparkSession,
    table_path: str,
    condition,
    skip: list[tuple] | None = None,
) -> int:
    """Merge-on-read DELETE (Delta's deletion vectors / Iceberg v2
    equality deletes, reduced to their mechanics): rows matching
    `condition` (a Column or SQL string) are deleted WITHOUT rewriting
    any data segment. The commit writes only a small parquet of the
    matched merge keys (`data/del-<nonce>/pk_bucket=N/`), records it in
    the manifest per bucket, and every reader — `read_manifest_table`,
    `read_manifest_lookup`, `merge_into`'s target scan, the
    `format("manifest")` / `format("manifest_cdc")` data sources —
    anti-joins those keys out. Copy-on-write deletes (the
    `tombstone_col` path of `manifest_upsert`) rewrite every touched
    bucket; at scale, deleting 0.1% of rows scattered across all
    buckets would rewrite the whole table — this path writes bytes
    proportional to the DELETED KEYS instead, the write-amplification
    fix that makes deletes viable at 100 TB.

    Mechanics and contracts:
    * matched keys are computed against the CURRENT snapshot (pending
      deletes applied), so a key appears in at most one delete file —
      counts stay exact and `manifest_row_count` stays metadata-only
      (segment row counts minus per-bucket delete counts);
    * bucket/file stats are untouched: they become conservative UPPER
      bounds (rows only disappear), so metadata skipping stays sound;
    * a later upsert/merge that rewrites a bucket applies and DROPS that
      bucket's delete files (the rewrite materializes them);
      `optimize_table` materializes all of them; `vacuum` sweeps
      unreferenced delete dirs like any segment;
    * a predicate matching nothing commits nothing (returns the current
      version unchanged) — no empty versions;
    * `skip`: optional `(column, op, value)` conjuncts (`SKIP_OPS`)
      handed to `read_manifest_table` so the matched-key scan opens
      only buckets/files whose stats can match — at 100 TB a DELETE on
      a clustered range must not scan the table to find its keys.
      CALLER CONTRACT: every conjunct must be IMPLIED by `condition`
      (it is an IO hint; a conjunct the condition does not imply would
      silently miss matching rows in pruned files).

    Returns the committed (or unchanged) version. Crash-total and
    fenced exactly like `manifest_upsert`: an unpublished delete file
    is orphan data no manifest references."""
    cond = F.expr(condition) if isinstance(condition, str) else condition

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path)
        keys = mf["keys"]
        current = read_manifest_table(spark, table_path, skip=skip)
        matched = _with_bucket(
            current.filter(cond).select(*keys), keys, mf["n_buckets"]
        )
        seg = _write_bucketed(
            spark, table_path, matched.repartition("pk_bucket"), prefix="del"
        )
        if not seg.rows:
            shutil.rmtree(seg.path, ignore_errors=True)
            return mf["version"]  # nothing matched: no empty commit
        # a hit bucket keeps its segment, stats and (advisory) blooms:
        # MoR rows only DISAPPEAR, so a stale bit is a false positive
        # (wasted read), never a false negative (wrong prune)
        changed = {}
        for b, hit in seg.rows.items():
            row = _row(mf, b)
            row["deletes"] = [*row.get("deletes", []), hit["buckets"]]
            row["delete_counts"] = (
                row.get("delete_counts", 0) + hit["row_counts"]
            )
            changed[b] = row
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, mf["version"]),
            {
                "version": mf["version"] + 1,
                "operation": "delete",
                "op_metrics": {
                    "buckets_written": 0,
                    "buckets_carried": len(mf["buckets"]),
                    "rows_deleted": seg.metrics["rows_written"],
                    "files_written": seg.metrics["files_written"],
                    "bytes_written": seg.metrics["bytes_written"],
                    "mode": "merge-on-read",
                },
            },
            changed,
        )

    return _under_lease(table_path, attempt)


def update_where(
    spark: SparkSession,
    table_path: str,
    condition,
    set: dict[str, F.Column | str],
    skip: list[tuple] | None = None,
) -> int:
    """UPDATE ... WHERE (Delta's UPDATE): rows matching `condition` get
    the `set` columns rewritten (Column exprs or SQL strings, evaluated
    against the matched row); everything else is untouched. Composes
    onto `manifest_upsert`'s atomic commit — copy-on-write of exactly
    the buckets the matched keys hash into, one version, crash-total,
    fenced, CHECK constraints enforced on the updated rows before any
    byte lands. Merge keys cannot be SET (that would be a delete +
    insert — use `merge_into` or `delete_where` + upsert). A predicate
    matching nothing commits nothing. Returns the committed (or
    unchanged) version. `skip` prunes the matched-row scan via stats,
    same contract as `delete_where`: every conjunct must be IMPLIED by
    `condition`.

    Concurrency is OPTIMISTIC and serializable: the matched set is
    computed against a pinned snapshot version and the commit is
    preconditioned on it (`require_version`), so a writer landing in
    between triggers a recompute against the new snapshot instead of a
    silent lost update — Delta's conflict-detect-and-retry, bounded at
    `_OCC_MAX_ATTEMPTS`."""
    if not set:
        raise ValueError(
            "UPDATE requires at least one SET assignment: an empty dict "
            "would rewrite every matched bucket byte-identically"
        )
    cond = F.expr(condition) if isinstance(condition, str) else condition
    exprs = {
        c: F.expr(e) if isinstance(e, str) else e for c, e in set.items()
    }
    for _ in range(_OCC_MAX_ATTEMPTS):
        mf = _require_manifest(table_path)
        bad = sorted(set.keys() & {*mf["keys"]})
        if bad:
            raise ValueError(
                f"cannot SET merge key column(s) {bad} ({table_path}): "
                "rekeying a row is a delete + insert, not an update"
            )
        known = {f.name for f in _data_schema(mf).fields}
        unknown = sorted(set.keys() - known)
        if unknown:
            raise ValueError(
                f"SET column(s) {unknown} not in table schema "
                f"({table_path}); UPDATE never adds columns — widen via "
                "an upsert batch"
            )
        snap_v = mf["version"]
        matched = read_manifest_table(
            spark, table_path, version=snap_v, skip=skip
        ).filter(cond)
        if matched.isEmpty():
            return snap_v  # nothing matched: no empty commit
        updated = matched.select(
            *[
                exprs[c].alias(c) if c in exprs else F.col(c)
                for c in matched.columns
            ]
        )
        # generated columns recompute automatically on UPDATE (Delta's
        # behavior) unless the caller SET them explicitly — in which
        # case the upsert-side validation holds them to the expression
        for gcol, gexpr in mf.get("generated", {}).items():
            if gcol not in exprs and gcol in updated.columns:
                updated = updated.withColumn(gcol, F.expr(gexpr))
        try:
            return manifest_upsert(
                spark,
                table_path,
                updated,
                mf["keys"],
                operation="update",
                require_version=snap_v,
            )
        except ConcurrentWriteError:
            continue  # a writer landed mid-flight: recompute and retry
    raise ConcurrentWriteError(
        f"update on {table_path} lost the commit race "
        f"{_OCC_MAX_ATTEMPTS} times; coordinate writers or retry later"
    )


def _bloom_rows(mf: dict, keep) -> dict[str, dict]:
    """The changed rows of the buckets whose bloom bitmaps lose columns
    for which `keep(column)` is false (an index dropped, or bitmaps not
    interpretable under the carried config); buckets left without
    bitmaps lose the entry."""
    rows = {}
    for b, cols in mf.get("blooms", {}).items():
        kept = {c: h for c, h in cols.items() if keep(c)}
        if kept != cols:
            rows[b] = {k: v for k, v in _row(mf, b).items() if k != "blooms"}
            if kept:
                rows[b]["blooms"] = kept
    return rows


def restore_table(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    as_of=None,
) -> int:
    """RESTORE TABLE TO VERSION (Delta's RESTORE): a METADATA-ONLY
    commit that re-points the table at an older snapshot — buckets,
    schema, stats, row counts, and pending MoR deletes all come from
    the restored manifest, carried by reference (zero data bytes
    moved). History is preserved: the restore is a NEW version on top,
    so the mistake you are undoing stays time-travel-readable and the
    restore itself is undoable. Requires the restored version's
    segments to still exist — a snapshot already swept by `vacuum`
    raises instead of committing a manifest that points at deleted
    data. Current CHECK constraints carry forward unvalidated (same as
    Delta: RESTORE is a data rollback, not a new batch)."""

    def attempt(token: int) -> int:
        # slim scalars suffice: the restore publishes OLD's per-bucket
        # maps; from CURRENT it carries only constraints / generated /
        # bloom config / tombstones / txns (r12)
        cur = _require_manifest(table_path, buckets=[])
        target = version
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            target = version_as_of(table_path, as_of)
        if target is None:
            raise ValueError("restore_table needs version or as_of")
        if target not in list_versions(table_path):
            raise ValueError(
                f"cannot restore {table_path} to version {target}: that "
                "manifest was vacuumed away (or never committed); only "
                f"{list_versions(table_path)} are retained"
            )
        old = read_manifest(table_path, target)
        missing = [
            d
            for d in (
                list(old["buckets"].values())
                + [x for lst in old.get("deletes", {}).values() for x in lst]
            )
            if not os.path.isdir(os.path.join(table_path, d))
        ]
        if missing:
            raise ValueError(
                f"cannot restore {table_path} to version {target}: "
                f"{len(missing)} referenced dir(s) were vacuumed away "
                f"(e.g. {missing[0]})"
            )
        # current constraints carry forward — but one referencing a
        # column the restored schema lacks would wedge every later
        # narrow-batch commit on an unresolved-column error. Refuse
        # loudly instead of committing a poisoned table state.
        probe = spark.createDataFrame([], _data_schema(old))
        for cname, cexpr in cur.get("constraints", {}).items():
            try:
                probe.filter(F.coalesce(F.expr(cexpr), F.lit(True)))
            except Exception as exc:
                raise ValueError(
                    f"cannot restore {table_path} to version {target}: "
                    f"carried constraint {cname!r} ({cexpr}) does not "
                    "resolve against the restored schema; drop it first"
                ) from exc
        # carried generated-column rules get the same resolution probe
        for gcol, gexpr in cur.get("generated", {}).items():
            try:
                probe.select(F.expr(gexpr))
            except Exception as exc:
                raise ValueError(
                    f"cannot restore {table_path} to version {target}: "
                    f"carried generated column {gcol!r} = ({gexpr}) does "
                    "not resolve against the restored schema; drop the "
                    "rule first"
                ) from exc
        # the restored snapshot is the base: buckets, schema, mapping,
        # stats, row counts and pending deletes all carry by reference.
        # Bitmaps describe the restored DATA, but the index CONFIG is
        # table metadata and carries from current like constraints.
        # Bitmaps are only interpretable under the (m, k) they were
        # packed with — if the index was dropped and re-added with
        # different params between the two versions, probing old
        # bitmaps under the new config computes positions they never
        # set and wrongly prunes (false NEGATIVES). Keep a column's
        # bitmaps only where the carried config equals the restored
        # snapshot's; absent = unprunable = sound (r11).
        cfg = cur.get("bloom", {})
        same_cfg = {
            c for c, v in cfg.items() if old.get("bloom", {}).get(c) == v
        }
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, target),
            {
                "version": cur["version"] + 1,
                "bloom": cfg,
                # retired tombstones only ever grow — union both sides
                # so no physical name is ever reusable
                "retired_physical": sorted(
                    {
                        *old.get("retired_physical", []),
                        *cur.get("retired_physical", []),
                    }
                ),
                "generated": cur.get("generated", {}),
                "constraints": cur.get("constraints", {}),
                # writer-progress state carries from CURRENT, not the
                # restored snapshot: a restore must not trick a
                # streaming writer into re-applying committed batches
                "txns": cur.get("txns", {}),
                "operation": "restore",
                "op_metrics": {
                    "restored_version": target,
                    "buckets_written": 0,
                    "buckets_carried": len(old["buckets"]),
                },
            },
            _bloom_rows(old, same_cfg.__contains__),
        )

    return _under_lease(table_path, attempt)


def _null_filled(df: DataFrame, schema: StructType) -> DataFrame:
    """`df` plus a typed NULL column for every `schema` column it lacks:
    a missing input IS a NULL input (the written row reads NULL there)."""
    have = set(df.columns)
    for f in schema.fields:
        if f.name not in have:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df


def _first_violation(
    df: DataFrame, schema: StructType, rules: dict[str, F.Column]
) -> tuple[str, dict] | None:
    """(name of the first rule violated, the row) for some row of the
    NULL-filled `df` that violates one of `rules` ({name -> Column true
    where violated}), or None. ONE Spark action however many rules
    (r13): each take(1) is a whole driver-side job at cluster scale, so
    N rules must not cost N scans of the batch; a marker column names
    the first rule the row violates. No rules, no action."""
    if not rules:
        return None
    marker = "__violated"
    viol = F.coalesce(*[F.when(v, F.lit(n)) for n, v in rules.items()])
    bad = (
        _null_filled(df, schema)
        .withColumn(marker, viol)
        .filter(F.col(marker).isNotNull())
        .take(1)
    )
    if not bad:
        return None
    row = bad[0].asDict()
    return row.pop(marker), row


def manifest_upsert(
    spark: SparkSession,
    table_path: str,
    new_rows: DataFrame,
    keys: list[str],
    n_buckets: int | None = None,
    tombstone_col: str | None = None,
    operation: str = "upsert",
    replace: bool = False,
    txn: tuple[str, int] | None = None,
    require_version: int | None = None,
) -> int:
    """MERGE-style upsert with an atomic commit: new rows win over
    existing rows with the same key; untouched buckets carry over by
    reference. With `tombstone_col`, rows flagged true DELETE their key
    instead (the full insert/update/delete MERGE triad — a bucket
    whose rows all die simply drops out of the next manifest). Returns
    the committed version. A failure ANYWHERE before the manifest
    publish leaves the table byte-identical (the segment dir is
    unreferenced orphan data for `vacuum`).

    Table identity is VALIDATED, never silently coerced (ADVICE r4):
    `keys` must equal the manifest's recorded merge keys — a divergent
    caller would bucket-hash with the wrong columns and stale rows for
    its keys would survive in carried segments — and an explicit
    `n_buckets` that contradicts the manifest raises instead of being
    dropped (pass None to adopt the table's layout; a fresh table
    defaults to DEFAULT_BUCKETS). Schema evolution is ADDITIVE ONLY:
    a batch may add or omit columns, but changing an existing column's
    TYPE raises — old segments hold the old physical type, and a read
    under a widened schema would fail at scan time.

    `replace=True` is Delta's INSERT OVERWRITE: the commit's buckets
    come ONLY from the batch — nothing carries, prior rows (and any
    pending MoR deletes) vanish from the new version while staying
    time-travel-readable in the old ones. Table identity (keys, layout,
    running-union schema, constraints) is validated the same as an
    upsert; incompatible with `tombstone_col` (deleting from data you
    are replacing is a contradiction).

    `txn=(app_id, version)` is Delta's `txnAppId`/`txnVersion`
    idempotent-writer protocol: the pair is recorded in the manifest's
    `txns` map ATOMICALLY with the data, and a later attempt to commit
    the SAME app at a version <= the recorded one raises
    `TxnAlreadyCommittedError` — the atomic dedup a streaming sink
    needs to make epoch replays exactly-once (the committed batchId
    and its data cannot diverge, unlike any out-of-band cursor).

    `require_version` is the optimistic-concurrency precondition: the
    commit aborts with `ConcurrentWriteError` (table untouched) if the
    manifest under the lease is no longer at that version. Callers
    whose BATCH was computed from a snapshot (UPDATE/MERGE matched
    sets) pass the snapshot's version so a writer landing between
    their read and their commit can never be silently overwritten —
    write-skew becomes recompute-and-retry."""
    if replace and tombstone_col is not None:
        raise ValueError(
            "replace=True cannot be combined with tombstone_col: a "
            "replace discards every prior row already"
        )
    if tombstone_col is not None:
        live = new_rows.filter(~F.col(tombstone_col)).drop(tombstone_col)
        dead_keys = (
            new_rows.filter(F.col(tombstone_col)).select(*keys).distinct()
        )
        # all changed keys (live or dead) evict the old row; live rows
        # minus dead keys are what lands
        changed_keys = new_rows.select(*keys).distinct()
        upserts = live.dropDuplicates(keys).join(dead_keys, keys, "left_anti")
    else:
        changed_keys = new_rows.select(*keys).distinct()
        upserts = new_rows.dropDuplicates(keys)

    def attempt(token: int) -> int:
        ups = upserts
        # slim-scalar read first (zero sidecar parses on sharded
        # tables; the full inline manifest below the threshold):
        # validation, schema union, and mapping logic below are all
        # scalar. Per-bucket maps load ONLY for the touched buckets.
        mf = read_manifest(table_path, buckets=[])
        if require_version is not None:
            found = mf["version"] if mf else 0
            if found != require_version:
                raise ConcurrentWriteError(
                    f"snapshot version {require_version} is stale: "
                    f"{table_path} is at {found} — a concurrent writer "
                    "landed; recompute against the new snapshot"
                )
        if txn is not None and mf is not None:
            prev_txn = mf.get("txns", {}).get(txn[0])
            if prev_txn is not None and prev_txn >= txn[1]:
                raise TxnAlreadyCommittedError(
                    f"writer {txn[0]!r} already committed version "
                    f"{prev_txn} >= {txn[1]} to {table_path}: replayed "
                    "batch, nothing to do"
                )
        if mf is not None:
            if list(keys) != list(mf["keys"]):
                raise ValueError(
                    f"merge keys {keys} do not match the table's recorded "
                    f"keys {mf['keys']} ({table_path}): upserting with "
                    "different keys would hash rows into the wrong buckets "
                    "and leave stale rows alive in carried segments"
                )
            if n_buckets is not None and n_buckets != mf["n_buckets"]:
                raise ValueError(
                    f"n_buckets={n_buckets} contradicts the table's layout "
                    f"({mf['n_buckets']} buckets, {table_path}); pass None "
                    "to adopt the existing layout — rebucketing requires a "
                    "full rewrite (optimize_table), not an upsert"
                )
            prev_types = {
                f.name: f.dataType for f in _data_schema(mf).fields
            }
            for f in ups.schema.fields:
                if f.name in prev_types and f.dataType != prev_types[f.name]:
                    raise ValueError(
                        f"non-additive schema change for column "
                        f"{f.name!r}: table has {prev_types[f.name]}, "
                        f"batch has {f.dataType} ({table_path}); only "
                        "ADDING columns is supported — old segments hold "
                        "the old physical type and would fail at scan "
                        "time under a changed schema"
                    )
            # generated columns (Delta's GENERATED ALWAYS AS): a batch
            # that omits the column gets it COMPUTED here (before
            # constraints, which may reference it); a batch that
            # supplies it must match the expression row-for-row
            # (null-safe) or the commit rejects — a silently divergent
            # "generated" value is wrong data
            gen_rules = mf.get("generated", {})
            if gen_rules:
                # NULL-fill schema columns the narrow batch lacks so a
                # rule referencing them resolves; the batch itself
                # stays narrow except for the computed rule columns
                # (r11: a delete-only merge batch is key-only and used
                # to hit an unresolved-column error here, retried under
                # the lease before surfacing)
                out_cols = list(ups.columns)
                supplied = [g for g in gen_rules if g in out_cols]
                filled = _null_filled(ups, _data_schema(mf))
                for gcol, gexpr in gen_rules.items():
                    if gcol not in supplied:
                        filled = filled.withColumn(gcol, F.expr(gexpr))
                        out_cols.append(gcol)
                # validating after the compute loop means rules may
                # reference other generated columns too
                hit = _first_violation(
                    filled,
                    _data_schema(mf),
                    {
                        g: ~F.col(g).eqNullSafe(F.expr(gen_rules[g]))
                        for g in supplied
                    },
                )
                if hit:
                    g, row = hit
                    raise ValueError(
                        f"generated column {g!r} = "
                        f"({gen_rules[g]}) violated by the "
                        f"incoming batch, e.g. {row} "
                        f"({table_path}); omit the column to have "
                        "it computed, or supply matching values"
                    )
                ups = filled.select(*out_cols)
            # CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT):
            # the incoming LIVE rows must satisfy every recorded
            # predicate, SQL CHECK semantics (violated only when the
            # expression is FALSE; NULL passes). Violation is fatal
            # before any byte is written — the table stays untouched.
            # A narrow batch's missing columns land NULL, so they're
            # checked as NULL (not an analysis error).
            hit = _first_violation(
                ups,
                _data_schema(mf),
                {
                    cname: ~F.coalesce(F.expr(cexpr), F.lit(True))
                    for cname, cexpr in mf.get("constraints", {}).items()
                },
            )
            if hit:
                cname, row = hit
                raise ValueError(
                    f"constraint {cname!r} "
                    f"({mf['constraints'][cname]}) violated by "
                    f"the incoming batch, e.g. {row} "
                    f"({table_path}); commit rejected"
                )
        buckets_n = (
            mf["n_buckets"]
            if mf
            else (n_buckets if n_buckets is not None else DEFAULT_BUCKETS)
        )
        new_b = _with_bucket(ups, keys, buckets_n)
        prev_touched: set[str] = set()
        merged = new_b
        if mf is not None and not replace:
            touched = _bucket_ids(changed_keys, keys, buckets_n)
            # the per-bucket maps of exactly the touched ranges:
            # O(change) sidecar parses on a sharded table
            src = read_manifest(table_path, mf["version"], buckets=touched)
            prev_touched = {
                str(b) for b in touched if str(b) in src["buckets"]
            }
            # pending MoR deletes materialize into the rewrite
            existing = _read_buckets(spark, table_path, src, touched)
            if existing is not None:
                kept = existing.join(changed_keys, keys, "left_anti")
                # additive schema evolution (Delta's mergeSchema): a
                # batch may ADD columns (old rows read back NULL there)
                # or omit existing ones (landed NULL) — the manifest's
                # schema is the union, recorded at commit
                merged = _with_bucket(kept, keys, buckets_n).unionByName(
                    new_b, allowMissingColumns=True
                )
        # column mapping: everything above is LOGICAL; files hold
        # PHYSICAL names. A NEW column whose name collides with a
        # retired or in-use physical name gets a fresh physical name —
        # re-add after drop must never resurrect the old bytes still
        # sitting in carried segments.
        mapping = dict(_mapping(mf))
        retired = mf.get("retired_physical", []) if mf is not None else []
        if mf is not None and (retired or mapping):
            prev_names = {f.name for f in _data_schema(mf).fields}
            taken = set(retired) | set(mapping.values())
            for c in merged.columns:
                if c == "pk_bucket" or c in prev_names or c in mapping:
                    continue
                if c in taken:
                    fresh = f"{c}__p{mf['version'] + 1}"
                    while fresh in taken:
                        fresh += "x"
                    mapping[c] = fresh
        # cluster by bucket: each touched bucket is written by ONE task,
        # so it lands as one file (up to the row cap) instead of one per
        # upstream partition holding its rows. Rewritten buckets get
        # fresh stats, row counts and bitmaps from the new segment
        # (keyed by PHYSICAL name: they describe file contents); every
        # other bucket carries its row
        seg = _write_bucketed(
            spark,
            table_path,
            _to_physical_frame(merged, mapping).repartition("pk_bucket"),
            mf.get("bloom", {}) if mf is not None else {},
        )
        # a null key matches no row, so it could never be replaced or
        # deleted: refuse it before publish, from the footers' counts
        null_keys = [k for k in keys if seg.null_counts.get(k)]
        if null_keys:
            shutil.rmtree(seg.path, ignore_errors=True)
            raise ValueError(
                f"merge key column(s) {null_keys} hold nulls in the rows "
                f"this upsert writes ({table_path}): a null key matches "
                "no existing row, so it could never be updated or "
                "deleted; commit refused"
            )
        # the recorded schema is the RUNNING UNION (prior columns keep
        # their position; a narrow batch must not shed columns earlier
        # commits added — their segments still carry the data)
        schema = merged.drop("pk_bucket").schema
        if mf is not None:
            prev = _data_schema(mf)
            have = {f.name for f in prev.fields}
            schema = StructType(
                prev.fields + [f for f in schema.fields if f.name not in have]
            )
        if mf is None:
            base, n_live = None, 0
        elif replace:
            # nothing carries: prior rows (and pending MoR deletes)
            # vanish from the new version
            base, n_live = _scalars(mf), 0
        else:
            base = _read_slim(table_path, mf["version"])
            # live bucket count: the slim's agg (a manifest predating
            # agg counts its assembled maps)
            n_live = (
                mf.get("agg")
                or _bucket_agg(read_manifest(table_path, mf["version"]))
            )["live"]
        return _commit_manifest(
            table_path,
            token,
            base,
            {
                "version": (mf["version"] if mf else 0) + 1,
                "n_buckets": buckets_n,
                "keys": keys,
                "schema": schema.json(),
                "column_mapping": mapping,
                "txns": {
                    **(mf.get("txns", {}) if mf else {}),
                    **({txn[0]: txn[1]} if txn else {}),
                },
                "operation": operation,
                "op_metrics": {
                    "buckets_written": len(seg.rows),
                    "buckets_carried": n_live - len(prev_touched),
                    **seg.metrics,
                },
            },
            seg.rows,
            # touched buckets that existed but got no new dir were fully
            # tombstoned: drop them
            prev_touched - set(seg.rows),
        )

    return _under_lease(
        table_path,
        attempt,
        fatal=(
            WriterFencedError,
            ValueError,
            TxnAlreadyCommittedError,
            ConcurrentWriteError,
        ),
    )


#: optimistic-concurrency recompute attempts for UPDATE/MERGE before
#: giving up (every retry re-reads the snapshot, so livelock needs a
#: writer landing in EVERY window — at that contention rate the caller
#: should coordinate instead)
_OCC_MAX_ATTEMPTS = 5


def merge_into(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    when_matched_update: dict[str, F.Column] | None = None,
    matched_condition: F.Column | None = None,
    when_matched_delete: F.Column | None = None,
    insert_not_matched: bool = True,
    when_not_matched_by_source_update: dict[str, F.Column] | None = None,
    not_matched_by_source_condition: F.Column | None = None,
    when_not_matched_by_source_delete: F.Column | None = None,
) -> int:
    """Full MERGE INTO semantics (Delta's WHEN MATCHED [AND cond] THEN
    UPDATE SET ... / DELETE, WHEN NOT MATCHED THEN INSERT, WHEN NOT
    MATCHED BY SOURCE [AND cond] THEN UPDATE / DELETE), composed onto
    the same atomic commit as `manifest_upsert` — the whole merge is
    ONE commit (one version, crash-total, fenced).

    `source` joins the table on its recorded merge keys. Conditions and
    update expressions are Column exprs over the aliases `src.<col>` /
    `tgt.<col>`. Clause order matches Delta: a matched row that passes
    `when_matched_delete` is deleted; otherwise, if `matched_condition`
    holds (default: always), `when_matched_update` columns are rewritten
    (unlisted columns keep the target value); with no update dict,
    matched rows are untouched AND excluded from the write entirely.
    Unmatched source rows insert when `insert_not_matched` (additive
    schema evolution applies: new source columns widen the table,
    missing ones land NULL). Duplicate source keys collapse to one
    arbitrary winner, same as `manifest_upsert`.

    The BY SOURCE clauses act on target rows whose key appears in NO
    source row (Delta's sync-deletion shape: retire rows that left the
    feed). Their conditions/updates may reference only `tgt.<col>` —
    there is no source row to name. Delete wins over update; an update
    applies only where `not_matched_by_source_condition` holds, and
    rows matching neither clause are untouched AND excluded from the
    write (no write amplification from the clause existing).

    IO stays proportional to the touched buckets: the target side reads
    ONLY the bucket dirs the source keys hash into, and the commit
    rewrites only those buckets (everything else carries by reference).
    A BY SOURCE clause inherently widens the READ to every bucket —
    any bucket may hold unmatched target rows, the same full-scan
    Delta pays — but the commit still rewrites only buckets whose rows
    actually changed. The reference claim is the server-side MERGE
    (DESIGN.md:41), here with the full conditional-clause surface.
    Concurrency is the same optimistic protocol as `update_where`: the
    target side is pinned to a snapshot version, the commit is
    preconditioned on it, and a conflicting writer triggers
    recompute-and-retry instead of a lost update."""
    for _ in range(_OCC_MAX_ATTEMPTS):
        try:
            return _merge_into_once(
                spark,
                table_path,
                source,
                when_matched_update,
                matched_condition,
                when_matched_delete,
                insert_not_matched,
                when_not_matched_by_source_update,
                not_matched_by_source_condition,
                when_not_matched_by_source_delete,
            )
        except ConcurrentWriteError:
            continue
    raise ConcurrentWriteError(
        f"merge into {table_path} lost the commit race "
        f"{_OCC_MAX_ATTEMPTS} times; coordinate writers or retry later"
    )


def _merge_into_once(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    when_matched_update,
    matched_condition,
    when_matched_delete,
    insert_not_matched,
    when_not_matched_by_source_update=None,
    not_matched_by_source_condition=None,
    when_not_matched_by_source_delete=None,
) -> int:
    # slim scalars first (zero sidecar parses on sharded tables): the
    # clause validation and batch construction below are all scalar;
    # per-bucket maps load only for the touched buckets (r13)
    mf = _require_manifest(table_path, buckets=[])
    keys = mf["keys"]
    schema = _data_schema(mf)
    by_source = (
        when_not_matched_by_source_update is not None
        or when_not_matched_by_source_delete is not None
    )
    if by_source:
        # unmatched target rows can live in ANY bucket: the read is
        # the whole table (Delta pays the same); the commit still
        # rewrites only buckets whose rows changed
        snap = read_manifest(table_path, mf["version"])
        touched = [int(b) for b in snap["buckets"]]
    else:
        touched = _bucket_ids(
            source.select(*keys).distinct(), keys, mf["n_buckets"]
        )
        snap = read_manifest(table_path, mf["version"], buckets=touched)
    # a key with a pending MoR delete reads as NOT MATCHED (a matching
    # source row re-inserts it, never resurrects the old values)
    tgt = _read_buckets(spark, table_path, snap, touched)
    if tgt is None:
        tgt = spark.createDataFrame([], schema)
    s, t = source.alias("src"), tgt.alias("tgt")
    joined = s.join(t, on=keys, how="inner")
    data_cols = [f.name for f in schema.fields if f.name not in keys]
    # generated columns are ALWAYS engine-computed (Delta refuses
    # UPDATE SET on them): an explicit SET would either silently
    # diverge or reject the whole commit at the write edge
    gen = mf.get("generated", {})
    for gcol in gen:
        if gcol in (when_matched_update or {}) or gcol in (
            when_not_matched_by_source_update or {}
        ):
            raise ValueError(
                f"cannot SET generated column {gcol!r} = "
                f"({gen[gcol]}) in a merge clause ({table_path}): "
                "generated columns are always recomputed by the "
                "engine; drop the rule first to take manual control"
            )
    delete_cond = (
        when_matched_delete
        if when_matched_delete is not None
        else F.lit(False)
    )
    upd_cond = (
        matched_condition if matched_condition is not None else F.lit(True)
    )
    tomb = "__merge_delete"
    parts = []
    if when_matched_update:
        sel = [F.col(k) for k in keys]
        for c in data_cols:
            keep = F.col(f"tgt.{c}")
            expr = (
                F.when(upd_cond, when_matched_update[c]).otherwise(keep)
                if c in when_matched_update
                else keep
            )
            sel.append(expr.alias(c))
        parts.append(
            joined.filter(~delete_cond)
            .select(*sel)
            .withColumn(tomb, F.lit(False))
        )
    if when_matched_delete is not None:
        parts.append(
            joined.filter(delete_cond)
            .select(*keys)
            .withColumn(tomb, F.lit(True))
        )
    if insert_not_matched:
        ins = s.join(t, on=keys, how="left_anti")
        # insert rows whose SOURCE explicitly supplied a generated
        # column must match the rule row-for-row (null-safe) — the
        # write edge's contract, which the batch-wide recompute below
        # would otherwise silently overwrite for exactly these rows
        # (ADVICE r11; Delta likewise errors on a violating explicit
        # value). Inputs the source lacks validate as NULL, same as
        # the write edge.
        hit = _first_violation(
            ins,
            schema,
            {
                gcol: ~F.col(gcol).eqNullSafe(F.expr(gexpr))
                for gcol, gexpr in gen.items()
                if gcol in ins.columns
            },
        )
        if hit:
            gcol, row = hit
            raise ValueError(
                f"generated column {gcol!r} = ({gen[gcol]}) "
                f"violated by a merge insert row, e.g. "
                f"{row} ({table_path}); omit the "
                "column to have it computed, or supply matching "
                "values"
            )
        parts.append(ins.withColumn(tomb, F.lit(False)))
    if by_source:
        # target rows with NO source row for their key; conditions and
        # updates reference tgt.<col> only (there is no src row). The
        # re-alias matters: the anti-join output keeps the tgt lineage.
        nms = t.join(
            s.select(*keys).distinct(), on=keys, how="left_anti"
        ).alias("tgt")
        nms_del = (
            when_not_matched_by_source_delete
            if when_not_matched_by_source_delete is not None
            else F.lit(False)
        )
        nms_upd_cond = (
            not_matched_by_source_condition
            if not_matched_by_source_condition is not None
            else F.lit(True)
        )
        if when_not_matched_by_source_delete is not None:
            parts.append(
                nms.filter(nms_del)
                .select(*keys)
                .withColumn(tomb, F.lit(True))
            )
        if when_not_matched_by_source_update:
            # only rows the condition selects enter the batch: rows it
            # leaves alone carry by reference instead of rewriting
            sel = [F.col(k) for k in keys]
            for c in data_cols:
                expr = (
                    when_not_matched_by_source_update[c]
                    if c in when_not_matched_by_source_update
                    else F.col(f"tgt.{c}")
                )
                sel.append(expr.alias(c))
            parts.append(
                nms.filter(~nms_del & nms_upd_cond)
                .select(*sel)
                .withColumn(tomb, F.lit(False))
            )
    if not parts:
        return mf["version"]  # no clause touches anything: true no-op
    batch = parts[0]
    for p in parts[1:]:
        batch = batch.unionByName(p, allowMissingColumns=True)
    # Recompute generated columns over the merged batch (r11,
    # mirroring update_where): the update branch carries the TARGET's
    # stale value while the clause may change its inputs, and insert
    # rows from a narrow source get NULL-filled by the union — either
    # way the write-edge row-for-row validation would reject the whole
    # commit. Recomputing from the batch's own columns restores the
    # invariant (tombstone rows are dropped before validation, so
    # whatever the expression yields on their NULLs is irrelevant).
    for gcol, gexpr in gen.items():
        if gcol not in batch.columns:
            continue  # write edge computes it for the whole batch
        try:
            batch = batch.withColumn(gcol, F.expr(gexpr))
        except AnalysisException:
            # an input column is absent from every part (source
            # supplied the generated value directly): leave it for
            # the write edge's validation. ONLY the missing-input
            # analysis error is expected here — anything else must
            # surface now, not as a confusing write-edge rejection
            # later (ADVICE r11).
            pass
    return manifest_upsert(
        spark,
        table_path,
        batch,
        keys,
        tombstone_col=tomb,
        operation="merge",
        require_version=mf["version"],
    )


def add_table_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """Record a CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT):
    `expr` is a SQL boolean over the table's columns. EXISTING data is
    validated first (one scan — a constraint the table already violates
    is rejected, Delta's rule), then a metadata-only commit records it;
    every later upsert/merge batch is checked before any byte lands.
    SQL CHECK semantics: only FALSE violates, NULL passes (pair with an
    explicit `col IS NOT NULL` constraint for NOT NULL)."""

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path, buckets=[])  # scalars suffice
        if name in mf.get("constraints", {}):
            raise ValueError(
                f"constraint {name!r} already exists on {table_path} "
                f"({mf['constraints'][name]}); drop it first"
            )
        bad = (
            read_manifest_table(spark, table_path)
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .take(1)
        )
        if bad:
            raise ValueError(
                f"cannot add constraint {name!r} ({expr}): existing row "
                f"violates it, e.g. {bad[0].asDict()} ({table_path})"
            )
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, mf["version"]),
            {
                "version": mf["version"] + 1,
                "constraints": {**mf.get("constraints", {}), name: expr},
                "operation": "add-constraint",
                "op_metrics": {"constraint": name, "expr": expr},
            },
        )

    return _under_lease(table_path, attempt)


def drop_table_constraint(
    spark: SparkSession, table_path: str, name: str
) -> int:
    """Metadata-only commit removing a recorded constraint."""

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path, buckets=[])  # scalars suffice
        cons = dict(mf.get("constraints", {}))
        if name not in cons:
            raise ValueError(
                f"no constraint {name!r} on {table_path} "
                f"(have: {sorted(cons)})"
            )
        dropped = cons.pop(name)
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, mf["version"]),
            {
                "version": mf["version"] + 1,
                "constraints": cons,
                "operation": "drop-constraint",
                "op_metrics": {"constraint": name, "expr": dropped},
            },
        )

    return _under_lease(table_path, attempt)


def add_bloom_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    m: int = _bloom.DEFAULT_M,
    k: int = _bloom.DEFAULT_K,
) -> int:
    """Record a bloom index on `column` and BACKFILL bitmaps for every
    current bucket (Delta's `CREATE BLOOMFILTER INDEX`, which only
    covers future files — the manifest's per-bucket dirs make the
    backfill one bounded job: group the current bucket dirs by segment
    root, read each root once, one position-agg over the union). Later
    commits maintain the bitmaps bucket-wise exactly like stats: fresh
    for rewritten buckets, carried by reference for untouched ones.

    `m`: bitmap size in bits (multiple of 8) — size for the expected
    DISTINCT values per bucket (~m/10 at 1% fpr with k=3). `k`: seeded
    hash count. Raises on non-bloomable column types (the driver-side
    probe replays keyhash.py's xxhash64, which covers ints/longs/
    strings)."""
    if m <= 0 or m % 8:
        raise ValueError(f"bloom m must be a positive multiple of 8: {m}")
    if k <= 0:
        raise ValueError(f"bloom k must be positive: {k}")

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path)
        cfg = dict(mf.get("bloom", {}))
        if column in cfg:
            raise ValueError(
                f"bloom index on {column!r} already exists on "
                f"{table_path} (m={cfg[column][0]}, k={cfg[column][1]}); "
                "drop it first"
            )
        schema = _data_schema(mf)
        tmap = _type_names(schema)
        if column not in tmap:
            raise ValueError(
                f"no column {column!r} on {table_path} "
                f"(have: {sorted(tmap)})"
            )
        if not _bloom.bloom_supported(tmap[column]):
            raise ValueError(
                f"bloom index needs an int/bigint/string column; "
                f"{column!r} is {tmap[column]}"
            )
        # config keys by PHYSICAL name, like stats: bitmaps describe
        # file contents and must survive a later logical rename
        pcol = _physical_name(mf, column)
        if pcol in cfg:
            raise ValueError(
                f"bloom index on {column!r} already exists on "
                f"{table_path}; drop it first"
            )
        cfg[pcol] = [m, k]
        # backfill: one read per distinct segment root (basePath keeps
        # the pk_bucket partition column), one position-agg over the
        # union — IO bounded by the single column's bytes
        by_root: dict[str, list[str]] = {}
        for d in mf["buckets"].values():
            dir_abs = os.path.join(table_path, d)
            by_root.setdefault(os.path.dirname(dir_abs), []).append(
                dir_abs
            )
        changed: dict[str, dict] = {}
        # explicit schema, not inference: segments written before the
        # column existed (additive evolution) — or carried buckets
        # whose files only hold a retired physical name — lack pcol
        # entirely; an inferred-schema select would raise. The
        # explicit schema NULL-fills it, and NULL sets no bits
        # (missing column = all NULL = no bits — sound) (r11)
        from pyspark.sql.types import IntegerType, StructField

        ptype = next(
            f.dataType for f in schema.fields if f.name == column
        )
        read_schema = StructType(
            [
                StructField(pcol, ptype, True),
                StructField("pk_bucket", IntegerType(), False),
            ]
        )
        frames = [
            spark.read.option("basePath", root)
            .schema(read_schema)
            .parquet(*dirs)
            for root, dirs in sorted(by_root.items())
        ]
        if frames:
            seg = frames[0]
            for f in frames[1:]:
                seg = seg.unionByName(f)
            for b, cols in _bloom.collect_bloom_stats(
                seg, {pcol: [m, k]}
            ).items():
                row = _row(mf, b)
                row["blooms"] = {**row.get("blooms", {}), **cols}
                changed[b] = row
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, mf["version"]),
            {
                "version": mf["version"] + 1,
                "bloom": cfg,
                "operation": "add-bloom-index",
                "op_metrics": {"column": column, "m": m, "k": k},
            },
            changed,
        )

    # AnalysisException is a plan bug, not a transient fault: retrying
    # the backfill under the lease only delays the surface (r11)
    return _under_lease(
        table_path, attempt, fatal=(*_FATAL, AnalysisException)
    )


def drop_bloom_index(
    spark: SparkSession, table_path: str, column: str
) -> int:
    """Metadata-only commit removing a bloom index and its bitmaps."""

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path)
        cfg = dict(mf.get("bloom", {}))
        pcol = _physical_name(mf, column)
        if pcol not in cfg:
            raise ValueError(
                f"no bloom index on {column!r} on {table_path} "
                f"(have: {sorted(cfg)})"
            )
        dropped = cfg.pop(pcol)
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, mf["version"]),
            {
                "version": mf["version"] + 1,
                "bloom": cfg,
                "operation": "drop-bloom-index",
                "op_metrics": {
                    "column": column,
                    "m": dropped[0],
                    "k": dropped[1],
                },
            },
            _bloom_rows(mf, lambda c: c != pcol),
        )

    return _under_lease(table_path, attempt)


def add_generated_column(
    spark: SparkSession, table_path: str, column: str, expr: str
) -> int:
    """Record a GENERATED ALWAYS AS rule (Delta's generated columns):
    every later batch that omits `column` gets it computed from `expr`
    at the write edge; a batch that supplies it must match row-for-row
    (null-safe) or the commit rejects. Unlike Delta (creation-time
    only), the rule can be added to a live table — the column must
    already exist and EVERY existing row must satisfy the expression
    (same stance as add_table_constraint), so readers never see a
    mixed generated/divergent history. Merge keys refuse (batches must
    supply their keys — bucket planning runs before generation)."""

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path, buckets=[])  # scalars suffice
        gen = dict(mf.get("generated", {}))
        if column in gen:
            raise ValueError(
                f"generated rule for {column!r} already exists on "
                f"{table_path} ({gen[column]}); drop it first"
            )
        names = [f.name for f in _data_schema(mf).fields]
        if column not in names:
            raise ValueError(
                f"no column {column!r} on {table_path} (have: "
                f"{sorted(names)}); upsert a batch carrying the "
                "computed column first, then add the rule"
            )
        if column in mf["keys"]:
            raise ValueError(
                f"cannot generate merge key column {column!r} "
                f"({table_path}): batches must supply their keys"
            )
        bad = (
            read_manifest_table(spark, table_path)
            .filter(~F.col(column).eqNullSafe(F.expr(expr)))
            .take(1)
        )
        if bad:
            raise ValueError(
                f"cannot add generated rule {column!r} = ({expr}): "
                f"existing row violates it, e.g. {bad[0].asDict()} "
                f"({table_path})"
            )
        gen[column] = expr
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, mf["version"]),
            {
                "version": mf["version"] + 1,
                "generated": gen,
                "operation": "add-generated-column",
                "op_metrics": {"column": column, "expr": expr},
            },
        )

    return _under_lease(table_path, attempt)


def drop_generated_column(
    spark: SparkSession, table_path: str, column: str
) -> int:
    """Metadata-only commit removing a generated-column rule (the
    column itself stays, as plain data)."""

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path, buckets=[])  # scalars suffice
        gen = dict(mf.get("generated", {}))
        if column not in gen:
            raise ValueError(
                f"no generated rule for {column!r} on {table_path} "
                f"(have: {sorted(gen)})"
            )
        dropped = gen.pop(column)
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, mf["version"]),
            {
                "version": mf["version"] + 1,
                "generated": gen,
                "operation": "drop-generated-column",
                "op_metrics": {"column": column, "expr": dropped},
            },
        )

    return _under_lease(table_path, attempt)


def _data_schema(manifest: dict) -> StructType:
    return StructType.fromJson(json.loads(manifest["schema"]))


# ---------------------------------------------------------------------------
# column mapping (Delta's RENAME/DROP COLUMN without rewrite): data
# files ALWAYS hold PHYSICAL column names; the manifest's `schema` holds
# LOGICAL (user-facing) names plus `column_mapping` {logical: physical}
# for the renamed ones (identity entries are omitted). Dropped columns
# leave their bytes in place (`retired_physical` tombstones the name so
# a re-added column gets a FRESH physical name and old bytes can never
# resurrect); the next full rewrite (optimize) purges the dropped bytes
# but PRESERVES live columns' physical names (stable field identity,
# like Delta REORG keeping field IDs) — CDF and table_changes align
# old/new sides by physical identity, so a rewrite between two CDF span
# endpoints must never re-key a renamed column. Stats / file_stats / bloom config
# are keyed by PHYSICAL name (they describe file contents); skip
# conjuncts arrive logical and translate at the consult site.
# ---------------------------------------------------------------------------


def _mapping(mf: dict | None) -> dict[str, str]:
    """logical -> physical for renamed columns ({} = fully identity)."""
    return mf.get("column_mapping", {}) if mf else {}


def _physical_name(mf: dict | None, col: str) -> str:
    return _mapping(mf).get(col, col)


def _physical_schema(mf: dict) -> StructType:
    """The manifest's logical schema with physical field names, same
    field order — what `spark.read.schema(...)` must use against the
    table's data files."""
    from pyspark.sql.types import StructField

    m = _mapping(mf)
    if not m:
        return _data_schema(mf)
    return StructType(
        [
            StructField(m.get(f.name, f.name), f.dataType, f.nullable)
            for f in _data_schema(mf).fields
        ]
    )


def _skip_physical(mf: dict, skip: list[tuple]) -> list[tuple]:
    """Skip conjuncts with column names translated logical -> physical
    (stats and bloom config key by physical name)."""
    m = _mapping(mf)
    if not m:
        return skip
    return [(m.get(c, c), op, v) for c, op, v in skip]


#: File-listing strategy for multi-dir manifest reads (guide §6: manifest
#: formats exist to avoid expensive listing). Spark launches a DISTRIBUTED
#: listing job when more than spark.sql.sources.parallelPartitionDiscovery
#: .threshold paths are passed (default 32); that job's fixed task
#: round-trip (~0.6 s measured on this box for a 256-bucket read — the
#: whole steady cost of the sidecar metadata probes was plan-side listing)
#: dwarfs local-FS getFileStatus (~µs each), so for file:// tables the
#: driver lists even a many-bucket table faster than one task launch.
#: Object-store tables (s3a://, abfs://, hdfs://) keep Spark's default:
#: per-path latency there is ~10 ms and the parallel job wins. Override
#: either way with SPARK_GRAFT_LIST_THRESHOLD.
_LIST_THRESHOLD_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _listing_threshold(paths: list[str]) -> int | None:
    env = os.environ.get("SPARK_GRAFT_LIST_THRESHOLD")
    if env:
        return int(env)
    if all("://" not in p or p.startswith("file:") for p in paths):
        return 1 << 30
    return None  # remote FS: keep the session default


def _read_parquet_paths(spark: SparkSession, schema, paths: list[str]) -> DataFrame:
    """spark.read.parquet over many paths, with the listing strategy
    matched to the paths' filesystem. The InMemoryFileIndex lists
    eagerly inside load(), so the conf is restored as soon as the
    DataFrame exists — later reads see the session value unchanged.

    NOT safe for concurrent planners on one SparkSession (ADVICE r13):
    the override window mutates the session-global threshold, so a
    concurrent reader planning in that window would use OUR listing
    strategy. Every in-repo caller (bench, verify, the registered
    queries) plans single-threaded; a multi-tenant session would need a
    lock around plan construction or a per-read threshold mechanism."""
    thr = _listing_threshold(paths)
    # short-circuit on the effective threshold, not the literal default:
    # an env override BELOW 32 must be able to force distributed listing
    # for small path sets too ("override either way", ADVICE r13)
    if thr is None or len(paths) <= min(thr, 32):
        return spark.read.schema(schema).parquet(*paths)
    try:
        prev = spark.conf.get(_LIST_THRESHOLD_KEY)
    except Exception:
        prev = None
    spark.conf.set(_LIST_THRESHOLD_KEY, str(thr))
    try:
        return spark.read.schema(schema).parquet(*paths)
    finally:
        if prev is None:
            spark.conf.unset(_LIST_THRESHOLD_KEY)
        else:
            spark.conf.set(_LIST_THRESHOLD_KEY, prev)


def _read_segments(spark: SparkSession, mf: dict, paths: list[str]) -> DataFrame:
    """Segment data files -> a LOGICAL-named DataFrame: read with the
    physical schema (files written before an additive evolution lack
    later columns and read NULL; retired physical columns are simply
    not selected), then rename positionally to logical."""
    logical = _data_schema(mf)
    if not _mapping(mf):
        return _read_parquet_paths(spark, logical, paths)
    phys = _physical_schema(mf)
    return _read_parquet_paths(spark, phys, paths).toDF(
        *[f.name for f in logical.fields]
    )


def _to_physical_frame(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename a logical-named frame's mapped columns to physical before
    a segment write (extra columns like pk_bucket pass through)."""
    renames = {c: mapping[c] for c in df.columns if c in mapping}
    if not renames:
        return df
    return df.select(
        *[
            F.col(c).alias(renames[c]) if c in renames else F.col(c)
            for c in df.columns
        ]
    )


def rename_column(
    spark: SparkSession, table_path: str, old: str, new: str
) -> int:
    """ALTER TABLE RENAME COLUMN — metadata-only (Delta's column
    mapping): zero data bytes move, the manifest records the new
    logical name against the stable physical one. Restrictions (each
    raises): merge keys (a rename would desynchronize delete-file and
    lookup plumbing — Delta under 'name' mapping restricts partition
    columns the same way), columns referenced by a CHECK constraint
    (drop the constraint first; rewriting user SQL is guesswork), and
    collisions with an existing logical name."""
    import re as _re

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path, buckets=[])  # scalars suffice
        schema = _data_schema(mf)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(
                f"no column {old!r} on {table_path} (have: {sorted(names)})"
            )
        if new in names:
            raise ValueError(
                f"column {new!r} already exists on {table_path}"
            )
        if old in mf["keys"]:
            raise ValueError(
                f"cannot rename merge key column {old!r} ({table_path})"
            )
        for cname, cexpr in mf.get("constraints", {}).items():
            if _re.search(rf"\b{_re.escape(old)}\b", cexpr):
                raise ValueError(
                    f"cannot rename {old!r}: constraint {cname!r} "
                    f"({cexpr}) references it — drop the constraint "
                    "first, re-add it against the new name"
                )
        for gcol, gexpr in mf.get("generated", {}).items():
            if gcol == old or _re.search(
                rf"\b{_re.escape(old)}\b", gexpr
            ):
                raise ValueError(
                    f"cannot rename {old!r}: generated column "
                    f"{gcol!r} = ({gexpr}) depends on it — drop the "
                    "rule first, re-add it against the new name"
                )
        mapping = dict(_mapping(mf))
        phys = mapping.pop(old, old)
        if phys != new:
            mapping[new] = phys
        new_schema = StructType(
            [
                f if f.name != old else type(f)(new, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, mf["version"]),
            {
                "version": mf["version"] + 1,
                "schema": new_schema.json(),
                "column_mapping": mapping,
                "operation": "rename-column",
                "op_metrics": {"column": old, "to": new, "physical": phys},
            },
        )

    return _under_lease(table_path, attempt)


def drop_column(spark: SparkSession, table_path: str, col: str) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only: the column vanishes
    from every read surface immediately; its bytes stay in place until
    the next `optimize_table` purges them (Delta's DROP COLUMN +
    REORG ... APPLY (PURGE)). The physical name is tombstoned so a
    later re-add gets a fresh physical name — old bytes can never
    resurrect into the new column. Same restrictions as rename: merge
    keys and constraint-referenced columns refuse."""
    import re as _re

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path)
        schema = _data_schema(mf)
        names = [f.name for f in schema.fields]
        if col not in names:
            raise ValueError(
                f"no column {col!r} on {table_path} (have: {sorted(names)})"
            )
        if col in mf["keys"]:
            raise ValueError(
                f"cannot drop merge key column {col!r} ({table_path})"
            )
        for cname, cexpr in mf.get("constraints", {}).items():
            if _re.search(rf"\b{_re.escape(col)}\b", cexpr):
                raise ValueError(
                    f"cannot drop {col!r}: constraint {cname!r} "
                    f"({cexpr}) references it — drop the constraint first"
                )
        for gcol, gexpr in mf.get("generated", {}).items():
            if gcol == col or _re.search(
                rf"\b{_re.escape(col)}\b", gexpr
            ):
                raise ValueError(
                    f"cannot drop {col!r}: generated column {gcol!r} = "
                    f"({gexpr}) depends on it — drop the rule first"
                )
        mapping = dict(_mapping(mf))
        phys = mapping.pop(col, col)
        retired = list(mf.get("retired_physical", []))
        if phys not in retired:
            retired.append(phys)
        new_schema = StructType(
            [f for f in schema.fields if f.name != col]
        )
        # the dropped column's bloom index (keyed physical) goes with it
        bloom_cfg = {
            c: v for c, v in mf.get("bloom", {}).items() if c != phys
        }
        return _commit_manifest(
            table_path,
            token,
            _read_slim(table_path, mf["version"]),
            {
                "version": mf["version"] + 1,
                "schema": new_schema.json(),
                "column_mapping": mapping,
                "retired_physical": retired,
                "bloom": bloom_cfg,
                "operation": "drop-column",
                "op_metrics": {"column": col, "physical": phys},
            },
            _bloom_rows(mf, lambda c: c != phys),
        )

    return _under_lease(table_path, attempt)


def version_as_of(table_path: str, ts) -> int:
    """The newest committed version whose `committed_at` is <= `ts`
    (Delta's TIMESTAMP AS OF). A naive datetime is taken as UTC —
    commit stamps are recorded tz-aware UTC. Raises if the table has no
    commit at or before `ts` (or only pre-`committed_at` manifests from
    older format versions, which carry no stamp to compare)."""
    if isinstance(ts, _dt.datetime) and ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    best = None
    for v in list_versions(table_path):
        # committed_at is a slim scalar: zero sidecar parses (r12)
        stamp = (
            read_manifest(table_path, v, buckets=[]) or {}
        ).get("committed_at")
        if stamp is None:
            continue
        if _dt.datetime.fromisoformat(stamp) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no commit at or before {ts.isoformat()} under {table_path}"
        )
    return best


def read_manifest_table(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    skip: list[tuple] | None = None,
    as_of=None,
) -> DataFrame:
    """Snapshot-isolated read of the table at `version` (default:
    latest). The returned plan references exactly the segment dirs that
    manifest pinned — a commit landing mid-query cannot tear the read,
    and old versions stay readable until `vacuum` (time travel, by
    version number or by `as_of` timestamp).

    `skip`: optional list of `(column, op, value)` conjuncts (ops:
    `SKIP_OPS`). Bucket dirs whose recorded [min, max, null_count]
    stats PROVE no row can match are never opened (metadata skipping;
    check `df.inputFiles()` — pinned by test_manifest.py), and the
    predicate is ALSO applied as a real filter on the surviving dirs,
    so results are exact even where stats are absent."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = version_as_of(table_path, as_of)
    mf = _require_manifest(table_path, version)
    schema = _data_schema(mf)
    items = mf["buckets"].items()
    skip_p = _skip_physical(mf, skip) if skip else skip
    if skip:
        stats = mf.get("stats", {})
        tmap = _type_names(_physical_schema(mf))
        items = [
            (b, d)
            for b, d in items
            if _bucket_may_match(stats.get(b, {}), skip_p)
            and _bloom.bloom_may_match(mf, b, skip_p, tmap)
        ]
    # two pruning granularities: whole bucket dirs via per-bucket stats
    # (above), then individual FILES inside clustered dirs via per-file
    # stats — the piece that makes non-key predicates prunable at all
    # (hash-bucketing spreads every non-key range into every bucket)
    fstats = mf.get("file_stats", {}) if skip else {}
    paths = []
    for b, d in items:
        per_file = fstats.get(b)
        if per_file:
            paths.extend(
                os.path.join(table_path, d, fn)
                for fn, cs in per_file.items()
                if _bucket_may_match(cs, skip_p)
            )  # empty => every file in the dir is provably non-matching
        else:
            paths.append(os.path.join(table_path, d))
    if not paths:  # every row deleted/pruned/never written: empty frame
        return spark.createDataFrame([], schema)
    df = _read_segments(spark, mf, paths)
    if skip:
        df = df.filter(skip_filter_expr(skip))
    # pending merge-on-read deletes of the SURVIVING buckets anti-join
    # out (a pruned bucket's rows never loaded — its deletes are moot)
    return _apply_deletes(spark, df, table_path, mf, [b for b, _ in items])


def _key_frame(
    spark: SparkSession, rows: list[tuple], key_schema: StructType
) -> DataFrame:
    """The lookup's requested keys (int/long/string, already checked by
    `keyhash.check_value`) as a frame built from an Arrow table. It
    plans as a LocalTableScan and runs in the JVM alone, where
    `createDataFrame(rows)` would be an ExistingRDD scan of a PythonRDD
    that runs a Python-worker stage in every execution of the lookup."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(key_schema)
    return spark.createDataFrame(
        pa.Table.from_pylist(
            [dict(zip(key_schema.names, r)) for r in rows],
            # every key may be requested as null (which matches nothing)
            schema=pa.schema([f.with_nullable(True) for f in schema]),
        )
    )


def read_manifest_lookup(
    spark: SparkSession,
    table_path: str,
    key_values: dict | list[dict],
    version: int | None = None,
) -> DataFrame:
    """Point lookup by merge key(s): hash the requested key values with
    the table's own bucketing function, open ONLY the matching bucket
    dirs (further narrowed by key-column stats), and semi-join the
    requested keys. IO is proportional to the buckets the keys hash
    into, never the table — the manifest-table form of the reference's
    per-city read-back (categorize-trail-conditions/src/client.py:31-56,
    which never scans other cities)."""
    from .keyhash import bucket_of, check_value, supported_types

    # two-phase metadata read (r11): the slim scalars plan the target
    # buckets, then only the COVERING sidecar ranges resolve — a point
    # probe on a sharded 800k-bucket table parses O(keys) metadata,
    # not O(n_buckets). Inline tables assemble fully either way.
    mf = _require_manifest(table_path, version, buckets=[])
    version = mf["version"]  # pin: the covering re-read below must
    # resolve the SAME snapshot even if a commit lands in between
    keys = mf["keys"]
    schema = _data_schema(mf)
    if isinstance(key_values, dict):
        key_values = [key_values]
    fields = {f.name: f for f in schema.fields}
    key_schema = StructType([fields[k] for k in keys])
    # numpy scalars (np.int64 out of a pandas frame) hash bit-identically
    # but createDataFrame rejects them — unwrap to Python scalars first
    rows = [
        tuple(
            (v.item() if hasattr(v, "item") else v)
            for v in (kv[k] for k in keys)
        )
        for kv in key_values
    ]
    type_names = [fields[k].dataType.simpleString() for k in keys]
    if supported_types(type_names):
        # bucket planning is driver-side arithmetic (sinks/keyhash.py
        # replicates Spark's xxhash64 bit-for-bit): a point lookup pays
        # ZERO Spark jobs before the pruned read itself. Values are
        # type-checked first — _hash_int masks to 32 bits, so an
        # out-of-range/bool/mistyped key would otherwise SILENTLY plan
        # a wrong bucket and return an empty result where the engine
        # path raises at createDataFrame time (ADVICE r7).
        for r in rows:
            for v, t, k in zip(r, type_names, keys):
                check_value(v, t, k)
        lookup = _key_frame(spark, rows, key_schema)
        bucket_ids = sorted(
            {bucket_of(r, type_names, mf["n_buckets"]) for r in rows}
        )
    else:  # exotic key type: plan with the engine's own hash
        lookup = spark.createDataFrame(rows, key_schema)
        # bounded by the number of requested keys
        bucket_ids = sorted(_bucket_ids(lookup, keys, mf["n_buckets"]))
    mf = read_manifest(table_path, version, buckets=bucket_ids)
    stats = mf.get("stats", {})
    fstats = mf.get("file_stats", {})
    skip = [
        (k, "in", sorted({kv[k] for kv in key_values if kv[k] is not None}))
        for k in keys
    ]
    paths = []
    tmap = _type_names(schema)
    for b in bucket_ids:
        bs = str(b)
        if bs not in mf["buckets"]:
            continue
        if not _bucket_may_match(stats.get(bs, {}), skip):
            continue
        if not _bloom.bloom_may_match(mf, bs, skip, tmap):
            continue
        d = mf["buckets"][bs]
        per_file = fstats.get(bs)
        if per_file:
            # a table clustered on its merge keys gets point lookups
            # narrowed past the dir to the file(s) whose key range
            # covers the requested values
            paths.extend(
                os.path.join(table_path, d, fn)
                for fn, cs in per_file.items()
                if _bucket_may_match(cs, skip)
            )
        else:
            paths.append(os.path.join(table_path, d))
    if not paths:
        return spark.createDataFrame([], schema)
    # key columns are never renamable, so the key-only `skip` above
    # needs no logical->physical translation; the full-width read does
    df = _read_segments(spark, mf, paths)
    df = df.join(F.broadcast(lookup), keys, "left_semi")
    # a key with a pending MoR delete must look up as absent
    return _apply_deletes(spark, df, table_path, mf, bucket_ids)


def manifest_row_count(
    table_path: str, version: int | None = None
) -> int | None:
    """Exact COUNT(*) from metadata alone — zero data files opened
    (the Iceberg/Delta metadata-count shortcut). Per-bucket row counts
    are read from the written files' footers at every commit and carry
    by reference with their buckets. Returns None when any referenced
    bucket lacks a count (a bucket written by an older format version
    that recorded none): an honest "must scan", never a wrong number.
    Pending merge-on-read deletes subtract by their recorded
    per-bucket key counts — exact because `delete_where` matches
    against the current snapshot, so a key is counted in at most one
    delete file."""
    # slim-first (r11): publish stamps the precomputed exact count
    # into the slim manifest, so a sharded table's COUNT parses zero
    # sidecars. Pre-r11 manifests fall through to the assembled maps.
    mf = _require_manifest(table_path, version, buckets=[])
    if "total_rows" in mf:
        return mf["total_rows"]
    # pin the RESOLVED version before the full fallback read (ADVICE
    # r11, mirroring read_manifest_lookup): with version=None and a
    # concurrent commit landing between the two reads, the fallback
    # would otherwise count a different snapshot than the one whose
    # missing total_rows sent us here
    mf = read_manifest(table_path, mf["version"])
    counts = mf.get("row_counts", {})
    if any(b not in counts for b in mf["buckets"]):
        return None
    dels = mf.get("deletes", {})
    dcnt = mf.get("delete_counts", {})
    if any(b not in dcnt for b in dels):
        return None
    return sum(counts[b] for b in mf["buckets"]) - sum(
        dcnt[b] for b in dels
    )


def describe_history(spark: SparkSession, table_path: str) -> DataFrame:
    """Commit log as a DataFrame (Delta's DESCRIBE HISTORY): one row per
    still-retained manifest version — operation, commit timestamp,
    bucket layout (`n_buckets`, so a sized stream sink and every later
    rescale show), buckets written/carried, rows/data files/bytes
    written, table row count at that version. Vacuumed-away versions
    drop out; pre-metadata manifests surface with null
    operation/timestamp rather than being hidden."""
    rows = []
    for v in list_versions(table_path):
        # slim scalars only (r12): operation / timestamp / metrics /
        # total_rows all ride the slim manifest, so history on a
        # sharded table parses ZERO sidecars however many versions it
        # lists (manifest_row_count below is slim-first too)
        mf = read_manifest(table_path, v, buckets=[])
        if mf is None:
            continue
        met = mf.get("op_metrics", {})
        stamp = mf.get("committed_at")
        rows.append(
            (
                v,
                mf.get("operation"),
                _dt.datetime.fromisoformat(stamp) if stamp else None,
                mf.get("n_buckets"),
                met.get("buckets_written"),
                met.get("buckets_carried"),
                met.get("rows_written"),
                met.get("files_written"),
                met.get("bytes_written"),
                manifest_row_count(table_path, v),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, operation string, committed_at timestamp, "
        "n_buckets int, buckets_written int, buckets_carried int, "
        "rows_written long, files_written int, bytes_written long, "
        "table_rows long",
    )


def _bucket_files(table_path: str, mf: dict) -> dict[str, tuple[int, int]]:
    """{bucket -> (data files, bytes)} of the snapshot's bucket dirs, in
    manifest order: one listing per dir, no data read. A dir or file
    that cannot be listed (swept by a concurrent optimize/vacuum)
    counts as empty."""
    out = {}
    for b, d in mf["buckets"].items():
        n = size = 0
        try:
            with os.scandir(os.path.join(table_path, d)) as entries:
                for e in entries:
                    if e.name.endswith(".parquet"):
                        n += 1
                        try:
                            size += e.stat().st_size
                        except OSError:
                            pass
        except OSError:
            pass
        out[b] = (n, size)
    return out


def _z_value(
    current: DataFrame, types: dict, cluster_by: list[str]
) -> F.Column:
    """The clustering value of a row: one column sorts directly; 2+
    columns are linearly quantized to 16 bits each against the frame's
    global [min, max] (one small agg job), then Morton-interleaved.
    Skewed data just yields uneven bin occupancy — file SIZES stay
    balanced because the range partitioner samples the composite key."""
    if len(cluster_by) == 1:
        return _orderable_double(cluster_by[0], types[cluster_by[0]])
    longs = {c: _orderable_double(c, types[c]) for c in cluster_by}
    bounds = current.agg(
        *[
            f
            for c in cluster_by
            for f in (
                F.min(longs[c]).alias(f"__mn_{c}"),
                F.max(longs[c]).alias(f"__mx_{c}"),
            )
        ]
    ).collect()[0]
    bins = []
    for c in cluster_by:
        mn = bounds[f"__mn_{c}"]
        mx = bounds[f"__mx_{c}"]
        if mn is None or mx is None or not mx > mn:
            bins.append(F.lit(0).cast("long"))
            continue
        step = (float(mx) - float(mn)) / 65535.0
        bins.append(
            F.least(
                F.lit(65535),
                F.greatest(
                    F.lit(0),
                    F.floor((longs[c] - F.lit(float(mn))) / F.lit(step)),
                ),
            ).cast("long")
        )
    return _z_interleave(bins)


def _rewrite_buckets(
    spark: SparkSession,
    table_path: str,
    token: int,
    mf: dict,
    targets: set[str],
    n_buckets: int,
    operation: str,
    op_metrics: dict,
    cluster_by: list[str] | None = None,
    files_per_bucket: int = 1,
) -> int:
    """THE bucket rewrite (`optimize_table` targets every bucket,
    `compact_buckets` some): read the `targets` buckets of the
    assembled snapshot `mf`, materialize their pending MoR deletes,
    hash their rows into a layout of `n_buckets` buckets, write one
    segment and commit it as `operation` with `op_metrics` added to the
    written metrics. Returns the new version.

    Each output bucket is written by one task: one file (up to the row
    cap), or with `cluster_by` ~`files_per_bucket` range-partitioned
    files with per-file stats (see `optimize_table`). What the commit
    keeps follows from the targets: every other bucket carries by
    reference (a layout change must therefore target every bucket), a
    target that writes no row drops out, and only a rewrite that
    carries nothing starts from the table's scalars and clears
    `retired_physical` — the rewrite reads live logical columns only,
    so a dropped column's bytes survive just in carried buckets."""
    current = _read_buckets(spark, table_path, mf, sorted(targets, key=int))
    if current is None:
        current = spark.createDataFrame([], _data_schema(mf))
    bucketed = _with_bucket(current, mf["keys"], n_buckets)
    # one task per bucket the targets can fill in the new layout
    tasks = max(1, len(targets) * n_buckets // mf["n_buckets"])
    if cluster_by:
        types = {f.name: f.dataType for f in _data_schema(mf).fields}
        missing = [c for c in cluster_by if c not in types]
        if missing:
            raise ValueError(
                f"cluster_by columns {missing} not in table schema "
                f"({table_path})"
            )
        zcol = _z_value(current, types, cluster_by)
        bucketed = (
            bucketed.withColumn(
                "_z", F.coalesce(zcol.cast("double"), F.lit(float("-inf")))
            )
            .repartitionByRange(
                tasks * max(1, files_per_bucket), "pk_bucket", "_z"
            )
            .sortWithinPartitions("pk_bucket", "_z")
            .drop("_z")
        )
    else:
        bucketed = bucketed.repartition(tasks, "pk_bucket")
    # written under PHYSICAL names, preserving each column's physical
    # identity across the rewrite (Delta keeps field IDs stable through
    # REORG): CDF/table_changes align old/new sides by physical
    # identity, so a rewrite between two span endpoints must not re-key
    # renamed columns. Bloom config keys by physical name too, so it
    # carries unchanged.
    seg = _write_bucketed(
        spark,
        table_path,
        _to_physical_frame(bucketed, _mapping(mf)),
        mf.get("bloom", {}),
        file_stats=bool(cluster_by),
    )
    carried = set(mf["buckets"]) - targets
    scalars = {
        "version": mf["version"] + 1,
        "n_buckets": n_buckets,
        "operation": operation,
        "op_metrics": {
            "buckets_written": len(seg.rows),
            "buckets_carried": len(carried),
            **seg.metrics,
            **op_metrics,
        },
    }
    if not carried:
        scalars["retired_physical"] = []
    return _commit_manifest(
        table_path,
        token,
        _read_slim(table_path, mf["version"]) if carried else _scalars(mf),
        scalars,
        seg.rows,
        targets - set(seg.rows),
    )


def optimize_table(
    spark: SparkSession,
    table_path: str,
    cluster_by: list[str] | None = None,
    files_per_bucket: int = 4,
    n_buckets: int | None = None,
) -> int:
    """Small-file compaction (Delta's OPTIMIZE): a streaming sink
    commits one segment per epoch, so a bucket's live rows end up
    scattered across many small files — the classic small-file problem
    that murders scan throughput at scale. Rewrites the CURRENT snapshot
    into one fresh segment and commits it as a new version; readers of
    older versions are untouched, and the superseded segments age out
    via `vacuum`. Returns the new version.

    With `cluster_by` (Delta's OPTIMIZE ... ZORDER BY): rows are
    range-repartitioned on (pk_bucket, cluster value) into
    ~`files_per_bucket` files per bucket — one column sorts directly, 2+
    columns interleave into a Z-value — and PER-FILE min/max/null-count
    stats land in the manifest. That closes the gap bucket-dir stats
    cannot: hash-bucketing by key scatters every NON-KEY value range
    into every bucket, so dir-level [min, max] spans everything and
    prunes nothing; clustered files each cover a narrow range and
    `read_manifest_table(skip=...)` opens only the files that can
    match. Subsequent upserts rewrite touched buckets UNclustered
    (their file stats drop, carried buckets keep theirs) — re-run
    optimize to re-cluster, exactly Delta's maintenance contract.

    With `n_buckets`: bucket-layout EVOLUTION (Iceberg's partition-spec
    evolution, eagerly materialized). A table created small outgrows
    its bucket count — at 100 TB a 16-bucket layout caps scan and
    commit parallelism at 16 — so the rewrite re-hashes every row into
    the new count and the manifest records it; subsequent upserts,
    lookups, and stats validate against the NEW layout, while older
    versions keep reading with theirs (n_buckets is per-manifest
    state, never global). Pending MoR deletes materialize into any
    optimize rewrite, whatever the layout."""

    def attempt(token: int) -> int:
        mf = _require_manifest(table_path)
        if n_buckets is not None and n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        return _rewrite_buckets(
            spark,
            table_path,
            token,
            mf,
            set(mf["buckets"]),
            n_buckets if n_buckets is not None else mf["n_buckets"],
            "optimize",
            {
                "cluster_by": list(cluster_by) if cluster_by else None,
                "n_buckets": n_buckets,
            },
            cluster_by,
            files_per_bucket,
        )

    return _under_lease(table_path, attempt)


# Bucket-size ceiling for maintenance (see docs/TABLE_FORMAT.md
# "Bucket sizing at scale"): the CDC DataSource reader diffs one
# bucket's old+new snapshots inside ONE Arrow task
# (sources/manifest_source.py), so bytes-per-bucket IS
# bytes-per-diff-task. 256 MiB of parquet decodes to roughly 1-2 GB of
# pandas — the largest diff task a routinely-sized executor should
# carry. `maintain_table` rescales the bucket layout past this.
MAX_BUCKET_BYTES = 256 * 1024 * 1024


def sized_buckets(
    table_bytes: int, max_bucket_bytes: int, multiple_of: int = 1
) -> int:
    """The bucket-size rule: one bucket per `max_bucket_bytes // 2` of
    table data (so a sized bucket sits at about half the ceiling and
    the next maintenance isn't immediately due), rounded up, at least
    1, and rounded up to a multiple of `multiple_of` — the current
    count on a rescale, which keeps the CDC stream reader per-bucket
    (each new bucket diffs against exactly old bucket b % old_n —
    sources/manifest_source.py). `maintain_table` rescales an outgrown
    table by it and `sink_buckets` creates an engine-owned stream sink
    by it."""
    want = max(1, -(-table_bytes // max(1, max_bucket_bytes // 2)))
    return -(-want // multiple_of) * multiple_of


def sink_buckets(table_path: str, batch: DataFrame, n_rows: int) -> int | None:
    """`n_buckets` for an engine-owned `foreachBatch` sink's upsert of
    the `n_rows` rows of `batch`. An existing table keeps its layout
    (None; `maintain_table` grows it). The epoch that creates the table
    sizes it by `sized_buckets`, estimating its bytes as the row count
    times the schema's default row width — no Spark job. A sink of a
    few thousand tasks gets 1 bucket, so an epoch rewrites one file
    instead of one per touched bucket of `DEFAULT_BUCKETS`, while a
    GB-sized first epoch (a backfill) still gets a parallel layout."""
    if list_versions(table_path):
        return None
    row_bytes = batch._jdf.schema().defaultSize()
    return sized_buckets(n_rows * row_bytes, MAX_BUCKET_BYTES)


def _collision_rescale(
    mf: dict, table_path: str, bucket_dir: str, max_multiple: int = 1024
) -> int | None:
    """Smallest ALIGNED larger layout (a multiple of the current
    n_buckets, doubling) that splits the given oversized bucket's keys
    across more than one new bucket, or None when the bucket holds a
    single key hash (irreducible hot-key skew — re-hashing cannot shrink
    it) or its key types aren't driver-hashable. IO is bounded: one
    pyarrow read of the KEY COLUMNS of the one fat bucket — no Spark
    job, no other bucket touched."""
    import warnings

    from .keyhash import spark_xxhash64, supported_types

    keys = mf["keys"]
    fields = {f.name: f for f in _data_schema(mf).fields}
    type_names = [fields[k].dataType.simpleString() for k in keys]
    if not supported_types(type_names):
        warnings.warn(
            f"bucket {bucket_dir!r} exceeds max_bucket_bytes but its key "
            f"types {type_names} are not driver-hashable; skipping the "
            "collision check — rescale manually via optimize_table("
            "n_buckets=...)",
            stacklevel=3,
        )
        return None
    import pyarrow.parquet as pq

    hashes: set[int] = set()
    d = os.path.join(table_path, bucket_dir)
    try:
        names = sorted(os.listdir(d))
    except OSError as ex:
        warnings.warn(
            f"bucket {bucket_dir!r} exceeds max_bucket_bytes but its dir "
            f"could not be listed ({ex!r}) — likely swept by a concurrent "
            "optimize/vacuum; skipping the collision check this pass",
            stacklevel=3,
        )
        return None
    for fn in names:
        if not fn.endswith(".parquet"):
            continue
        try:
            tbl = pq.read_table(os.path.join(d, fn), columns=keys)
        except OSError:
            continue
        cols = [tbl.column(k).to_pylist() for k in keys]
        hashes.update(
            spark_xxhash64(row, type_names) for row in zip(*cols)
        )
        if len(hashes) > 1 and len(hashes) >= 64:
            break  # plenty of distinct hashes: m=2..64 will split
    if not hashes:
        # a 'single key hash' diagnosis needs at least one hash read —
        # zero means the files vanished/are unreadable, a different
        # (and differently actionable) condition
        warnings.warn(
            f"bucket {bucket_dir!r} exceeds max_bucket_bytes but no key "
            "rows could be read from it; skipping the collision check "
            "this pass",
            stacklevel=3,
        )
        return None
    if len(hashes) == 1:
        warnings.warn(
            f"bucket {bucket_dir!r} exceeds max_bucket_bytes but holds a "
            "single key hash (irreducible hot-key skew): no bucket count "
            "can split it; not rescaling",
            stacklevel=3,
        )
        return None
    n = mf["n_buckets"]
    m = 2
    while m <= max_multiple:
        if len({h % (m * n) for h in hashes}) > 1:
            return m * n
        m *= 2
    warnings.warn(
        f"bucket {bucket_dir!r} holds {len(hashes)} distinct key hashes "
        f"but no aligned layout up to {max_multiple}x separates them; "
        "not rescaling",
        stacklevel=3,
    )
    return None


def compact_buckets(
    spark: SparkSession,
    table_path: str,
    bucket_ids: list[int] | None = None,
    max_files_per_bucket: int = 1,
) -> int | None:
    """INCREMENTAL compaction: rewrite ONLY the named buckets (or,
    with `bucket_ids=None`, exactly the buckets holding more than
    `max_files_per_bucket` data files — or than the row cap forces on
    them, so a compacted table stays compacted — or any pending MoR
    delete file),
    carrying every other bucket by reference — IO proportional to the
    OFFENDING buckets, never the table. `optimize_table` is the full
    rewrite (clustering, rescale, physical-name normalization, dropped
    -column purge all need the whole table); at 100 TB a streaming
    sink's small-file debt lives in a handful of recently-touched
    buckets, and paying a full-table rewrite for those is the
    difference between a viable maintenance job and none. Compacted
    buckets materialize their pending deletes (the delete files drop
    out, swept by vacuum) and refresh their stats/bloom bitmaps; their
    per-file (ZORDER) stats drop — re-cluster with `optimize_table`
    when range reads matter, same contract as an upsert rewrite.
    Returns the new version, or None when nothing is over threshold."""
    def attempt(token: int) -> int | None:
        mf = _require_manifest(table_path)
        if bucket_ids is not None:
            targets = {str(b) for b in bucket_ids}
            unknown = targets - set(mf["buckets"])
            if unknown:
                raise ValueError(
                    f"bucket(s) {sorted(unknown)} not in the current "
                    f"layout of {table_path} "
                    f"(have: {sorted(mf['buckets'])})"
                )
        else:
            # listed under the lease: a layout change committed since a
            # caller's own listing cannot name a bucket this snapshot lacks
            targets = {
                b
                for b, (n_files, _) in _bucket_files(table_path, mf).items()
                if n_files > _file_debt_floor(mf, b, max_files_per_bucket)
            } | set(mf.get("deletes", {}))
        if not targets:
            return None
        return _rewrite_buckets(
            spark,
            table_path,
            token,
            mf,
            targets,
            mf["n_buckets"],
            "compact",
            {"buckets_targeted": len(targets)},
        )

    return _under_lease(table_path, attempt)


def maintain_table(
    spark: SparkSession,
    table_path: str,
    max_files_per_bucket: int = 8,
    max_delete_files: int = 16,
    cluster_by: list[str] | None = None,
    max_bucket_bytes: int | None = MAX_BUCKET_BYTES,
) -> int | None:
    """Conditional OPTIMIZE (Delta's auto-compaction policy, made an
    explicit call): inspect the CURRENT snapshot's physical layout —
    per-bucket data-file counts and pending MoR delete files — and
    rewrite only when a threshold is exceeded. A streaming sink commits
    one segment per epoch and a delete-heavy workload accumulates
    equality-delete files; both degrade reads gradually, and the
    decision of WHEN to pay the rewrite belongs in one policy point,
    not in every pipeline. The check is pure metadata (one manifest
    read + a dir listing per bucket, no data scanned). Returns the new
    version when an optimize ran, None when the table is within
    thresholds.

    With `cluster_by=None` (the default), maintenance PRESERVES the
    operator's layout intent: the most recent retained optimize
    commit's `cluster_by` is reused (None if that optimize was plain) —
    a routine compaction must never silently strip a Z-ordered table of
    its per-file stats and downgrade clustered-range reads to
    full-bucket scans. Pass an explicit list to re-cluster differently.

    With `max_bucket_bytes` (default `MAX_BUCKET_BYTES`, None disables):
    bucket-SIZE policy (VERDICT r6 directive 5). Bucket count is fixed
    at creation, so a growing table's buckets fatten without bound —
    and bytes-per-bucket is the unit of work for per-bucket consumers
    (the CDC DataSource diffs one bucket per Arrow task; commit rewrites
    one file per touched bucket). When the largest bucket exceeds the
    ceiling, the optimize RESCALES the layout (`n_buckets` grows) so
    post-maintenance buckets sit at about half the ceiling — the same
    check is still pure metadata (the dir listing already in hand)."""
    mf = _require_manifest(table_path)
    if cluster_by is None:
        for v in reversed(list_versions(table_path)):
            # operation / op_metrics are slim scalars: the walk parses
            # zero sidecars however many versions it passes
            past = read_manifest(table_path, v, buckets=[]) or {}
            if past.get("operation") == "optimize":
                cluster_by = past.get("op_metrics", {}).get("cluster_by")
                break
    # a policy check outside the lease; `compact_buckets` lists again
    # under it
    files = _bucket_files(table_path, mf)
    file_debt = any(
        n > _file_debt_floor(mf, b, max_files_per_bucket)
        for b, (n, _) in files.items()
    )
    worst = max(files, key=lambda b: files[b][1], default=None)
    rescale_to = None
    if max_bucket_bytes is not None and worst is not None and (
        files[worst][1] > max_bucket_bytes
    ):
        # size new buckets by the shared rule, aligned to the current
        # layout; never shrink the layout here. CONVERGES by
        # construction: rescale only when the layout is UNDERSIZED for
        # the table's total bytes — a bucket still fat at (or past) the
        # computed count is irreducible key skew (one hot key larger
        # than the ceiling), which re-hashing cannot shrink, and
        # re-triggering would repeat a full-table rewrite forever. An
        # arbitrary (unaligned) count would collapse any CDC stream
        # span containing the rescale to one task.
        n = mf["n_buckets"]
        total_bytes = sum(size for _, size in files.values())
        sized = sized_buckets(total_bytes, max_bucket_bytes, n)
        if sized > n:
            rescale_to = sized
        else:
            # secondary trigger (ADVICE r7): the layout is NOT
            # undersized for total bytes, yet one bucket is fat. That
            # is either several distinct keys hash-colliding at small n
            # (a larger count WOULD split them) or one irreducible hot
            # key (no count can). Distinguish by reading ONLY the fat
            # bucket's key columns and re-assigning its keys under
            # doubled aligned counts — convergent: each rescale strictly
            # separates colliding keys, and a singleton-key bucket stops
            # the doubling with a surfaced warning instead of rewriting
            # the table forever.
            rescale_to = _collision_rescale(
                mf, table_path, mf["buckets"][worst]
            )
    n_delete_files = sum(len(v) for v in mf.get("deletes", {}).values())
    if (
        rescale_to is None
        and not file_debt
        and n_delete_files <= max_delete_files
    ):
        return None
    if rescale_to is None and not cluster_by:
        # small-file / delete-file debt with no layout change needed:
        # compact ONLY the offending buckets (r10) — IO proportional to
        # the debt, not the table. Rescales and clustered layouts still
        # take the full optimize below (both are whole-table concerns).
        return compact_buckets(
            spark, table_path, max_files_per_bucket=max_files_per_bucket
        )
    return optimize_table(
        spark, table_path, cluster_by=cluster_by, n_buckets=rescale_to
    )


def table_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
    include_preimages: bool = False,
) -> DataFrame:
    """CDC change feed between two committed versions (Delta's
    `table_changes` reduced to its semantics): keys present only in the
    newer snapshot are `insert`, only in the older are `delete`, present
    in both with differing non-key content are `update`; unchanged rows
    are excluded — the classification is CONTENT-based, computed from
    the two immutable snapshots, so it needs no per-commit change log.
    Comparison spans the NEWER version's full non-key schema, with
    columns the older version lacks read as NULL on its side (additive
    evolution), aligned by physical column identity (a rename is no
    change); NaN equals NaN and null equals null at any nesting depth.
    Insert/update rows carry the NEW-side values (Delta's full rows), so
    replaying the feed onto the older snapshot — upsert the
    insert/update rows, delete the delete keys — reconstructs the newer
    one; delete rows carry NULL values. `include_preimages` emits each
    update as Delta CDF's update_preimage/update_postimage pair.
    `from_version` 0 emits the snapshot at `to_version` as inserts.

    This is the batch change-data-feed read
    (`spark.read.format("manifest").option("readChangeFeed", "true")`),
    whose per-bucket diff (`ManifestCDCStreamReader.read`) is the one
    the `manifest_cdc` stream runs too; only the column order
    (keys, change_type, the rest) is this function's. A missing table
    or a vacuumed `from_version` raises FileNotFoundError here, on the
    driver, per the CDC retention contract."""
    from ..sources.manifest_source import register_manifest_sources

    mf = _require_manifest(table_path, to_version, buckets=[])  # slim
    if from_version > 0:  # a vacuumed baseline raises here
        read_manifest(table_path, from_version, buckets=[])
    register_manifest_sources(spark)
    feed = (
        spark.read.format("manifest")
        .option("path", table_path)
        .option("readChangeFeed", "true")
        .option("startingVersion", from_version)
        .option("endingVersion", mf["version"])
        .option("includePreimages", include_preimages)
        .load()
    )
    keys = mf["keys"]
    return feed.select(
        *keys,
        "change_type",
        *[c for c in feed.columns if c not in keys and c != "change_type"],
    )


class VacuumRetentionError(RuntimeError):
    """A vacuum sweep would unlink a version a registered CDC cursor
    still pins (streaming/cdc.py retention contract)."""


def clone_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    version: int | None = None,
    as_of=None,
) -> int:
    """SHALLOW CLONE (Delta's CREATE TABLE ... SHALLOW CLONE): a new
    table whose version-1 manifest references the source snapshot's
    segment dirs by ABSOLUTE path — a metadata-only commit, zero data
    bytes copied, any retained source version clonable (`version` /
    `as_of` resolve like time travel). Keys, layout, schema, stats,
    pending MoR deletes, and constraints all carry, so the clone reads
    (and prunes) exactly like the source snapshot.

    Writes to the clone are copy-on-write per bucket: an upsert
    rewrites only the buckets it touches into the CLONE's own data
    dir; untouched buckets keep referencing source segments. The
    source never sees clone writes and vice versa — the isolation a
    dev/test fork of a 100 TB production table needs at zero cost.

    Unlike Delta's shallow clone (which silently breaks when the
    source VACUUMs), the clone REGISTERS its pinned version under
    `<src>/_clones/`, and the source's `vacuum` refuses to unlink a
    clone-pinned version unless `force=True` — the same loud-or-safe
    contract as CDC cursor retention. To sever the dependency:
    `optimize_table(clone)` (full rewrite into clone-local segments),
    then `vacuum(clone)` past the clone's v1, then
    `release_clone(src, dst)`."""
    target = version
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        target = version_as_of(src_path, as_of)
    mf = _require_manifest(src_path, target)
    if list_versions(dst_path):
        raise ValueError(
            f"{dst_path} already has a committed manifest: clone into a "
            "fresh path (an existing table's history must not be "
            "silently replaced)"
        )
    src_abs = os.path.abspath(src_path)

    def absolutize(d: str) -> str:
        return d if os.path.isabs(d) else os.path.join(src_abs, d)

    refs = [absolutize(d) for d in mf["buckets"].values()] + [
        absolutize(d) for lst in mf.get("deletes", {}).values() for d in lst
    ]
    # the base is the source snapshot with its dir refs made absolute.
    # Zero-copy METADATA too (r12): a sharded source's sidecar FILES
    # carry by absolute reference — each entry keeps its (path, hash)
    # and gains `base`, the table its relative dir refs resolve against
    # (_merge_sidecar) — so the clone writes ZERO sidecars instead of
    # re-sharding ~12.5k ranges at the sizing rule, and its own commits
    # rewrite only the ranges they touch. The clone pin below keeps the
    # source's vacuum from sweeping these files, exactly as it does for
    # the data segments they describe.
    base = _read_slim(src_abs, mf["version"])
    if "sidecars" in base:
        base["sidecars"] = {
            lo: {
                "path": absolutize(ent["path"]),
                "hash": ent["hash"],
                # a chained clone keeps the ORIGINAL owner: the file's
                # relative refs are relative to it
                "base": ent.get("base", src_abs),
            }
            for lo, ent in base["sidecars"].items()
        }
    else:
        base["buckets"] = {
            b: absolutize(d) for b, d in base["buckets"].items()
        }
        base["deletes"] = {
            b: [absolutize(d) for d in lst]
            for b, lst in base.get("deletes", {}).items()
        }
    os.makedirs(dst_path, exist_ok=True)  # lease dirs are siblings
    token = acquire_table_lease(dst_path)
    try:
        _commit_manifest(
            dst_path,
            token,
            base,
            {
                "version": 1,
                # a fresh writer lineage: the source's idempotent-writer
                # ledger must not make the clone reject first epochs
                "txns": {},
                "operation": "clone",
                "clone_of": {"path": src_abs, "version": mf["version"]},
                "op_metrics": {
                    "buckets_written": 0,
                    "buckets_carried": len(mf["buckets"]),
                    "rows_written": 0,
                    "files_written": 0,
                    "bytes_written": 0,
                },
            },
        )
        record_commit(dst_path, token)
    finally:
        release_table_lease(dst_path, token)
    # pin AFTER the clone committed: a crash in between leaves an
    # unpinned-but-real clone for one vacuum window, never a phantom
    # pin blocking the source forever. Pins go on EVERY table whose
    # data dirs the new manifest references absolutely — not just
    # src_path: cloning a clone carries the grandparent's absolute
    # refs through (absolutize passes them verbatim), and a pin only
    # under the intermediate source would let the grandparent's vacuum
    # sweep segments this clone still reads once the intermediate
    # materializes itself (VERDICT r9 #2 / ADVICE r9).
    owners: set[str] = set()
    dst_abs = os.path.abspath(dst_path)
    for ref in refs:
        root = _owning_table_root(ref)
        if root is not None and root != dst_abs:
            owners.add(root)
    # carried sidecar FILES need their owners pinned too (ADVICE r12):
    # data refs alone can miss a table. Example: C1 clones sharded O,
    # then re-shards every range C1-LOCAL (add/drop bloom) while its
    # bucket refs stay absolute into O — a clone of C1 carries C1's
    # _meta files but owns no C1 data, so the data-ref loop computes
    # owners={O} and C1's vacuum would sweep the _meta files this clone
    # still reads (its clone_meta guard only honors REGISTERED clones).
    # Pin the table holding each carried file's `_meta/` dir, and its
    # `base` (whose data dirs the file's relative refs resolve into).
    for ent in base.get("sidecars", {}).values():
        root = _owning_meta_root(ent["path"])
        if root is not None and root != dst_abs:
            owners.add(root)
        owner = os.path.abspath(ent["base"])
        if owner != dst_abs:
            owners.add(owner)
    for owner in owners or {src_abs}:
        d = os.path.join(owner, "_clones")
        os.makedirs(d, exist_ok=True)
        pin = os.path.join(d, _clone_pin_name(dst_path))
        tmp = f"{pin}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            # the version is meaningful only for the immediate source;
            # transitive owners get 0 ("segment pin, version unknown")
            # — the vacuum guard derives needs from the CLONE's own
            # manifests, never from this number
            v = mf["version"] if owner == src_abs else 0
            f.write(f"{v}\n{os.path.abspath(dst_path)}\n")
        os.replace(tmp, pin)
    return 1


def _owning_table_root(seg_dir: str) -> str | None:
    """The table root an absolute segment-dir ref points into: the
    prefix before the LAST `data` path component (segment dirs always
    live at `<table>/data/<seg-root>/...`, and no segment component is
    a bare `data`). Relative refs belong to the enclosing table and
    return None."""
    if not os.path.isabs(seg_dir):
        return None
    parts = seg_dir.split(os.sep)
    if "data" not in parts:
        return None
    i = len(parts) - 1 - parts[::-1].index("data")
    return os.sep.join(parts[:i]) or os.sep


def _owning_meta_root(path: str) -> str | None:
    """The table root an absolute sidecar-file ref points into: the
    prefix before the LAST `_meta` path component (sidecars always live
    at `<table>/_meta/sc-*.json`). Relative refs belong to the
    enclosing table and return None."""
    if not os.path.isabs(path):
        return None
    parts = path.split(os.sep)
    if "_meta" not in parts:
        return None
    i = len(parts) - 1 - parts[::-1].index("_meta")
    return os.sep.join(parts[:i]) or os.sep


def _clone_pin_name(dst_path: str) -> str:
    import hashlib

    h = hashlib.sha256(os.path.abspath(dst_path).encode()).hexdigest()
    return f"c-{h[:16]}"


def pinned_clone_versions(table_path: str) -> dict[str, tuple[int, str]]:
    """Clones registered under `<table>/_clones/` — pin name ->
    (pinned source version, clone path). Unreadable entries are
    skipped, same contract as `pinned_cursor_versions`."""
    d = os.path.join(table_path, "_clones")
    out: dict[str, tuple[int, str]] = {}
    try:
        entries = os.listdir(d)
    except OSError:
        return out
    for e in entries:
        if ".tmp." in e:
            continue  # crash-left atomic-replace staging
        try:
            with open(os.path.join(d, e)) as f:
                lines = f.read().splitlines()
            out[e] = (int(lines[0].strip()), lines[1].strip() if len(lines) > 1 else "?")
        except (OSError, ValueError, IndexError):
            continue
    return out


def release_clone(src_path: str, dst_path: str) -> bool:
    """Drop the retention pin a clone registered on its source —
    after the clone was materialized (optimize + vacuum past v1) or
    deleted. Returns whether a pin existed."""
    pin = os.path.join(src_path, "_clones", _clone_pin_name(dst_path))
    try:
        os.unlink(pin)
        return True
    except OSError:
        return False


def pinned_cursor_versions(table_path: str) -> dict[str, int]:
    """Registered change-feed cursors under `<table>/_cursors/` —
    consumer name -> last fully-applied version (the `from_version` of
    that consumer's NEXT incremental diff). Unreadable entries are
    skipped; consumers using an unregistered cursor path are invisible
    here and outside the retention guard."""
    d = os.path.join(table_path, "_cursors")
    out: dict[str, int] = {}
    try:
        entries = os.listdir(d)
    except OSError:
        return out
    for e in entries:
        if ".tmp." in e:
            # _write_change_cursor's atomic-replace staging file: a
            # consumer killed between write and replace leaves one
            # behind, and counting it would conjure a phantom consumer
            # that blocks vacuum forever
            continue
        try:
            with open(os.path.join(d, e)) as f:
                out[e] = int(f.read().strip() or "0")
        except (OSError, ValueError):
            continue
    return out


def vacuum(table_path: str, keep_last: int = 1, force: bool = False) -> int:
    """Remove segment dirs unreferenced by the newest `keep_last`
    manifests (and the older manifests themselves): orphans from failed
    or fenced commits, plus versions aged out of the time-travel
    horizon. Returns the number of segment dirs removed. Readers pinned
    to a retained version are safe — their segments survive.

    Retention guard (VERDICT r7 directive 6): change-feed cursors
    registered under `<table>/_cursors/` (streaming/cdc.py
    `table_cursor_path`) pin their version as the `from_version` of
    the consumer's next diff. A sweep that would unlink a pinned
    version raises VacuumRetentionError naming the consumers — pass
    `force=True` to sweep anyway, after which the lagging stream's
    next pass fails loud with FileNotFoundError (never a silently
    partial diff), per the documented contract.

    Runs UNDER the writer lease: an in-flight commit's just-written,
    not-yet-published segment is indistinguishable from an orphan, and
    sweeping it would leave the next manifest pointing at deleted data.
    Holding the lease serializes the sweep against committers (a
    crashed holder's lease is stolen after the TTL as usual; its
    segment then really is an orphan, and its late publish is fenced
    by the ownership check + no-clobber link)."""
    token = acquire_table_lease(table_path)
    try:
        return _vacuum_locked(table_path, keep_last, force)
    finally:
        release_table_lease(table_path, token)


def _segment_root(d: str) -> str:
    """The `data/<seg-root>` component of a bucket/delete dir ref —
    the unit `vacuum` sweeps. Absolute refs (a shallow clone pointing
    into its source) have no root in THIS table's data dir; returning
    the full path keeps them from ever aliasing a local entry name."""
    if os.path.isabs(d):
        return d
    return d.split(os.sep)[1]


def _vacuum_locked(table_path: str, keep_last: int, force: bool = False) -> int:
    versions = list_versions(table_path)
    keep = versions[-keep_last:] if keep_last > 0 else []
    table_abs = os.path.abspath(table_path)
    # sidecar files in OUR `_meta/` that registered shallow clones
    # still carry by absolute reference (r12 zero-copy clone): retained
    # alongside the data segments they describe. Unlike segments —
    # which survive by carrying into kept manifests — a rewritten
    # range's OLD sidecar file drops out of kept refs immediately, so
    # the clone's pin is the only thing keeping it alive. force=True
    # breaks clones loudly, same as for data.
    clone_meta: set[str] = set()
    if not force:
        kept = set(keep)
        lagging = {
            name: v
            for name, v in pinned_cursor_versions(table_path).items()
            if v > 0 and v in versions and v not in kept
        }
        if lagging:
            raise VacuumRetentionError(
                f"vacuum(keep_last={keep_last}) would unlink versions "
                f"still pinned by change-feed cursors {lagging} under "
                f"{table_path}/_cursors; raise keep_last to cover the "
                "slowest consumer's lag, or pass force=True to break "
                "those streams loudly"
            )
        # clone pins guard SEGMENT DIRS, not manifest files or
        # versions: the CLONE's own retained manifests record exactly
        # which of this table's dirs it still references (absolute
        # refs under our data dir), so the guard asks the clone — a
        # cloned version whose segments all carried into a kept
        # manifest never blocks, and a clone that materialized itself
        # (optimize + own vacuum) stops pinning automatically even if
        # its release_clone was forgotten
        kept_roots: set[str] = set()
        for kv in keep:
            kmf = read_manifest(table_path, kv)
            for d in kmf["buckets"].values():
                kept_roots.add(_segment_root(d))
            for lst in kmf.get("deletes", {}).values():
                kept_roots.update(_segment_root(d) for d in lst)
        broken = {}
        for name, (v, dst) in pinned_clone_versions(table_path).items():
            needed: set[str] = set()
            dst_abs = os.path.abspath(dst)
            # O(change) clone walk (r13, VERDICT r12 "What's missing"
            # #3): a sizing-rule clone with a long history used to cost
            # O(versions × n_ranges) — a full assembly per retained
            # clone version. The refs the guard needs live only in the
            # clone's sidecar FILES, and those are content-addressed
            # and heavily shared across versions: collect the UNIQUE
            # set (initial carry + every range that ever diverged) from
            # the slim indexes, then parse each file ONCE. Clone-local
            # sidecars are included — a clone's rewritten range keeps
            # ABSOLUTE refs into us for the buckets it didn't touch.
            # Inline clone versions (below the sharding threshold)
            # still assemble; they are O(their size) anyway.
            unique: dict[str, str | None] = {}  # abs path -> base
            for cv in list_versions(dst):
                cslim = _read_slim(dst, cv) or {}
                sc = cslim.get("sidecars")
                if sc is None:
                    try:
                        cmf = read_manifest(dst, cv) or {}
                    except OSError:
                        continue  # already-broken clone version (a
                        # prior force vacuum swept its metadata): it
                        # has no honorable refs left
                    refs = list(cmf.get("buckets", {}).values()) + [
                        d
                        for lst in cmf.get("deletes", {}).values()
                        for d in lst
                    ]
                    for d in refs:
                        if not os.path.isabs(d):
                            continue  # clone-local dir, not ours
                        rel = os.path.relpath(d, table_abs)
                        if rel.startswith(".."):
                            continue  # ref into some OTHER table
                        needed.add(_segment_root(rel))
                    continue
                for ent in sc.values():
                    p = ent["path"]
                    if os.path.isabs(p):
                        rel = os.path.relpath(p, table_abs)
                        if not rel.startswith(".."):
                            # keyed by BASENAME: sound because sidecar
                            # names are content-addressed
                            # (sc-<lo>-<hash>) — two distinct files in
                            # one _meta/ dir can never share a name, so
                            # a basename retains exactly one file
                            clone_meta.add(os.path.basename(p))
                    else:
                        p = os.path.join(dst_abs, p)
                    unique.setdefault(p, ent.get("base"))
            for p, base in unique.items():
                try:
                    sc_file = _load_sidecar(p)
                except OSError:
                    continue  # swept by a prior force vacuum: the
                    # ranges it described have no honorable refs left
                for d in list(sc_file.get("buckets", {}).values()) + [
                    x
                    for lst in sc_file.get("deletes", {}).values()
                    for x in lst
                ]:
                    if not os.path.isabs(d):
                        # relative refs resolve against the file's
                        # owner: its `base` when carried, else the
                        # clone itself (a clone-local dir is not ours)
                        if base is None:
                            continue
                        d = os.path.join(base, d)
                    rel = os.path.relpath(d, table_abs)
                    if rel.startswith(".."):
                        continue  # ref into some OTHER table
                    needed.add(_segment_root(rel))
            if needed - kept_roots:
                broken[name] = (v, dst)
        if broken:
            raise VacuumRetentionError(
                f"vacuum(keep_last={keep_last}) would remove segment "
                f"dirs shallow clones still reference {broken} under "
                f"{table_path}/_clones; materialize the clone "
                "(optimize_table + vacuum + release_clone), or pass "
                "force=True to break it loudly"
            )
    referenced: set[str] = set()
    for v in keep:
        mf = read_manifest(table_path, v)
        for d in mf["buckets"].values():
            # reference the SEGMENT root (data/seg-x), not the bucket leaf
            referenced.add(_segment_root(d))
        for lst in mf.get("deletes", {}).values():
            for d in lst:  # pending MoR delete roots (data/del-x)
                referenced.add(_segment_root(d))
    data_dir = os.path.join(table_path, "data")
    removed = 0
    try:
        entries = os.listdir(data_dir)
    except OSError:
        entries = []
    for e in entries:
        if e not in referenced:
            shutil.rmtree(os.path.join(data_dir, e), ignore_errors=True)
            removed += 1
    for v in versions:
        if v not in keep:
            os.unlink(_manifest_path(table_path, v))
    # metadata sidecar sweep (r11): `_meta/` files not referenced by
    # any RETAINED manifest — or carried by a registered clone (r12,
    # `clone_meta` above) — are either aged-out versions' exclusives
    # or orphans from crashed/fenced commits. Vacuum holds the writer
    # lease, so no in-flight commit can be mid-write here. Entries
    # whose path points into ANOTHER table (carried from a clone
    # source) are not ours to track or sweep: the is-it-mine guard
    # skips them, and the owner's vacuum governs their lifetime.
    ref_meta: set[str] = set(clone_meta)
    for v in keep:
        slim = _read_slim(table_path, v) or {}
        for ent in slim.get("sidecars", {}).values():
            p = ent["path"]
            if os.path.isabs(p):
                rel = os.path.relpath(p, table_abs)
                if rel.startswith(".."):
                    continue  # carried from a clone source: not ours
            ref_meta.add(os.path.basename(p))
    try:
        meta_entries = os.listdir(_meta_dir(table_path))
    except OSError:
        meta_entries = []
    for e in meta_entries:
        if e not in ref_meta:
            try:
                os.unlink(os.path.join(_meta_dir(table_path), e))
            except OSError:
                pass
    # DataFrameWriter staging dirs (sources/manifest_source.py) from
    # CRASHED jobs: unreferenced by design (commit/abort clean their
    # own), but a killed driver leaves one behind. Swept only past an
    # age floor — an in-flight job's staging is written without the
    # table lease, so age is the safety margin (Delta's VACUUM
    # retention, reduced to its purpose).
    staging = os.path.join(table_path, "_staging")
    now = _dt.datetime.now().timestamp()
    try:
        stage_entries = os.listdir(staging)
    except OSError:
        stage_entries = []
    for e in stage_entries:
        p = os.path.join(staging, e)
        try:
            age = now - os.path.getmtime(p)
        except OSError:
            continue
        if age > _STAGING_TTL_SECONDS:
            # swept but NOT counted: the return value is the segment-dir
            # sweep count per the docstring, and operators read it that way
            shutil.rmtree(p, ignore_errors=True)
    return removed


# ---------------------------------------------------------------------------
# registered query: two-commit merge + time travel, DuckDB-checkable
# ---------------------------------------------------------------------------


def manifest_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The manifest lifecycle as an oracle-checked query: commit a
    base snapshot of documents-derived rows, then a second commit that
    UPDATES half the base keys and INSERTS a disjoint set; read BOTH
    versions back (time travel) and aggregate per (version, source).
    Version 1 must show only the base rows, version 2 the merged state —
    proving atomic commit, update-wins merge semantics, and snapshot
    isolation in one driver-visible row set."""
    table = _two_commit_table(spark, sf_dir)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return (
            df.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .withColumn("version", F.lit(version))
        )

    return agg(read_manifest_table(spark, table, version=1), 1).unionByName(
        agg(read_manifest_table(spark, table, version=2), 2)
    )


def manifest_changes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The CDC change feed as an oracle-checked query: same
    two-commit table as `manifest_merge`, then `table_changes(1, 2)` —
    the %3==1 docs surface as inserts, the %6==0 docs (whose n_chars
    doubled) as updates, and the untouched %3==0 docs are absent. The
    oracle derives the same classification from the documents table
    directly, so the content-based diff is pinned end-to-end."""
    table = _two_commit_table(spark, sf_dir)
    return table_changes(spark, table, 1, 2)


def manifest_mor_delete_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Merge-on-read DELETE as an oracle-checked query: on the
    shared two-commit table, `delete_where(doc_id % 9 == 0)` commits
    version 3 WITHOUT rewriting any segment (only equality-delete key
    files land — pinned by test_manifest.py), then both the pre-delete
    snapshot (time travel to v2) and the post-delete snapshot are read
    back and aggregated per (version, source). The deleted keys must be
    gone from v3, intact in v2 — snapshot isolation across a delete."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        _build_two_commits(spark, docs, table)
        delete_where(spark, table, F.col("doc_id") % 9 == 0)

    table = _fixture_table(docs, "manifest_mor_delete", build)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return (
            df.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .withColumn("version", F.lit(version))
        )

    return agg(read_manifest_table(spark, table, version=2), 2).unionByName(
        agg(read_manifest_table(spark, table, version=3), 3)
    )


MANIFEST_MOR_DELETE_SQL = """
WITH v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 6 = 0 THEN CAST(n_chars AS BIGINT) * 2
              ELSE CAST(n_chars AS BIGINT) END AS n_chars
  FROM documents WHERE doc_id % 3 <> 2
)
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       2 AS version
FROM v2 GROUP BY source
UNION ALL
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       3 AS version
FROM v2 WHERE doc_id % 9 <> 0 GROUP BY source
"""


def manifest_update_where_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] UPDATE ... WHERE as an oracle-checked query: on the shared
    two-commit table, `update_where(n_chars < 500, n_chars += 1000)`
    rewrites exactly the matched rows (copy-on-write of their buckets),
    then the post-update snapshot aggregates per source. The oracle
    applies the same CASE to the derived v2 state."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        _build_two_commits(spark, docs, table)
        update_where(
            spark,
            table,
            F.col("n_chars") < 500,
            {"n_chars": F.col("n_chars") + F.lit(1000)},
        )

    table = _fixture_table(docs, "manifest_update_where", build)
    return read_manifest_table(spark, table).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
    )


MANIFEST_UPDATE_WHERE_SQL = """
WITH v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 6 = 0 THEN CAST(n_chars AS BIGINT) * 2
              ELSE CAST(n_chars AS BIGINT) END AS n_chars
  FROM documents WHERE doc_id % 3 <> 2
)
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN n_chars < 500 THEN n_chars + 1000
                     ELSE n_chars END) AS BIGINT) AS sum_chars
FROM v2 GROUP BY source
"""


def manifest_restore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] RESTORE TABLE as an oracle-checked query: the two-commit
    table rolls back to version 1 (metadata-only commit, version 3);
    the latest read must equal the BASE snapshot while the undone
    version 2 stays time-travel-readable — rollback without history
    loss, in one driver-visible row set."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        _build_two_commits(spark, docs, table)
        restore_table(spark, table, version=1)

    table = _fixture_table(docs, "manifest_restore", build)
    # the restore commit is the fixture's latest version (deterministic:
    # two upserts + one restore = 3), re-read rather than re-restored
    restored = read_manifest(table)["version"]

    def agg(df: DataFrame, version: int) -> DataFrame:
        return (
            df.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .withColumn("version", F.lit(version))
        )

    return agg(read_manifest_table(spark, table), restored).unionByName(
        agg(read_manifest_table(spark, table, version=2), 2)
    )


def manifest_vacuum_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] VACUUM with the change-feed retention guard as an
    oracle-checked query (VERDICT r7 directive 6 surface): three
    commits (base %5==0, triple %10==0, MoR-delete %15==0) with a
    registered cursor consumed only through version 1. The guarded
    `vacuum(keep_last=1)` must REFUSE (the cursor pins v1); after the
    consumer catches up, the same sweep succeeds and only the latest
    version remains — and the post-vacuum read still serves the exact
    final state. All inside the cached fixture build (a published
    fixture is never mutated); the guard outcome rides a note file."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        from ..streaming.cdc import consume_table_changes, table_cursor_path

        base = docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id", "n_chars"
        )
        manifest_upsert(spark, table, base, ["doc_id"], n_buckets=8)
        cur = table_cursor_path(table, "probe")
        consume_table_changes(spark, table, cur, lambda c, f, t: None)
        manifest_upsert(
            spark,
            table,
            base.filter(F.col("doc_id") % 10 == 0).withColumn(
                "n_chars", F.col("n_chars") * 3
            ),
            ["doc_id"],
        )
        delete_where(spark, table, F.col("doc_id") % 15 == 0)
        fired = 0
        try:
            vacuum(table, keep_last=1)
        except VacuumRetentionError:
            fired = 1
        n_before = len(list_versions(table))
        consume_table_changes(spark, table, cur, lambda c, f, t: None)
        vacuum(table, keep_last=1)
        with open(os.path.join(table, "_vacuum_note.json"), "w") as fh:
            json.dump(
                {"guard_fired": fired, "n_versions_before": n_before}, fh
            )

    table = _fixture_table(docs, "manifest_vacuum", build)
    with open(os.path.join(table, "_vacuum_note.json")) as fh:
        note = json.load(fh)
    return read_manifest_table(spark, table).agg(
        F.lit(int(note["n_versions_before"])).alias("n_versions_before"),
        F.lit(len(list_versions(table))).alias("n_versions_after"),
        F.lit(int(note["guard_fired"])).alias("guard_fired"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
    )


MANIFEST_VACUUM_SQL = """
WITH final AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN CAST(n_chars AS BIGINT) * 3
              ELSE CAST(n_chars AS BIGINT) END AS n_chars
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 15 <> 0
)
SELECT 3 AS n_versions_before, 1 AS n_versions_after, 1 AS guard_fired,
       COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM final
"""


MANIFEST_RESTORE_SQL = """
WITH v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 6 = 0 THEN CAST(n_chars AS BIGINT) * 2
              ELSE CAST(n_chars AS BIGINT) END AS n_chars
  FROM documents WHERE doc_id % 3 <> 2
)
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       3 AS version
FROM documents WHERE doc_id % 3 = 0 GROUP BY source
UNION ALL
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       2 AS version
FROM v2 GROUP BY source
"""


MANIFEST_CHANGES_SQL = """
SELECT doc_id, 'insert' AS change_type, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT doc_id, 'update' AS change_type, source,
       CAST(n_chars AS BIGINT) * 2 AS n_chars
FROM documents
WHERE doc_id % 6 = 0 AND n_chars <> 0
"""


def incremental_compaction_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Incremental bucket-wise compaction as an oracle-checked
    query: docs %3==0 land, then docs %3==1 plus four %3==2 strays
    (ids 2, 5, 8, 11); a merge-on-read DELETE of the strays leaves
    delete-file debt in exactly their buckets, and `compact_buckets`
    rewrites ONLY those buckets (untouched dirs carry by path — pinned,
    with small-file debt, in test_compaction.py). The emitted `op`
    column comes off the LIVE manifest, so the oracle also pins that
    the incremental path (a 'compact' commit, not a full 'optimize')
    is what ran."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        manifest_upsert(
            spark, table, docs.filter(F.col("doc_id") % 3 == 0),
            ["doc_id"], n_buckets=8,
        )
        manifest_upsert(
            spark,
            table,
            docs.filter(
                (F.col("doc_id") % 3 == 1)
                | ((F.col("doc_id") % 3 == 2) & (F.col("doc_id") < 12))
            ),
            ["doc_id"],
        )
        delete_where(spark, table, "doc_id % 3 = 2")
        compact_buckets(spark, table)

    table = _fixture_table(docs, "manifest_compact", build)
    op = read_manifest(table)["operation"]
    return (
        read_manifest_table(spark, table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("op", F.lit(op))
    )


INCREMENTAL_COMPACTION_SQL = """
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       'compact' AS op
FROM documents
WHERE doc_id % 3 <> 2
GROUP BY source
"""


#: the generated-column rule the registered query exercises (Spark's
#: `DIV` and DuckDB's `//` are both integral division — exact
#: cross-engine on the non-negative n_chars)
GENERATED_EXPR = "n_chars DIV 100"


def generated_columns_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] GENERATED ALWAYS AS as an oracle-checked query. Build:
    docs %3==0 land WITH `hecto_chars` precomputed;
    `add_generated_column` validates every existing row and records the
    rule; docs %3==1 then upsert WITHOUT the column — the write edge
    computes it. The aggregate sums both the base and generated column
    per source, so a wrong or missing computation on either batch
    hash-mismatches the oracle."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        base = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
            "hecto_chars", F.expr(GENERATED_EXPR)
        )
        manifest_upsert(spark, table, base, ["doc_id"], n_buckets=8)
        add_generated_column(spark, table, "hecto_chars", GENERATED_EXPR)
        manifest_upsert(
            spark, table, docs.filter(F.col("doc_id") % 3 == 1), ["doc_id"]
        )

    table = _fixture_table(docs, "manifest_generated", build)
    df = read_manifest_table(spark, table)
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("hecto_chars").alias("sum_hecto"),
    )


GENERATED_COLUMNS_SQL = """
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(n_chars AS BIGINT) // 100) AS BIGINT) AS sum_hecto
FROM documents
WHERE doc_id % 3 <> 2
GROUP BY source
"""


def sidecar_metadata_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Sharded manifest metadata (r11) as an oracle-checked
    query. Build: docs %3==0 land in a 256-bucket table — past
    SIDECAR_RANGE, so the per-bucket metadata shards into 4
    bucket-range sidecar files and the manifest is the slim index;
    then ONE key (doc_id 42) upserts with doubled n_chars. The emitted
    `n_ranges` / `changed_ranges` columns come off the two versions'
    SLIM manifests: exactly ONE range's sidecar may differ between v1
    and v2 (the bucket doc 42 hashes into), the other three carried by
    FILE reference — the oracle pins the O(change) metadata-write
    contract as literals, and the aggregate reads the assembled table
    back through the standard path, so a wrong reassembly
    hash-mismatches too. The reference stores per-city state as
    singleton Redis JSON blobs (categorize-trail-conditions/src/
    storage.py) with no metadata tier at all; this is [EXT] surface
    sized for the 800k-bucket rule in docs/TABLE_FORMAT.md."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        manifest_upsert(
            spark, table, docs.filter(F.col("doc_id") % 3 == 0),
            ["doc_id"], n_buckets=256,
        )
        if "sidecars" not in (_read_slim(table, 1) or {}):
            raise AssertionError(
                "256-bucket fixture did not shard its metadata"
            )
        manifest_upsert(
            spark,
            table,
            docs.filter(F.col("doc_id") == 42).withColumn(
                "n_chars", F.col("n_chars") * 2
            ),
            ["doc_id"],
        )

    table = _fixture_table(docs, "manifest_sidecar", build)
    s1 = _read_slim(table, 1)["sidecars"]
    s2 = _read_slim(table, 2)["sidecars"]
    changed = sum(1 for lo, e in s2.items() if e != s1.get(lo))
    return (
        read_manifest_table(spark, table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("n_ranges", F.lit(len(s2)))
        .withColumn("changed_ranges", F.lit(changed))
    )


#: the structural literals below are fixture-coupled, derived from the
#: `build` closure in `sidecar_metadata_query` above: 256 buckets /
#: SIDECAR_RANGE 64 = `4 AS n_ranges`, and the single-key (doc_id 42)
#: second commit touches exactly one bucket = `1 AS changed_ranges`.
#: Change the fixture's n_buckets or batch shape and these move.
SIDECAR_METADATA_SQL = """
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN doc_id = 42 THEN n_chars * 2
                     ELSE n_chars END) AS BIGINT) AS sum_chars,
       4 AS n_ranges, 1 AS changed_ranges
FROM documents
WHERE doc_id % 3 = 0
GROUP BY source
"""


def clone_metadata_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Zero-metadata shallow clone (r12) as an oracle-checked
    query. Build: docs %3==0 land in a 256-bucket SOURCE — sharded
    into 4 bucket-range sidecars — which `clone_table` forks; the
    clone's slim manifest carries all 4 sidecar FILES by absolute
    reference (each entry gains `base`), so the fork writes ZERO
    `_meta/` files (asserted in the build; the old path re-sharded
    every range — ~12.5k files at the 800k-bucket sizing rule). One
    key (doc_id 42, doubled) then upserts INTO THE CLONE: exactly one
    range re-shards clone-locally, three keep carrying
    (`carried_ranges`/`local_ranges` pinned by the oracle). The
    aggregate reads the clone back through the standard path, so a
    wrong `base` resolution hash-mismatches too. The reference has no
    fork concept at all (singleton Redis JSON blobs,
    categorize-trail-conditions/src/storage.py); [EXT] surface per
    docs/TABLE_FORMAT.md."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        src = table + "_src"
        manifest_upsert(
            spark, src, docs.filter(F.col("doc_id") % 3 == 0),
            ["doc_id"], n_buckets=256,
        )
        clone_table(spark, src, table)
        try:
            n_meta = len(os.listdir(_meta_dir(table)))
        except OSError:
            n_meta = 0
        if n_meta != 0:
            raise AssertionError(
                f"clone wrote {n_meta} sidecar files; the carried-"
                "reference fork must write zero"
            )
        manifest_upsert(
            spark,
            table,
            docs.filter(F.col("doc_id") == 42).withColumn(
                "n_chars", F.col("n_chars") * 2
            ),
            ["doc_id"],
        )

    table = _fixture_table(docs, "manifest_clone_meta", build)
    s2 = _read_slim(table, 2)["sidecars"]
    carried = sum(1 for e in s2.values() if e.get("base"))
    return (
        read_manifest_table(spark, table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("carried_ranges", F.lit(carried))
        .withColumn("local_ranges", F.lit(len(s2) - carried))
    )


#: fixture-coupled literals, from `clone_metadata_query`'s build: 256
#: buckets / SIDECAR_RANGE 64 = 4 ranges; the clone's single-key
#: commit re-shards exactly the range doc 42's bucket falls in, so
#: `3 AS carried_ranges, 1 AS local_ranges`.
CLONE_METADATA_SQL = """
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN doc_id = 42 THEN n_chars * 2
                     ELSE n_chars END) AS BIGINT) AS sum_chars,
       3 AS carried_ranges, 1 AS local_ranges
FROM documents
WHERE doc_id % 3 = 0
GROUP BY source
"""


def restore_metadata_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Content-addressed restore (r12) as an oracle-checked
    query. Build: v1 (docs %3==0, 256 buckets → 4 range sidecars), v2
    doubles doc 42 (one range rewritten), v3 = RESTORE TO v1. Sidecar
    files are content-addressed (`sc-<lo>-<hash>.json`, no version in
    the name), so v3's per-range content — byte-identical to v1's —
    resolves to files ALREADY on disk: the restore writes zero new
    sidecar files (asserted in the build) and v3's slim index equals
    v1's exactly (`restore_divergence` pinned at 0 by the oracle).
    The aggregate reads latest — the restored v1 content — back
    through the standard path. Delta's RESTORE rewrites a new JSON
    action log entry but reuses data; this extends the reuse to the
    metadata tier itself. [EXT] per docs/TABLE_FORMAT.md."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        manifest_upsert(
            spark, table, docs.filter(F.col("doc_id") % 3 == 0),
            ["doc_id"], n_buckets=256,
        )
        manifest_upsert(
            spark,
            table,
            docs.filter(F.col("doc_id") == 42).withColumn(
                "n_chars", F.col("n_chars") * 2
            ),
            ["doc_id"],
        )
        before = set(os.listdir(_meta_dir(table)))
        restore_table(spark, table, version=1)
        after = set(os.listdir(_meta_dir(table)))
        if after != before:
            raise AssertionError(
                f"restore wrote {sorted(after - before)}; content-"
                "addressed sidecars must make a revert write nothing"
            )

    table = _fixture_table(docs, "manifest_restore_meta", build)
    s1 = _read_slim(table, 1)["sidecars"]
    s3 = _read_slim(table, 3)["sidecars"]
    divergence = sum(1 for lo, e in s3.items() if e != s1.get(lo))
    return (
        read_manifest_table(spark, table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("restore_divergence", F.lit(divergence))
    )


#: the restored snapshot IS v1, so the aggregate is the plain %3==0
#: slice and `0 AS restore_divergence` pins slim-index equality
RESTORE_METADATA_SQL = """
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       0 AS restore_divergence
FROM documents
WHERE doc_id % 3 = 0
GROUP BY source
"""


def commit_delta_metadata_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Delta-based DATA commits (r13, VERDICT r12 directive 2)
    as an oracle-checked query, over the SAME cached fixture as
    `sidecar_metadata_query` (identical build: v1 = docs %3==0 into
    256 buckets → 4 range sidecars; v2 = a 1-key upsert doubling doc
    42's n_chars). What THIS probe pins is the commit's O(change)
    bookkeeping: 3 of the 4 v2 index entries are the previous
    version's entry dicts VERBATIM (`carried_verbatim` — carried
    without a parse or serialization, the driver-CPU contract
    `_commit_manifest` implements), and the INCREMENTALLY
    maintained whole-table scalars — `agg` and `total_rows` — equal a
    from-scratch `_bucket_agg` recompute over the assembled manifest
    (`agg_drift` pinned 0). The aggregate reads the assembled table
    back through the standard path, so a wrong carry or a drifted
    count hash-mismatches the oracle too. The reference has no
    metadata tier (singleton Redis JSON blobs,
    categorize-trail-conditions/src/storage.py); [EXT] per
    docs/TABLE_FORMAT.md's sizing rule."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        manifest_upsert(
            spark, table, docs.filter(F.col("doc_id") % 3 == 0),
            ["doc_id"], n_buckets=256,
        )
        manifest_upsert(
            spark,
            table,
            docs.filter(F.col("doc_id") == 42).withColumn(
                "n_chars", F.col("n_chars") * 2
            ),
            ["doc_id"],
        )

    # shared fixture kind with sidecar_metadata_query (same build):
    # one 256-bucket construction per corpus snapshot serves both
    table = _fixture_table(docs, "manifest_sidecar", build)
    s1 = _read_slim(table, 1)
    s2 = _read_slim(table, 2)
    carried = sum(
        1
        for lo, e in s2["sidecars"].items()
        if e == s1["sidecars"].get(lo)
    )
    recomputed = _bucket_agg(read_manifest(table, 2))
    drift = int(
        s2["agg"] != recomputed
        or s2.get("total_rows")
        != recomputed["rows"] - recomputed["drows"]
    )
    return (
        read_manifest_table(spark, table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("carried_verbatim", F.lit(carried))
        .withColumn("agg_drift", F.lit(drift))
    )


#: fixture-coupled literals (see the build closure above): 256 buckets
#: / SIDECAR_RANGE 64 = 4 ranges, the 1-key v2 commit touches one →
#: `3 AS carried_verbatim`; `0 AS agg_drift` pins the incremental
#: scalars against the from-scratch recompute
COMMIT_DELTA_METADATA_SQL = """
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN doc_id = 42 THEN n_chars * 2
                     ELSE n_chars END) AS BIGINT) AS sum_chars,
       3 AS carried_verbatim, 0 AS agg_drift
FROM documents
WHERE doc_id % 3 = 0
GROUP BY source
"""


def cdf_preimages_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Delta CDF's update pre/post-image pair as an oracle-checked
    query: `table_changes(..., include_preimages=True)` over the shared
    two-commit fixture emits each updated key TWICE — `update_preimage`
    with the v1 values, `update_postimage` with the v2 values — plus
    the plain inserts, all from the SAME single full-outer diff (the
    image pair is a per-row explode, not a re-join)."""
    table = _two_commit_table(spark, sf_dir)
    return table_changes(spark, table, 1, include_preimages=True)


CDF_PREIMAGES_SQL = """
SELECT doc_id, 'insert' AS change_type, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT doc_id, 'update_preimage' AS change_type, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 6 = 0 AND n_chars <> 0
UNION ALL
SELECT doc_id, 'update_postimage' AS change_type, source,
       CAST(n_chars AS BIGINT) * 2 AS n_chars
FROM documents WHERE doc_id % 6 = 0 AND n_chars <> 0
"""


def _docs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


def _fixture_table(source: DataFrame, kind: str, build_fn) -> str:
    """A manifest-table FIXTURE cached per corpus snapshot (VERDICT r6
    directive 3: the lifecycle queries must measure the READ they
    showcase, not the fixture's commits — pre-hoist the steady loop was
    re-paying ~2 s of commit wall per run and `manifest_lookup` steady
    exceeded its own cold). Same artifact mechanism as the LSH pair
    graph / IVF index (operators/artifacts.materialize_dir): one build
    per (kind, corpus snapshot), exit-cleaned, and bench's
    `build_count()` hook splits {build, probe} automatically.

    MUTATING queries (MoR delete, UPDATE WHERE, RESTORE, MERGE INTO,
    CDC propagation) run their mutation INSIDE `build_fn` and get a
    PRIVATE kind — a cached fixture must never be mutated after
    publication, or the second invocation reads a different table."""
    from ..operators.artifacts import materialize_dir

    def build(path: str) -> None:
        build_fn(os.path.join(path, "t"))

    return os.path.join(materialize_dir(source, kind, build), "t")


def _two_commit_table(spark: SparkSession, sf_dir: str) -> str:
    """The shared READ-ONLY fixture of the manifest queries: commit a
    base snapshot (doc_id %3==0), then a second commit that UPDATES half
    the base keys (%6==0, n_chars doubled) and INSERTS a disjoint set
    (%3==1). Cached per corpus snapshot; consumers (manifest_merge,
    manifest_changes, manifest_lookup, manifest_skip_scan,
    manifest_history) only READ it — mutating queries build their own
    fixture kinds."""
    docs = _docs_frame(spark, sf_dir)
    return _fixture_table(
        docs,
        "manifest_two_commit",
        lambda table: _build_two_commits(spark, docs, table),
    )


def _build_two_commits(spark: SparkSession, docs: DataFrame, table: str) -> None:
    base = docs.filter(F.col("doc_id") % 3 == 0)
    updates = docs.filter(F.col("doc_id") % 6 == 0).withColumn(
        "n_chars", F.col("n_chars") * 2
    )
    inserts = docs.filter(F.col("doc_id") % 3 == 1)
    manifest_upsert(spark, table, base, ["doc_id"], n_buckets=8)
    manifest_upsert(
        spark, table, updates.unionByName(inserts), ["doc_id"], n_buckets=8
    )


def manifest_lookup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The metadata-skipping point lookup as an oracle-checked
    query: two-commit merge table, then `read_manifest_lookup` of every
    doc_id ≡ 0 (mod 25) — present keys return their MERGED (v2) row,
    absent keys (%3==2, never committed) return nothing, and the read
    opens only the bucket dirs the requested keys hash into (pinned by
    the inputFiles test in test_manifest.py).

    The requested-key LIST is query INPUT, not the measured operator —
    it is memoized per corpus snapshot so a steady-state invocation
    times the pruned lookup read, not a documents scan (r6 directive 3:
    measure the read the query showcases). The draw is a FIXED-K
    hash-order TakeOrdered over the %25 candidates (VERDICT r8
    directive 5): the old `|docs|/25` collect grew linearly with the
    corpus; this one is O(K) at any scale, and the oracle replays the
    identical sha2-prefix order in SQL."""
    from ..catalog import load_table
    from ..operators.artifacts import corpus_key
    from ..operators.hashing import sha_prefix_hash

    table = _two_commit_table(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    key = corpus_key(docs)
    cached_key, cached_ids = _LOOKUP_IDS
    ids = cached_ids if key is not None and key == cached_key else None
    if ids is None:
        draw_key = sha_prefix_hash(
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.lit("lookup-k")
            )
        )
        ids = [
            {"doc_id": r.doc_id}
            for r in docs.filter(F.col("doc_id") % 25 == 0)
            .select("doc_id", draw_key.alias("draw"))
            .orderBy("draw", "doc_id")  # TakeOrdered: no global sort
            .limit(LOOKUP_K)
            .collect()  # bounded: exactly min(K, |candidates|) rows
        ]
        if key is not None:
            globals()["_LOOKUP_IDS"] = (key, ids)
    return read_manifest_lookup(spark, table, ids)


#: fixed lookup-workload size — the fixture's driver-side collect is
#: O(K) regardless of corpus scale
LOOKUP_K = 200


# most-recent corpus snapshot only (single (key, ids) pair, not a dict):
# a long-lived session regenerating the corpus must not accumulate
# stale entries (ADVICE r7)
_LOOKUP_IDS: tuple[tuple | None, list[dict] | None] = (None, None)


def _manifest_lookup_sql() -> str:
    from ..operators.hashing import sha_prefix_hash_sql

    h = sha_prefix_hash_sql("CAST(doc_id AS VARCHAR) || ':lookup-k'")
    return f"""
WITH cand AS (
  SELECT doc_id FROM documents WHERE doc_id % 25 = 0
  ORDER BY {h}, doc_id
  LIMIT {LOOKUP_K}
)
SELECT d.doc_id, d.source,
       CASE WHEN d.doc_id % 6 = 0 THEN CAST(d.n_chars AS BIGINT) * 2
            ELSE CAST(d.n_chars AS BIGINT) END AS n_chars
FROM documents d JOIN cand USING (doc_id)
WHERE d.doc_id % 3 <> 2
"""


MANIFEST_LOOKUP_SQL = _manifest_lookup_sql()


def manifest_skip_scan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The stats-pruned predicate read as an oracle-checked query:
    `read_manifest_table(skip=...)` over the two-commit table with an
    n_chars range conjunct — dirs whose recorded [min, max] fall outside
    the range are never opened, and the residual filter keeps the result
    exact regardless of how much pruning the stats allowed."""
    table = _two_commit_table(spark, sf_dir)
    df = read_manifest_table(
        spark, table, skip=[("n_chars", "between", (300, 900))]
    )
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
    )


MANIFEST_SKIP_SCAN_SQL = """
WITH v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 6 = 0 THEN CAST(n_chars AS BIGINT) * 2
              ELSE CAST(n_chars AS BIGINT) END AS n_chars
  FROM documents WHERE doc_id % 3 <> 2
)
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM v2 WHERE n_chars BETWEEN 300 AND 900
GROUP BY source
"""


#: the bloom_skip_scan probe list — FIXED literals (no driver collect):
#: tags of doc_ids on the 97-grid (present wherever the corpus reaches
#: that id) plus tags no document ever writes (pruned to zero IO by the
#: bitmaps — pinned by test_manifest_bloom.py)
BLOOM_PROBE_TAGS = [f"t{i * 97}" for i in range(32)] + [
    f"absent{i}" for i in range(8)
]


def bloom_skip_scan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Bloom-pruned equality probe as an oracle-checked query
    (sinks/bloom.py): documents land keyed by doc_id with a
    high-cardinality `tag` column (`'t' || doc_id` — min/max stats
    cannot prune an equality probe on it: every bucket's [min, max]
    spans the whole tag space), `add_bloom_index('tag')` backfills
    per-bucket bitmaps, and an IN probe of 40 fixed tags opens only the
    bucket dirs whose bitmaps admit at least one probed value. The
    residual filter keeps the result exact at any false-positive rate;
    absent tags are provably-absent and contribute zero IO."""
    docs = _docs_frame(spark, sf_dir).withColumn(
        "tag", F.concat(F.lit("t"), F.col("doc_id").cast("string"))
    )

    def build(table: str) -> None:
        manifest_upsert(spark, table, docs, ["doc_id"], n_buckets=8)
        add_bloom_index(spark, table, "tag")

    table = _fixture_table(docs, "manifest_bloom", build)
    df = read_manifest_table(
        spark, table, skip=[("tag", "in", list(BLOOM_PROBE_TAGS))]
    )
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
    )


BLOOM_SKIP_SCAN_SQL = f"""
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE 't' || CAST(doc_id AS VARCHAR) IN (
  {", ".join(f"'{t}'" for t in BLOOM_PROBE_TAGS)}
)
GROUP BY source
"""


def column_mapping_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Column mapping (metadata-only RENAME/DROP COLUMN) as an
    oracle-checked query. Build: documents land with an extra
    `tmp_flag` column; `n_chars` is RENAMED to `body_chars` (zero bytes
    move); `tmp_flag` is DROPPED (bytes stay, tombstoned); a second
    batch then upserts doc_id%3==1 under the NEW logical name with
    tripled chars AND RE-ADDS `tmp_flag` — which gets a fresh physical
    name, so the dropped bytes still sitting in untouched buckets must
    read NULL, never the old values. The aggregate proves all of it
    cross-engine: `sum_chars` exercises the rename through write and
    read edges, `n_flagged` (non-null count) is exactly the second
    batch — any resurrection of dropped bytes would inflate it."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        base = docs.withColumn(
            "tmp_flag", (F.col("doc_id") % 2).cast("long")
        )
        manifest_upsert(spark, table, base, ["doc_id"], n_buckets=8)
        rename_column(spark, table, "n_chars", "body_chars")
        drop_column(spark, table, "tmp_flag")
        batch2 = (
            docs.filter(F.col("doc_id") % 3 == 1)
            .withColumn("body_chars", F.col("n_chars") * 3)
            .drop("n_chars")
            .withColumn("tmp_flag", F.lit(99).cast("long"))
        )
        manifest_upsert(spark, table, batch2, ["doc_id"])

    table = _fixture_table(docs, "manifest_colmap", build)
    df = read_manifest_table(spark, table)
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("body_chars").alias("sum_chars"),
        F.count("tmp_flag").alias("n_flagged"),
    )


COLUMN_MAPPING_SQL = """
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN CAST(n_chars AS BIGINT) * 3
                ELSE CAST(n_chars AS BIGINT) END) AS BIGINT) AS sum_chars,
       CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM documents
GROUP BY source
"""


def zorder_skip_scan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Clustered-file skipping (OPTIMIZE ZORDER) as an
    oracle-checked query: orders land keyed by o_orderkey (a price
    predicate prunes NO bucket dirs — hash-bucketing spreads the price
    range into all of them), then a clustered optimize re-lays each
    bucket into price-ranged files with per-file stats, and the skip
    read opens only the files whose [min, max] overlap the band (file
    count pinned by test_manifest.py). The residual filter keeps the
    result exact either way."""
    from ..catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    def build(table: str) -> None:
        manifest_upsert(spark, table, orders, ["o_orderkey"], n_buckets=8)
        optimize_table(
            spark, table, cluster_by=["o_totalprice"], files_per_bucket=4
        )

    table = _fixture_table(orders, "manifest_zorder", build)
    df = read_manifest_table(
        spark, table,
        skip=[("o_totalprice", "between", (150000.0, 250000.0))],
    )
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_price_cents"
        ),
    )


ZORDER_SKIP_SCAN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM orders
WHERE o_totalprice BETWEEN 150000.0 AND 250000.0
GROUP BY o_orderpriority
"""


def read_manifest_cojoin(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    version_left: int | None = None,
    version_right: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """SHUFFLE-FREE keyed inner join of two manifest tables that share
    a bucket layout (same merge keys, same n_buckets) — the format's
    storage-partitioned join (Iceberg SPJ / Spark bucketed-join
    semantics, planned driver-side from the two manifests):

    * both layouts assign a key to `pmod(xxhash64(keys), n)`, so bucket
      b of the left table can only join bucket b of the right — the
      plan is one task per bucket id reading BOTH sides' immutable
      bucket dirs and merging in Arrow/pandas;
    * the only Exchange in the Spark plan moves the n_buckets PLAN rows
      (bucket id + file lists), never table data — at 100 TB the join
      ships zero bytes through a shuffle, the property co-locating two
      fact tables on the same key layout exists to buy;
    * pending MoR delete files apply per side inside the task, so both
      inputs read exactly their committed snapshots.

    `how` is one of:

    * ``"inner"`` — both sides' columns (non-key names must not
      collide);
    * ``"left_semi"`` / ``"left_anti"`` — left columns only; the right
      side reads ONLY its key columns (the blocklist-filter /
      decontamination shape: keep or drop left rows by membership in a
      co-located key set, zero bytes shuffled). Anti keeps null-keyed
      left rows and passes whole buckets through when the right side is
      empty — SQL semantics: null matches nothing.

    Raises when the layouts are not join-compatible (align first with
    `optimize_table(n_buckets=...)`) or, for inner, when non-key column
    names collide. The OUTER variants belong to the shuffle path where
    Spark's planner owns null-extension."""
    if how not in ("inner", "left_semi", "left_anti"):
        raise ValueError(
            f"how={how!r}: supported modes are inner, left_semi, left_anti"
        )
    ml = read_manifest(left_table, version_left)
    mr = read_manifest(right_table, version_right)
    if ml is None or mr is None:
        raise FileNotFoundError("both sides need a committed manifest")
    keys = ml["keys"]
    if keys != mr["keys"]:
        raise ValueError(
            f"merge keys differ: {keys} vs {mr['keys']} — co-located join "
            "requires identical key columns"
        )
    if ml["n_buckets"] != mr["n_buckets"]:
        raise ValueError(
            f"bucket layouts differ ({ml['n_buckets']} vs "
            f"{mr['n_buckets']}): align with optimize_table(n_buckets=...) "
            "or use a regular shuffle join"
        )
    ls, rs = _data_schema(ml), _data_schema(mr)
    lf_by, rf_by = {f.name: f for f in ls.fields}, {
        f.name: f for f in rs.fields
    }
    for k in keys:
        if lf_by[k].dataType != rf_by[k].dataType:
            # same value, different width = different xxhash64 path =
            # different bucket: the join would be silently mostly-empty
            raise ValueError(
                f"key {k!r} types differ ({lf_by[k].dataType.simpleString()}"
                f" vs {rf_by[k].dataType.simpleString()}): the engine hash "
                "is width-sensitive, so the layouts are not co-located — "
                "cast one side and rewrite before joining"
            )
    if how == "inner":
        overlap = (set(ls.names) & set(rs.names)) - set(keys)
        if overlap:
            raise ValueError(
                f"non-key columns collide: {sorted(overlap)} — rename "
                "before joining"
            )
    from pyspark.sql.types import StructField

    if how == "inner":
        out_schema = StructType(
            [StructField(f.name, f.dataType, True) for f in ls.fields]
            + [
                StructField(f.name, f.dataType, True)
                for f in rs.fields
                if f.name not in keys
            ]
        )
    else:  # semi/anti emit the LEFT relation filtered by membership
        out_schema = StructType(
            [StructField(f.name, f.dataType, True) for f in ls.fields]
        )
    l_names = [f.name for f in ls.fields]
    # semi/anti only test key membership: read nothing else off disk
    r_names = [f.name for f in rs.fields] if how == "inner" else list(keys)
    out_names = [f.name for f in out_schema.fields]

    def files_and_deletes(mf_, table_path, b):
        d = mf_["buckets"].get(b)
        files = (
            [
                os.path.join(table_path, d, fn)
                for fn in sorted(os.listdir(os.path.join(table_path, d)))
                if fn.endswith(".parquet")
            ]
            if d
            else []
        )
        dels = [
            os.path.join(table_path, dd, fn)
            for dd in mf_.get("deletes", {}).get(b, [])
            for fn in sorted(os.listdir(os.path.join(table_path, dd)))
            if fn.endswith(".parquet")
        ]
        return files, dels

    plan_rows = []
    for b in range(ml["n_buckets"]):
        bs = str(b)
        lf, ld = files_and_deletes(ml, left_table, bs)
        rf, rd = files_and_deletes(mr, right_table, bs)
        if not lf:
            continue  # no left rows: nothing to emit in any mode
        if not rf and how != "left_anti":
            continue  # inner/semi: an empty right side matches nothing
        # left_anti with an empty right bucket passes the left through
        plan_rows.append(
            (
                b,
                json.dumps(lf),
                json.dumps(ld),
                json.dumps(rf),
                json.dumps(rd),
            )
        )
    plan = spark.createDataFrame(
        plan_rows or [(0, "[]", "[]", "[]", "[]")],
        "bucket int, lf string, ld string, rf string, rd string",
    )
    n_parts = max(1, len(plan_rows))
    # RANGE partitioning, not hash: with n distinct bucket ids into n
    # partitions, hashing birthday-collides ~1/e of slots empty while
    # some tasks own 2-3 buckets and serialize them; ranges over the
    # tiny plan relation give (near-)one task per bucket
    plan = plan.repartitionByRange(n_parts, "bucket")
    keys_local = list(keys)
    # column mapping per side: files hold physical names; the join and
    # its output run on logical ones (keys are never renamable)
    l_inv = {p: ln for ln, p in _mapping(ml).items()}
    r_inv = {p: ln for ln, p in _mapping(mr).items()}
    l_ret = list(ml.get("retired_physical", []))
    r_ret = list(mr.get("retired_physical", []))

    def join_buckets(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from trail_condition_etl_spark.sources.manifest_source import (
            _delete_key_set,
        )

        def load(files, dels, names, inv_map, retired, project=False):
            if not files:
                return pd.DataFrame(columns=names)
            if project:
                # project per FILE, not post-decode: semi/anti right
                # sides must read only their key columns off disk (the
                # documented IO property the modes exist for). Evolved
                # files may lack some of `names` — intersect per file,
                # null-fill below. Costs one footer inspection per
                # file, so the full-width sides skip it (their `names`
                # IS the file column set; nothing to prune).
                parts = []
                for f in files:
                    pf = pq.ParquetFile(f)
                    have = [
                        c for c in names if c in pf.schema_arrow.names
                    ]
                    parts.append(pf.read(columns=have))
            else:
                parts = [pq.read_table(f) for f in files]
            tbl = pa.concat_tables(parts, promote_options="default")
            df = tbl.to_pandas()
            # column mapping: retire tombstoned physical names, then
            # rename surviving physical -> logical (order matters: a
            # re-added column's fresh physical must win the name)
            drop = [c for c in retired if c in df.columns]
            if drop:
                df = df.drop(columns=drop)
            if inv_map:
                df = df.rename(columns=inv_map)
            for c in names:  # additive evolution: missing -> null
                if c not in df.columns:
                    df[c] = None
            df = df[names]
            if dels and len(df):
                gone = _delete_key_set(dels, keys_local)
                mask = [
                    t not in gone
                    for t in df[keys_local].itertuples(
                        index=False, name=None
                    )
                ]
                df = df[pd.Series(mask, index=df.index)]
            return df

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                lfs = json.loads(row.lf)
                rfs = json.loads(row.rf)
                if not lfs or (not rfs and how != "left_anti"):
                    continue
                left = load(lfs, json.loads(row.ld), l_names, l_inv, l_ret)
                right = load(
                    rfs,
                    json.loads(row.rd),
                    r_names,
                    r_inv,
                    r_ret,
                    project=how != "inner",
                )
                # SQL join semantics: null never equals null. pandas
                # merge would match NaN keys (and a null in an int key
                # column float-coerces it), so null-keyed rows leave the
                # match set — kept on the left for anti (null matches
                # nothing), dropped everywhere else.
                right = right.dropna(subset=keys_local)
                if how == "inner":
                    left = left.dropna(subset=keys_local)
                    if not len(left) or not len(right):
                        continue
                    joined = left.merge(right, on=keys_local, how="inner")
                elif how == "left_semi":
                    left = left.dropna(subset=keys_local)
                    if not len(left) or not len(right):
                        continue
                    rset = set(
                        right[keys_local].itertuples(index=False, name=None)
                    )
                    mask = [
                        t in rset
                        for t in left[keys_local].itertuples(
                            index=False, name=None
                        )
                    ]
                    joined = left[pd.Series(mask, index=left.index)]
                else:  # left_anti
                    if not len(left):
                        continue
                    rset = set(
                        right[keys_local].itertuples(index=False, name=None)
                    )
                    mask = [
                        t not in rset
                        for t in left[keys_local].itertuples(
                            index=False, name=None
                        )
                    ]
                    joined = left[pd.Series(mask, index=left.index)]
                if len(joined):
                    yield joined[out_names]

    return plan.mapInPandas(join_buckets, schema=out_schema)


COLOCATED_ANTI_JOIN_SQL = """
WITH l AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
), b AS (
  SELECT doc_id FROM documents WHERE doc_id % 7 = 0 AND doc_id % 35 <> 0
)
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM l
WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.doc_id = l.doc_id)
GROUP BY source
"""


def colocated_anti_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The co-located ANTI join as an oracle-checked query — the
    blocklist-decontamination shape at table scale: a corpus table
    (%2==0) filtered by a blocklist table (%7==0, with a %35 MoR delete
    narrowing it) sharing the same key + bucket layout. One task per
    bucket, the right side reads ONLY its key columns, buckets with no
    blocklist rows pass through untouched, zero table bytes shuffle."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        os.makedirs(table, exist_ok=True)  # lease dirs are siblings
        left, block = os.path.join(table, "l"), os.path.join(table, "b")
        manifest_upsert(
            spark,
            left,
            docs.filter(F.col("doc_id") % 2 == 0),
            ["doc_id"],
            n_buckets=8,
        )
        manifest_upsert(
            spark,
            block,
            docs.filter(F.col("doc_id") % 7 == 0).select(
                "doc_id", F.lit("blocked").alias("reason")
            ),
            ["doc_id"],
            n_buckets=8,
        )
        delete_where(spark, block, F.col("doc_id") % 35 == 0)

    root = _fixture_table(docs, "colocated_anti_join", build)
    kept = read_manifest_cojoin(
        spark,
        os.path.join(root, "l"),
        os.path.join(root, "b"),
        how="left_anti",
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
    )


COLOCATED_JOIN_SQL = """
WITH l AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 30 <> 0
), r AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) % 97 + 1 AS score
  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 42 <> 0
)
SELECT source, COUNT(*) AS n_rows,
       CAST(SUM(n_chars * score) AS BIGINT) AS weighted
FROM l JOIN r USING (doc_id)
GROUP BY source
"""


def colocated_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The co-located bucket join as an oracle-checked query: two
    manifest tables built on the SAME key + bucket layout (left: docs
    %2==0 with a %30 MoR delete; right: a derived score table %3==0
    with a %42 MoR delete) joined via `read_manifest_cojoin` — one task
    per bucket, both sides' deletes applied in-task, zero data bytes
    shuffled — then aggregated per source. The oracle replays the same
    join in SQL."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        # sibling tables under one fixture root so both bind to the
        # same corpus snapshot
        os.makedirs(table, exist_ok=True)  # lease dirs are siblings
        left, right = os.path.join(table, "l"), os.path.join(table, "r")
        manifest_upsert(
            spark,
            left,
            docs.filter(F.col("doc_id") % 2 == 0),
            ["doc_id"],
            n_buckets=8,
        )
        delete_where(spark, left, F.col("doc_id") % 30 == 0)
        manifest_upsert(
            spark,
            right,
            docs.filter(F.col("doc_id") % 3 == 0).select(
                "doc_id", (F.col("n_chars") % 97 + 1).alias("score")
            ),
            ["doc_id"],
            n_buckets=8,
        )
        delete_where(spark, right, F.col("doc_id") % 42 == 0)

    root = _fixture_table(docs, "colocated_join", build)
    joined = read_manifest_cojoin(
        spark, os.path.join(root, "l"), os.path.join(root, "r")
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_chars") * F.col("score")).alias("weighted"),
    )


MANIFEST_CLONE_SQL = """
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0 THEN CAST(n_chars AS BIGINT) * 2
              ELSE CAST(n_chars AS BIGINT) END AS n_chars
  FROM documents WHERE doc_id % 3 <> 2
), cl AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 1 THEN CAST(n_chars AS BIGINT) * 3
              ELSE CAST(n_chars AS BIGINT) END AS n_chars
  FROM documents WHERE doc_id % 3 <> 2
)
SELECT 'source' AS part, COUNT(*) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM v2
UNION ALL
SELECT 'clone' AS part, COUNT(*) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM cl
"""


def manifest_clone_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SHALLOW CLONE as an oracle-checked query: the two-commit
    source is cloned AT VERSION 1 (a metadata-only commit referencing
    the source's segments — zero data copied), then the clone takes
    its own copy-on-write upsert (%3==1 inserts, n_chars tripled).
    The per-table aggregates pin everything the feature claims at
    once: the clone's base rows are the PRE-UPDATE v1 values (time
    travel pin — a clone of v2 would leak the %6 doubling), the
    clone's write never reaches the source, and the source's merged
    v2 state never reaches the clone."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        os.makedirs(table, exist_ok=True)  # lease dirs are siblings
        src = os.path.join(table, "src")
        cl = os.path.join(table, "clone")
        _build_two_commits(spark, docs, src)
        clone_table(spark, src, cl, version=1)
        manifest_upsert(
            spark,
            cl,
            docs.filter(F.col("doc_id") % 3 == 1).withColumn(
                "n_chars", F.col("n_chars") * 3
            ),
            ["doc_id"],
        )

    root = _fixture_table(docs, "manifest_clone", build)

    def agg(table: str, label: str) -> DataFrame:
        return read_manifest_table(spark, table).agg(
            F.lit(label).alias("part"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )

    return agg(os.path.join(root, "src"), "source").unionByName(
        agg(os.path.join(root, "clone"), "clone")
    )


def clone_guard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The clone retention GUARD as an oracle-checked query
    (VERDICT r9 directive 8, plus the r10 transitive-pin fix): chain
    shallow clones C <- B <- A, materialize + release B, then rewrite
    A. A's vacuum must REFUSE while grandchild C still references A's
    v1 segments — C's pin registered under A directly, because its
    manifest's absolute refs point into A's data dir, not B's. After C
    materializes and releases, the same sweep succeeds. The result row
    carries the guard verdicts AND proves C still reads the exact v1
    snapshot through the whole lifecycle."""
    docs = _docs_frame(spark, sf_dir)

    def build(root: str) -> None:
        os.makedirs(root, exist_ok=True)
        a = os.path.join(root, "a")
        b = os.path.join(root, "b")
        c = os.path.join(root, "c")
        base = docs.filter(F.col("doc_id") % 4 == 0)
        manifest_upsert(spark, a, base, ["doc_id"], n_buckets=8)
        clone_table(spark, a, b)
        clone_table(spark, b, c)  # refs still point into A's data dir
        # B materializes itself and severs its own dependency on A —
        # the historical silent-breakage window: only C reads A now
        optimize_table(spark, b)
        vacuum(b, keep_last=1)
        release_clone(a, b)
        # A rewrites; its kept manifest no longer covers C's segments
        optimize_table(spark, a)
        guard_fired = 0
        try:
            vacuum(a, keep_last=1)
        except VacuumRetentionError:
            guard_fired = 1
        # C materializes + releases; the same sweep must now succeed
        optimize_table(spark, c)
        vacuum(c, keep_last=1)
        released = int(release_clone(a, c))
        swept_ok = 1
        try:
            vacuum(a, keep_last=1)
        except VacuumRetentionError:
            swept_ok = 0
        with open(os.path.join(root, "_guard_note.json"), "w") as fh:
            json.dump(
                {
                    "guard_fired": guard_fired,
                    "released": released,
                    "swept_ok": swept_ok,
                    "src_versions_after": len(list_versions(a)),
                },
                fh,
            )

    root = _fixture_table(docs, "clone_guard", build)
    with open(os.path.join(root, "_guard_note.json")) as fh:
        note = json.load(fh)
    return read_manifest_table(spark, os.path.join(root, "c")).agg(
        F.count(F.lit(1)).alias("clone_rows"),
        F.sum("n_chars").alias("clone_chars"),
        F.lit(int(note["guard_fired"])).alias("guard_fired"),
        F.lit(int(note["released"])).alias("released"),
        F.lit(int(note["swept_ok"])).alias("swept_ok"),
        F.lit(int(note["src_versions_after"])).alias("src_versions_after"),
    )


CLONE_GUARD_SQL = """
SELECT COUNT(*) AS clone_rows, CAST(SUM(n_chars) AS BIGINT) AS clone_chars,
       1 AS guard_fired, 1 AS released, 1 AS swept_ok,
       1 AS src_versions_after
FROM documents WHERE doc_id % 4 = 0
"""


def manifest_history_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] DESCRIBE HISTORY + the metadata-only COUNT(*) as an
    oracle-checked query: the two-commit merge table's commit log, with
    `table_rows` computed from the per-bucket row counts recorded at
    commit — zero data files opened — which the oracle recomputes by
    actually counting the documents table."""
    table = _two_commit_table(spark, sf_dir)
    return describe_history(spark, table).select(
        "version", "operation", "table_rows"
    )


MANIFEST_HISTORY_SQL = """
SELECT 1 AS version, 'upsert' AS operation,
       (SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 0) AS table_rows
UNION ALL
SELECT 2 AS version, 'upsert' AS operation,
       (SELECT COUNT(*) FROM documents WHERE doc_id % 3 <> 2) AS table_rows
"""


def merge_into_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Conditional MERGE INTO as an oracle-checked query. Target:
    docs %3==0. Source: docs %2==0 with n_chars tripled (so the sides
    genuinely differ). Clauses: matched rows whose src.n_chars ≡ 0
    (mod 7) DELETE; of the rest, those with src.doc_id ≡ 0 (mod 4) get
    n_chars = tgt + src (4x the original); other matched rows keep the
    target value; unmatched source rows INSERT. The summary aggregates
    the post-merge table — one atomic commit — which the oracle
    re-derives from `documents` with the same clause algebra."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        manifest_upsert(
            spark, table, docs.filter(F.col("doc_id") % 3 == 0), ["doc_id"],
            n_buckets=8,
        )
        src = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
            "n_chars", F.col("n_chars") * 3
        )
        merge_into(
            spark,
            table,
            src,
            when_matched_update={
                "n_chars": F.col("tgt.n_chars") + F.col("src.n_chars")
            },
            matched_condition=F.col("src.doc_id") % 4 == 0,
            when_matched_delete=F.col("src.n_chars") % 7 == 0,
        )

    table = _fixture_table(docs, "manifest_merge_into", build)
    return (
        read_manifest_table(spark, table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


MERGE_INTO_SQL = """
WITH t AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n
  FROM documents WHERE doc_id % 3 = 0
),
s AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) * 3 AS n
  FROM documents WHERE doc_id % 2 = 0
),
final AS (
  SELECT t.doc_id, t.source,
         CASE WHEN t.doc_id % 4 = 0 THEN t.n + s.n ELSE t.n END AS n
  FROM t JOIN s USING (doc_id) WHERE s.n % 7 <> 0
  UNION ALL
  SELECT t.doc_id, t.source, t.n FROM t
  WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.doc_id = t.doc_id)
  UNION ALL
  SELECT s.doc_id, s.source, s.n FROM s
  WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.doc_id = s.doc_id)
)
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n) AS BIGINT) AS sum_chars
FROM final GROUP BY source
"""


def merge_by_source_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] MERGE with WHEN NOT MATCHED BY SOURCE clauses as an
    oracle-checked query — the sync-deletion shape: target docs %3==0,
    source the CURRENT feed (%2==0, n_chars doubled). Matched rows take
    the feed value; unmatched feed rows INSERT; target rows that LEFT
    the feed (odd multiples of 3) retire conditionally — DELETE where
    tgt.n_chars ≡ 0 (mod 7), else flag via n_chars+1000 where ≡ 0
    (mod 5), else untouched (and untouched rows never enter the write
    batch, so their buckets carry by reference). One atomic commit;
    the oracle re-derives the final table from `documents`."""
    docs = _docs_frame(spark, sf_dir)

    def build(table: str) -> None:
        manifest_upsert(
            spark, table, docs.filter(F.col("doc_id") % 3 == 0), ["doc_id"],
            n_buckets=8,
        )
        src = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
            "n_chars", F.col("n_chars") * 2
        )
        merge_into(
            spark,
            table,
            src,
            when_matched_update={"n_chars": F.col("src.n_chars")},
            when_not_matched_by_source_delete=F.col("tgt.n_chars") % 7
            == 0,
            when_not_matched_by_source_update={
                "n_chars": F.col("tgt.n_chars") + 1000
            },
            not_matched_by_source_condition=F.col("tgt.n_chars") % 5 == 0,
        )

    table = _fixture_table(docs, "manifest_merge_by_source", build)
    return (
        read_manifest_table(spark, table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


MERGE_BY_SOURCE_SQL = """
WITH final AS (
  SELECT source, CAST(n_chars AS BIGINT) * 2 AS n
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT source,
         CASE WHEN CAST(n_chars AS BIGINT) % 5 = 0
              THEN CAST(n_chars AS BIGINT) + 1000
              ELSE CAST(n_chars AS BIGINT) END AS n
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0
    AND CAST(n_chars AS BIGINT) % 7 <> 0
)
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n) AS BIGINT) AS sum_chars
FROM final GROUP BY source
"""


MANIFEST_MERGE_SQL = """
WITH v1 AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 3 = 0
),
v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 6 = 0 THEN CAST(n_chars AS BIGINT) * 2
              ELSE CAST(n_chars AS BIGINT) END AS n_chars
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 3 = 1
)
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       1 AS version
FROM v1 GROUP BY source
UNION ALL
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       2 AS version
FROM v2 GROUP BY source
"""
