"""Per-bucket bloom filters for equality pruning on high-cardinality
columns (Delta's BLOOMFILTER INDEX, reduced to the manifest format's
per-bucket granularity).

Min/max stats prune RANGE predicates well once data is clustered, but
they are useless for `col = 'needle'` on a column whose values spread
across every bucket's full range — exactly the shape of an id / URL /
content-hash probe on a table hash-bucketed by a DIFFERENT key. A
blocked bloom per (bucket, column) answers "can this bucket contain the
value?" in metadata: k seeded xxhash64 positions, all-set => maybe
(open the dir), any-clear => provably absent (never opened).

Soundness mirrors the stats contract (docs/TABLE_FORMAT.md invariant
4): a bloom can only FALSE-POSITIVE (open a dir that held no match —
the residual filter keeps results exact), never false-negative, because
every value written into a bucket sets its bits at commit time and
merge-on-read deletes leave the bitmap untouched (rows only disappear;
a stale 'maybe' is a wasted read, a stale 'absent' would be a wrong
result). Every commit that rewrites a bucket records its fresh bitmap;
a bucket with no recorded bitmap is never pruned by it (absent =
unprunable = sound).

Hash contract: positions are `pmod(xxhash64(col, seed_i), m)` computed
JVM-side at commit (`F.xxhash64` chains the column value then the seed
literal) and replicated driver-side at probe time by
`sinks/keyhash.spark_xxhash64` — the same bit-for-bit replica the
bucket planner uses, pinned by test_manifest.py's xxhash64 parity test.

Scale note (100 TB): bitmaps ride the manifest JSON at m/8 bytes per
(bucket, column) — 1 KiB at the default m=8192. At the 800k-bucket
scale of docs/TABLE_FORMAT.md's sizing rule, the stats block (blooms
included) would shard into per-bucket-range sidecar manifests exactly
as Iceberg splits manifest-list from manifests; the probe path is
unchanged because a point probe touches one bitmap per bucket it
cannot already rule out.

Reference parity note: the reference has no secondary indexes at all —
its per-city read-back (categorize-trail-conditions/src/client.py:31-56)
only ever probes the partition key. This module is [EXT] surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .keyhash import spark_xxhash64

#: default bitmap size in BITS (must be a multiple of 8). 8192 bits
#: holds ~850 distinct values at 1% fpr with k=3; tables expecting more
#: distinct values per bucket pass a bigger m to add_bloom_index.
DEFAULT_M = 8192

#: default number of seeded hash functions
DEFAULT_K = 3

#: column types blooms support: the types keyhash.py can replicate
#: driver-side (ints/longs/strings). Anything else raises at
#: add_bloom_index time rather than silently never pruning.
_BLOOM_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}

#: keyhash._STEPS type name for hashing a bloom SEED literal (F.lit(i)
#: is an IntegerType literal, so the driver replica chains an 'int')
_SEED_TYPE = "int"


def bloom_supported(type_name: str) -> bool:
    return type_name in _BLOOM_TYPES


def _position_cols(col: str, m: int, k: int) -> F.Column:
    """Array of this row's k bit positions, JVM-side: the value chains
    into each seed literal exactly as the driver replica does."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m)).cast("int")
            for i in range(1, k + 1)
        ]
    )


def probe_positions(value, type_name: str, m: int, k: int) -> list[int]:
    """The k bit positions `value` would set — driver-side arithmetic,
    bit-identical to `_position_cols` (same chained xxhash64)."""
    return [
        spark_xxhash64((value, i), [type_name, _SEED_TYPE]) % m
        for i in range(1, k + 1)
    ]


def _pack(positions: list[int], m: int) -> str:
    bits = bytearray(m // 8)
    for p in positions:
        bits[p >> 3] |= 1 << (p & 7)
    return bits.hex()


def _bit_set(bitmap_hex: str, p: int) -> bool:
    byte = bitmap_hex[(p >> 3) * 2 : (p >> 3) * 2 + 2]
    return bool(int(byte, 16) & (1 << (p & 7)))


def collect_bloom_stats(
    seg: DataFrame, cfg: dict[str, list[int]]
) -> dict[str, dict[str, str]]:
    """{bucket -> {col -> bitmap hex}} for a freshly written segment
    frame (must carry `pk_bucket`). ONE Spark job for ALL indexed
    columns: per column, explode this row's k positions, union the
    per-column position streams, and collect the distinct positions per
    (bucket, column) — output bounded by n_buckets * n_cols * m, the
    same order as the bitmaps themselves. Null values set no bits
    (null probes go through the null_count stat, not the bloom)."""
    cols = [c for c in cfg if c in seg.columns]
    if not cols:
        return {}
    parts = []
    for c in cols:
        m, k = cfg[c]
        parts.append(
            seg.where(F.col(c).isNotNull()).select(
                F.col("pk_bucket"),
                F.lit(c).alias("__c"),
                F.explode(_position_cols(c, m, k)).alias("__p"),
            )
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = (
        union.groupBy("pk_bucket", "__c")
        .agg(F.collect_set("__p").alias("__ps"))
        .collect()
    )
    out: dict[str, dict[str, str]] = {}
    for r in rows:
        m, _ = cfg[r["__c"]]
        out.setdefault(str(r["pk_bucket"]), {})[r["__c"]] = _pack(
            r["__ps"], m
        )
    return out


def bloom_may_match(
    mf: dict, bucket: str, skip: list[tuple], type_names: dict[str, str]
) -> bool:
    """Conservative bloom containment for one bucket: False ONLY when
    some `=` / `in` conjunct's value(s) provably set no complete bit
    pattern in that bucket's bitmap. Missing config, missing bitmap,
    non-equality ops, unreplicable values => True (never prune blind).

    `type_names`: column -> Spark simpleString type (from the manifest
    schema) — the driver replica needs the type to pick its hash step.
    """
    cfg = mf.get("bloom") or {}
    if not cfg:
        return True
    blooms = (mf.get("blooms") or {}).get(bucket) or {}
    for c, op, val in skip:
        if c not in cfg or c not in blooms:
            continue
        if op == "=":
            vals = [val]
        elif op == "in":
            vals = [v for v in val if v is not None]
            if not vals:
                continue  # the stats path already rules this out
        else:
            continue
        m, k = cfg[c]
        t = type_names.get(c)
        if t not in _BLOOM_TYPES:
            continue
        bitmap = blooms[c]
        try:
            hit = any(
                all(_bit_set(bitmap, p) for p in probe_positions(v, t, m, k))
                for v in vals
            )
        except (TypeError, ValueError, AttributeError):
            continue  # unhashable probe value: never prune on it
        if not hit:
            return False
    return True
