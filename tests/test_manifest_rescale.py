"""Bucket-layout evolution (`optimize_table(n_buckets=...)`): a table
created small must be able to grow its bucket count — at 100 TB the
bucket count caps scan/commit parallelism and lookup granularity. The
rewrite re-hashes every row into the new layout; old versions keep
reading (and point-looking-up) with theirs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trail_condition_etl_spark.sinks import manifest as mf


def _table(spark, tmp_path, n=200, n_buckets=2):
    rows = spark.range(n).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=n_buckets)
    return table


def test_rescale_rehashes_into_the_new_layout(spark, tmp_path):
    table = _table(spark, tmp_path, n_buckets=2)
    v = mf.optimize_table(spark, table, n_buckets=8)
    after = mf.read_manifest(table)
    assert after["n_buckets"] == 8
    assert len(after["buckets"]) == 8
    assert after["op_metrics"]["n_buckets"] == 8
    assert mf.manifest_row_count(table) == 200
    got = {r.k: r.v for r in mf.read_manifest_table(spark, table).collect()}
    assert got == {k: k * 10 for k in range(200)}
    # the old version still reads (and records) its own layout
    assert mf.read_manifest(table, v - 1)["n_buckets"] == 2


def test_every_row_lands_in_its_new_hash_bucket(spark, tmp_path):
    """Layout soundness: after a rescale, each row's recorded bucket dir
    matches the hash of its key under the NEW count — the invariant
    lookups and upserts depend on."""
    table = _table(spark, tmp_path, n_buckets=2)
    mf.optimize_table(spark, table, n_buckets=8)
    m = mf.read_manifest(table)
    current = mf.read_manifest_table(spark, table)
    hashed = mf._with_bucket(current, ["k"], 8)
    import os

    for b, d in m["buckets"].items():
        ks = {
            r.k
            for r in spark.read.parquet(
                os.path.join(table, d)
            ).collect()
        }
        want = {
            r.k for r in hashed.filter(F.col("pk_bucket") == int(b)).collect()
        }
        assert ks == want


def test_lookup_and_upsert_after_rescale(spark, tmp_path):
    table = _table(spark, tmp_path, n_buckets=2)
    mf.optimize_table(spark, table, n_buckets=8)
    got = mf.read_manifest_lookup(spark, table, [{"k": 7}, {"k": 150}])
    assert sorted(r.k for r in got.collect()) == [7, 150]
    # explicit stale n_buckets is rejected; None adopts the new layout
    one = spark.createDataFrame([(7, 0)], "k int, v long")
    with pytest.raises(ValueError, match="n_buckets"):
        mf.manifest_upsert(spark, table, one, ["k"], n_buckets=2)
    mf.manifest_upsert(spark, table, one, ["k"])
    assert (
        mf.read_manifest_lookup(spark, table, {"k": 7}).collect()[0].v == 0
    )
    assert mf.manifest_row_count(table) == 200


def test_rescale_materializes_pending_deletes(spark, tmp_path):
    table = _table(spark, tmp_path, n_buckets=2)
    mf.delete_where(spark, table, "k % 10 = 0")
    mf.optimize_table(spark, table, n_buckets=8)
    after = mf.read_manifest(table)
    assert not after.get("deletes")
    assert mf.manifest_row_count(table) == 180


def test_rescale_composes_with_clustering(spark, tmp_path):
    table = _table(spark, tmp_path, n_buckets=2)
    mf.optimize_table(spark, table, n_buckets=4, cluster_by=["v"])
    after = mf.read_manifest(table)
    assert after["n_buckets"] == 4
    assert after["file_stats"]  # per-file stats landed for the new layout
    got = mf.read_manifest_table(spark, table, skip=[("v", "<", 100)])
    assert sorted(r.k for r in got.collect()) == list(range(10))


def test_maintain_table_compacts_only_past_thresholds(spark, tmp_path):
    """Conditional OPTIMIZE: within thresholds it is a metadata-only
    no-op (None, no version); past either the small-file or the
    pending-delete-file threshold it compacts."""
    table = _table(spark, tmp_path, n=100, n_buckets=2)
    assert mf.maintain_table(spark, table) is None
    assert mf.read_manifest(table)["version"] == 1

    # accumulate small files: every epoch-style upsert rewrites its
    # touched bucket into one more file? No — rewrites replace. Use
    # MoR deletes to cross the delete-file threshold instead.
    for i in range(5):
        mf.delete_where(spark, table, f"k = {i}")
    assert mf.maintain_table(spark, table, max_delete_files=4) is not None
    after = mf.read_manifest(table)
    # r10: with no rescale and no clustering intent, maintenance takes
    # the INCREMENTAL path — only the delete-pending buckets rewrote
    assert after["operation"] == "compact"
    assert not after.get("deletes")
    assert mf.manifest_row_count(table) == 95
    # and now it is healthy again
    assert mf.maintain_table(spark, table, max_delete_files=4) is None


def test_maintain_table_compacts_scattered_small_files(
    spark, tmp_path, monkeypatch
):
    """The small-file trigger: a bucket dir holding more parquet files
    than the threshold (the shape a small per-file row cap leaves
    behind) compacts to one file per bucket."""
    import os as _os

    table = _table(spark, tmp_path, n=50, n_buckets=1)
    rows = spark.range(200, 400).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 10).alias("v")
    )
    with monkeypatch.context() as m:
        # a low row cap -> multiple files in the bucket dir
        m.setattr(mf, "_MAX_ROWS_PER_FILE", 20)
        mf.manifest_upsert(spark, table, rows, ["k"])

    def n_files():
        d = _os.path.join(table, mf.read_manifest(table)["buckets"]["0"])
        return sum(1 for f in _os.listdir(d) if f.endswith(".parquet"))

    frag = n_files()
    assert frag > 1  # genuinely fragmented
    # at-or-below threshold: untouched
    assert mf.maintain_table(spark, table, max_files_per_bucket=frag) is None
    # above threshold: compacted to one file per bucket
    assert (
        mf.maintain_table(spark, table, max_files_per_bucket=frag - 1)
        is not None
    )
    assert n_files() == 1
    assert mf.manifest_row_count(table) == 250


def test_maintain_preserves_the_clustered_layout(spark, tmp_path):
    """Routine maintenance must not silently strip a Z-ordered table of
    its per-file stats: with cluster_by unset, maintain reuses the most
    recent optimize's clustering."""
    table = _table(spark, tmp_path, n=200, n_buckets=2)
    mf.optimize_table(spark, table, cluster_by=["v"], files_per_bucket=4)
    assert mf.read_manifest(table)["file_stats"]
    for i in range(5):
        mf.delete_where(spark, table, f"k = {i}")
    assert mf.maintain_table(spark, table, max_delete_files=4) is not None
    after = mf.read_manifest(table)
    assert after["op_metrics"]["cluster_by"] == ["v"]  # layout preserved
    assert after["file_stats"]
    got = mf.read_manifest_table(spark, table, skip=[("v", "<", 100)])
    assert sorted(r.k for r in got.collect()) == list(range(5, 10))


def test_rescale_rejects_bad_count_and_restore_goes_back(spark, tmp_path):
    table = _table(spark, tmp_path, n_buckets=2)
    with pytest.raises(ValueError, match="n_buckets"):
        mf.optimize_table(spark, table, n_buckets=0)
    mf.optimize_table(spark, table, n_buckets=8)
    v = mf.restore_table(spark, table, version=1)
    assert mf.read_manifest(table, v)["n_buckets"] == 2  # layout restored
    assert mf.read_manifest_lookup(spark, table, {"k": 3}).count() == 1


def test_maintain_table_rescales_oversized_buckets(spark, tmp_path):
    """Bucket-SIZE policy (VERDICT r6 directive 5): bytes-per-bucket is
    the unit of work for per-bucket consumers (the CDC DataSource diffs
    one bucket per Arrow task), so maintenance must grow the bucket
    count once the largest bucket exceeds `max_bucket_bytes` — and the
    post-rescale layout must hold every bucket under the ceiling."""
    import os as _os

    table = _table(spark, tmp_path, n=4000, n_buckets=1)

    def bucket_bytes():
        m = mf.read_manifest(table)
        out = []
        for d in m["buckets"].values():
            p = _os.path.join(table, d)
            out.append(
                sum(
                    _os.path.getsize(_os.path.join(p, f))
                    for f in _os.listdir(p)
                    if f.endswith(".parquet")
                )
            )
        return out

    worst = max(bucket_bytes())
    # generous ceiling: healthy table is a no-op (no version churn)
    assert (
        mf.maintain_table(spark, table, max_bucket_bytes=worst + 1) is None
    )
    assert mf.read_manifest(table)["version"] == 1
    # ceiling below the current worst bucket: maintenance rescales
    cap = worst // 3
    assert mf.maintain_table(spark, table, max_bucket_bytes=cap) is not None
    after = mf.read_manifest(table)
    assert after["operation"] == "optimize"
    assert after["n_buckets"] > 1
    assert max(bucket_bytes()) <= cap, (
        f"post-rescale worst bucket {max(bucket_bytes())} still above "
        f"the {cap}-byte ceiling (n_buckets={after['n_buckets']})"
    )
    # content unchanged by the rescale
    assert mf.manifest_row_count(table) == 4000
    got = {r.k: r.v for r in mf.read_manifest_table(spark, table).collect()}
    assert got == {k: k * 10 for k in range(4000)}
    # CONVERGENCE: an immediate re-check at the same ceiling is a no-op
    # (the layout is now sized for the table's bytes; a still-fat bucket
    # would be irreducible key skew, which re-hashing cannot shrink, and
    # re-triggering would repeat the full rewrite forever)
    v = mf.read_manifest(table)["version"]
    assert mf.maintain_table(spark, table, max_bucket_bytes=cap) is None
    assert mf.read_manifest(table)["version"] == v
    # disabled policy: no rescale however fat the bucket
    assert (
        mf.maintain_table(spark, table, max_bucket_bytes=None) is None
    )


def test_maintain_rescales_multi_key_collision_bucket(spark, tmp_path):
    """Secondary size trigger (ADVICE r7): when the layout is NOT
    undersized for total bytes but one bucket is fat because several
    distinct keys hash-collide at small n, maintenance must still
    rescale — doubling the count splits a multi-key collision, and the
    'irreducible skew' no-op is reserved for single-key buckets."""
    import os as _os

    from trail_condition_etl_spark.sinks.keyhash import bucket_of

    n = 4
    # distinct int keys that ALL land in bucket 0 under n=4 — a pure
    # hash collision that any larger (aligned) count can separate
    colliders = [
        k for k in range(40_000) if bucket_of((k,), ["int"], n) == 0
    ][:2000]
    assert len(colliders) == 2000
    rows = spark.createDataFrame(
        [(k, "x" * 64) for k in colliders], "k int, v string"
    )
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=n)
    m = mf.read_manifest(table)

    def bucket_bytes():
        out = {}
        for b, d in mf.read_manifest(table)["buckets"].items():
            p = _os.path.join(table, d)
            out[b] = sum(
                _os.path.getsize(_os.path.join(p, f))
                for f in _os.listdir(p)
                if f.endswith(".parquet")
            )
        return out

    sizes = bucket_bytes()
    worst = max(sizes.values())
    assert sizes["0"] == worst  # the collision bucket carries the table
    # cap chosen so worst > cap but ceil(total / (cap/2)) <= n: the
    # PRIMARY trigger computes want <= n and would previously no-op
    cap = worst * 2 // 3
    total = sum(sizes.values())
    assert -(-total // max(1, cap // 2)) <= n
    assert mf.maintain_table(spark, table, max_bucket_bytes=cap) is not None
    after = mf.read_manifest(table)
    assert after["n_buckets"] > n
    assert after["n_buckets"] % n == 0  # aligned: CDC streams survive
    # the collision actually split
    assert max(bucket_bytes().values()) < worst
    assert mf.manifest_row_count(table) == 2000


def test_maintain_skips_single_hot_key_with_warning(spark, tmp_path):
    """A bucket fat from ONE key is irreducible: no bucket count splits
    it. Maintenance must not rewrite the table forever — it surfaces a
    warning and no-ops (ADVICE r7: the skipped-rescale condition must
    be visible, not silent)."""
    import warnings as _w

    import hashlib

    from trail_condition_etl_spark.sinks.keyhash import bucket_of

    # incompressible payload (a compressible one parquet-encodes below
    # any ceiling and the size trigger never fires)
    blob = "".join(
        hashlib.sha256(str(i).encode()).hexdigest() for i in range(4000)
    )  # 256 KB of pseudo-random hex
    # the hot key must sit ALONE in its bucket: fillers go elsewhere
    n = 4
    hot = 1
    hb = bucket_of((hot,), ["int"], n)
    fillers = [k for k in range(2, 50) if bucket_of((k,), ["int"], n) != hb][
        :3
    ]
    rows = spark.createDataFrame(
        [(hot, blob)] + [(k, "f") for k in fillers], "k int, v string"
    )
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=n)
    v0 = mf.read_manifest(table)["version"]
    import os as _os

    sizes = []
    for d in mf.read_manifest(table)["buckets"].values():
        p = _os.path.join(table, d)
        sizes.append(
            sum(
                _os.path.getsize(_os.path.join(p, f))
                for f in _os.listdir(p)
                if f.endswith(".parquet")
            )
        )
    worst, total = max(sizes), sum(sizes)
    # cap below the hot bucket but high enough that the PRIMARY
    # (total-bytes) trigger computes want <= n — only the secondary
    # collision check runs, and it must find a singleton key hash
    cap = worst * 2 // 3
    assert worst > cap and -(-total // max(1, cap // 2)) <= n
    with _w.catch_warnings(record=True) as got:
        _w.simplefilter("always")
        out = mf.maintain_table(spark, table, max_bucket_bytes=cap)
    assert out is None
    assert mf.read_manifest(table)["version"] == v0  # no rewrite happened
    assert any("single key hash" in str(w.message) for w in got)
