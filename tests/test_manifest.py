"""Manifest-committed table format (sinks/manifest.py): atomic commit,
snapshot isolation, time travel, fenced-abort totality, vacuum, and
concurrent-writer serialization."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from trail_condition_etl_spark.sinks import manifest as mf
from trail_condition_etl_spark.sinks import lease


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _state(spark, table, version=None):
    return {
        (r.k, r.v)
        for r in mf.read_manifest_table(spark, table, version).collect()
    }


def test_upsert_merge_and_time_travel(spark, tmp_path):
    table = str(tmp_path / "t")
    v1 = mf.manifest_upsert(spark, table, _df(spark, [(1, "a"), (2, "b")]), ["k"], n_buckets=4)
    v2 = mf.manifest_upsert(spark, table, _df(spark, [(2, "B"), (3, "c")]), ["k"], n_buckets=4)
    assert (v1, v2) == (1, 2)
    assert _state(spark, table) == {(1, "a"), (2, "B"), (3, "c")}
    # time travel: version 1 still readable, byte-identical
    assert _state(spark, table, version=1) == {(1, "a"), (2, "b")}


def test_new_rows_win_and_rerun_is_idempotent(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=4)
    batch = _df(spark, [(1, "A"), (2, "b")])
    mf.manifest_upsert(spark, table, batch, ["k"], n_buckets=4)
    first = _state(spark, table)
    mf.manifest_upsert(spark, table, batch, ["k"], n_buckets=4)  # redelivery
    assert _state(spark, table) == first == {(1, "A"), (2, "b")}


#: one writer per commit shape, each crashed at the link-publish below
_CRASH_WRITERS = {
    "manifest_upsert": lambda spark, t: mf.manifest_upsert(
        spark, t, _df(spark, [(9, "x")]), ["k"]
    ),
    "delete_where": lambda spark, t: mf.delete_where(spark, t, "k = 1"),
    "compact_buckets": lambda spark, t: mf.compact_buckets(
        spark, t, bucket_ids=[int(b) for b in mf.read_manifest(t)["buckets"]]
    ),
    "restore_table": lambda spark, t: mf.restore_table(spark, t, version=1),
    "add_table_constraint": lambda spark, t: mf.add_table_constraint(
        spark, t, "k_pos", "k > 0"
    ),
    "optimize_table": lambda spark, t: mf.optimize_table(spark, t),
}


@pytest.mark.parametrize("layout", ["inline", "sharded"])
@pytest.mark.parametrize("writer", list(_CRASH_WRITERS))
def test_failed_write_changes_nothing(
    spark, tmp_path, monkeypatch, writer, layout
):
    """A writer that dies at the manifest link-publish — the one commit
    point, after its segment, delete file and sidecars are written —
    leaves the table byte-identical: the same versions, the same
    manifest, the same rows. What it wrote is orphan data no manifest
    references: `vacuum` reclaims every orphan segment, delete dir and
    `_meta/` sidecar, and the next commit lands as exactly v+1. Both
    metadata layouts (sharded = SIDECAR_RANGE 2 on a 4-bucket table)."""
    if layout == "sharded":
        monkeypatch.setattr(mf, "SIDECAR_RANGE", 2)
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table, _df(spark, [(1, "a"), (2, "b")]), ["k"], n_buckets=4
    )
    mf.manifest_upsert(spark, table, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    before = _state(spark, table)
    versions = mf.list_versions(table)
    slim = mf._read_slim(table, versions[-1])

    def listing(sub):
        try:
            return set(os.listdir(os.path.join(table, sub)))
        except OSError:
            return set()

    data_before, meta_before = listing("data"), listing("_meta")
    orphan_meta = []
    publish = mf._atomic_publish

    def boom(table_path, to_write, version):
        orphan_meta.append(listing("_meta") - meta_before)
        raise IOError("died at the manifest link-publish")

    monkeypatch.setattr(mf, "_atomic_publish", boom)
    with pytest.raises(IOError):
        _CRASH_WRITERS[writer](spark, table)
    monkeypatch.setattr(mf, "_atomic_publish", publish)
    assert orphan_meta, "the crash point was never reached"
    assert mf.list_versions(table) == versions
    assert mf._read_slim(table, versions[-1]) == slim
    assert _state(spark, table) == before
    assert mf.manifest_row_count(table) == len(before)
    if writer not in ("restore_table", "add_table_constraint"):
        # a data writer's orphans exist until vacuum: its segment or
        # delete dir, and on the sharded layout its new sidecars
        assert listing("data") > data_before
        assert bool(orphan_meta[0]) == (layout == "sharded")
    mf.vacuum(table, keep_last=len(versions))
    assert listing("data") == data_before
    assert listing("_meta") == meta_before
    assert _state(spark, table) == before  # vacuum never touches live data
    v = _CRASH_WRITERS[writer](spark, table)
    assert v == versions[-1] + 1
    assert mf.list_versions(table) == versions + [v]


def test_fenced_writer_aborts_totally(spark, tmp_path):
    """A stale writer (lease stolen, newer commit landed) must abort
    with ZERO table effect — not even a transient interleaving is
    possible."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=4)
    lease.record_commit(table, 99)  # a newer writer committed out-of-band
    with pytest.raises(lease.WriterFencedError):
        mf.manifest_upsert(
            spark, table, _df(spark, [(2, "b")]), ["k"], n_buckets=4
        )
    assert _state(spark, table) == {(1, "a")}
    assert mf.list_versions(table) == [1]


def test_publish_never_clobbers_an_existing_version(spark, tmp_path):
    """The commit point is no-clobber (os.link, not os.replace): a
    stalled writer that lost the race publishes into an existing
    version file and must get a fenced abort with the winner's manifest
    byte-identical — never a silently replaced commit."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=4)
    winner = mf.read_manifest(table, 1)
    loser = {"0": {"buckets": "data/seg-bogus/pk_bucket=0"}}
    with pytest.raises(lease.WriterFencedError):
        mf._commit_manifest(
            table, 999, mf._read_slim(table, 1), {"version": 1}, loser
        )
    assert mf.read_manifest(table, 1) == winner  # untouched
    # and the temp file was cleaned up either way
    assert not [
        e for e in os.listdir(mf._manifest_dir(table)) if ".tmp." in e
    ]


def test_vacuum_respects_time_travel_horizon(spark, tmp_path):
    table = str(tmp_path / "t")
    for i in range(3):
        mf.manifest_upsert(
            spark, table, _df(spark, [(i, f"v{i}")]), ["k"], n_buckets=4
        )
    assert mf.list_versions(table) == [1, 2, 3]
    mf.vacuum(table, keep_last=2)
    assert mf.list_versions(table) == [2, 3]
    assert _state(spark, table, version=2) == {(0, "v0"), (1, "v1")}
    assert _state(spark, table) == {(0, "v0"), (1, "v1"), (2, "v2")}
    with pytest.raises(FileNotFoundError):
        mf.read_manifest(table, 1)


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path):
    """A reader that resolved its manifest BEFORE a commit keeps reading
    the old snapshot: the plan references immutable segment files, so
    the commit cannot tear it."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=4)
    pinned = mf.read_manifest_table(spark, table)  # resolves manifest v1
    mf.manifest_upsert(spark, table, _df(spark, [(1, "A2")]), ["k"], n_buckets=4)
    assert {(r.k, r.v) for r in pinned.collect()} == {(1, "a")}
    assert _state(spark, table) == {(1, "A2")}


def test_racing_writers_serialize_and_union(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(0, "seed")]), ["k"], n_buckets=4)
    errs = []

    def write(lo):
        try:
            mf.manifest_upsert(
                spark,
                table,
                _df(spark, [(lo + i, f"w{lo}") for i in range(4)]),
                ["k"],
                n_buckets=4,
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=write, args=(10,))
    t2 = threading.Thread(target=write, args=(20,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    expect = {(0, "seed")}
    expect |= {(10 + i, "w10") for i in range(4)}
    expect |= {(20 + i, "w20") for i in range(4)}
    assert _state(spark, table) == expect
    assert mf.list_versions(table) == [1, 2, 3]


def test_untouched_buckets_carry_by_reference(spark, tmp_path):
    """Copy-on-write IO bound: a commit touching one bucket reuses the
    other buckets' segment dirs verbatim (zero bytes rewritten)."""
    table = str(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(32)]
    mf.manifest_upsert(spark, table, _df(spark, rows), ["k"], n_buckets=8)
    m1 = mf.read_manifest(table)
    one = _df(spark, [(0, "PATCHED")])
    mf.manifest_upsert(spark, table, one, ["k"], n_buckets=8)
    m2 = mf.read_manifest(table)
    # the patched key's bucket moved to a new segment; every other
    # bucket entry is the SAME path as in manifest v1
    b0 = (
        one.withColumn(
            "b", F.pmod(F.xxhash64("k"), F.lit(8)).cast("int")
        ).collect()[0].b
    )
    moved = {b for b in m2["buckets"] if m2["buckets"][b] != m1["buckets"].get(b)}
    assert moved == {str(b0)}
    got = {(r.k, r.v) for r in mf.read_manifest_table(spark, table).collect()}
    assert got == {(i, "PATCHED" if i == 0 else f"v{i}") for i in range(32)}


def test_tombstone_deletes_merge_triad(spark, tmp_path):
    """CDC triad on the ACID path: one commit inserts, updates and
    deletes; a bucket whose rows all die drops out of the manifest; a
    re-run of the same change batch is a no-op (idempotent)."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), ["k"],
        n_buckets=4,
    )
    changes = spark.createDataFrame(
        [(2, "B2", False), (3, None, True), (4, "d", False)],
        "k int, v string, _deleted boolean",
    )
    mf.manifest_upsert(
        spark, table, changes, ["k"], n_buckets=4, tombstone_col="_deleted"
    )
    assert _state(spark, table) == {(1, "a"), (2, "B2"), (4, "d")}
    mf.manifest_upsert(  # redelivered change batch converges
        spark, table, changes, ["k"], n_buckets=4, tombstone_col="_deleted"
    )
    assert _state(spark, table) == {(1, "a"), (2, "B2"), (4, "d")}
    # and the pre-delete snapshot is still time-travel readable
    assert _state(spark, table, version=1) == {(1, "a"), (2, "b"), (3, "c")}


def test_optimize_compacts_small_files(spark, tmp_path):
    """After N streaming-style commits a bucket's rows scatter over N
    segment files; optimize_table rewrites the snapshot into ONE file
    per bucket, state byte-identical, prior versions untouched until
    vacuum."""
    table = str(tmp_path / "t")
    for i in range(5):
        mf.manifest_upsert(
            spark, table, _df(spark, [(i, f"v{i}"), (100 + i, "x")]), ["k"],
            n_buckets=4,
        )
    before = _state(spark, table)
    m_before = mf.read_manifest(table)
    segs_before = {d.split(os.sep)[1] for d in m_before["buckets"].values()}
    assert len(segs_before) > 1  # scattered across per-epoch segments
    v = mf.optimize_table(spark, table)
    assert v == 6
    m_after = mf.read_manifest(table)
    segs_after = {d.split(os.sep)[1] for d in m_after["buckets"].values()}
    assert len(segs_after) == 1  # one fresh segment
    for d in m_after["buckets"].values():
        files = [
            f
            for f in os.listdir(os.path.join(table, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1  # exactly one file per bucket
    assert _state(spark, table) == before
    assert _state(spark, table, version=5) == before  # old version intact
    mf.vacuum(table)  # superseded segments age out
    assert _state(spark, table) == before


def test_additive_schema_evolution(spark, tmp_path):
    """A batch may ADD columns (old rows read back NULL) or OMIT
    existing ones (landed NULL) — the manifest schema is the running
    union, per-version (old snapshots keep their narrower schema)."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=4)
    wide = spark.createDataFrame(
        [(2, "b", 9.5)], "k int, v string, score double"
    )
    mf.manifest_upsert(spark, table, wide, ["k"], n_buckets=4)
    got = {
        r.k: (r.v, r.score)
        for r in mf.read_manifest_table(spark, table).collect()
    }
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    # a later batch WITHOUT the new column still lands (NULL-filled)
    mf.manifest_upsert(spark, table, _df(spark, [(3, "c")]), ["k"], n_buckets=4)
    got = {
        r.k: (r.v, r.score)
        for r in mf.read_manifest_table(spark, table).collect()
    }
    assert got == {1: ("a", None), 2: ("b", 9.5), 3: ("c", None)}
    # time travel: version 1 still reads with its original 2-col schema
    assert mf.read_manifest_table(spark, table, 1).columns == ["k", "v"]


def test_table_changes_classifies_cdc_triad(spark, tmp_path):
    """Change feed between versions: inserts/updates/deletes classified
    from snapshot CONTENT (a re-upserted identical row is no change),
    across non-adjacent versions too."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), ["k"],
        n_buckets=4,
    )
    changes = spark.createDataFrame(
        # update 2, delete 3, insert 4, re-upsert 1 unchanged
        [(2, "B2", False), (3, None, True), (4, "d", False), (1, "a", False)],
        "k int, v string, _deleted boolean",
    )
    mf.manifest_upsert(
        spark, table, changes, ["k"], n_buckets=4, tombstone_col="_deleted"
    )
    got = {
        (r.k, r.change_type)
        for r in mf.table_changes(spark, table, 1, 2).collect()
    }
    assert got == {(2, "update"), (3, "delete"), (4, "insert")}
    # third commit; the 1->3 diff composes (2's update persists, 5 new)
    mf.manifest_upsert(spark, table, _df(spark, [(5, "e")]), ["k"], n_buckets=4)
    got = {
        (r.k, r.change_type)
        for r in mf.table_changes(spark, table, 1).collect()  # to latest
    }
    assert got == {(2, "update"), (3, "delete"), (4, "insert"), (5, "insert")}


def test_table_changes_across_schema_evolution(spark, tmp_path):
    """Change feed spans evolved schemas and reconstructs the target:
    comparison covers the NEW version's full non-key schema with the
    old side NULL-filled for added columns, so a row whose only change
    is the newly-added column IS an update (replaying the feed on v1
    yields v2); a row untouched by the widening commit is no change."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table, _df(spark, [(0, "z"), (1, "a"), (2, "b")]), ["k"],
        n_buckets=4,
    )
    wide = spark.createDataFrame(
        # k=1: v unchanged but NEW column set -> update (content differs
        # under the new schema); k=2: v changes -> update; k=3: insert;
        # k=0 untouched -> absent from the feed
        [(1, "a", 1.0), (2, "B", 2.0), (3, "c", 3.0)],
        "k int, v string, score double",
    )
    mf.manifest_upsert(spark, table, wide, ["k"], n_buckets=4)
    got = {
        (r.k, r.change_type)
        for r in mf.table_changes(spark, table, 1, 2).collect()
    }
    assert got == {(1, "update"), (2, "update"), (3, "insert")}


def test_every_row_lives_in_its_hash_bucket(spark, tmp_path):
    """Physical-layout invariant: after any mix of commits and a
    compaction, every row's file path carries the pk_bucket its key
    hashes to — the property touched-bucket pruning relies on."""
    table = str(tmp_path / "t")
    for i in range(3):
        mf.manifest_upsert(
            spark, table,
            _df(spark, [(i * 7 + j, f"b{i}") for j in range(6)]), ["k"],
            n_buckets=4,
        )
    mf.optimize_table(spark, table)
    m = mf.read_manifest(table)
    dirs = [os.path.join(table, d) for d in m["buckets"].values()]
    misplaced = (
        spark.read.schema(mf._data_schema(m)).parquet(*dirs)
        .withColumn(
            "dir_bucket",
            F.regexp_extract(F.input_file_name(), r"pk_bucket=(\d+)", 1).cast(
                "int"
            ),
        )
        .withColumn(
            "hash_bucket",
            F.pmod(F.xxhash64("k"), F.lit(m["n_buckets"])).cast("int"),
        )
        .filter(F.col("dir_bucket") != F.col("hash_bucket"))
        .count()
    )
    assert misplaced == 0


def test_delete_all_leaves_schema_true_empty_table(spark, tmp_path):
    """Upserting after all rows merge away (0-row batch into fresh
    table) reads back as an empty frame with the schema intact."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table, _df(spark, []).limit(0), ["k"], n_buckets=4
    )
    out = mf.read_manifest_table(spark, table)
    assert out.columns == ["k", "v"] and out.count() == 0


def test_divergent_keys_and_buckets_are_rejected(spark, tmp_path):
    """ADVICE r4: upserting with different merge keys than the table was
    built with would bucket-hash wrong and leave stale rows alive in
    carried segments — rejected, not silently coerced; same for an
    explicit n_buckets that contradicts the manifest. n_buckets=None
    adopts the table's recorded layout."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=4)
    with pytest.raises(ValueError, match="merge keys"):
        mf.manifest_upsert(spark, table, _df(spark, [(2, "b")]), ["v"])
    with pytest.raises(ValueError, match="n_buckets"):
        mf.manifest_upsert(
            spark, table, _df(spark, [(2, "b")]), ["k"], n_buckets=8
        )
    assert mf.list_versions(table) == [1]  # zero table effect either way
    mf.manifest_upsert(spark, table, _df(spark, [(2, "b")]), ["k"])
    assert _state(spark, table) == {(1, "a"), (2, "b")}


def test_non_additive_type_change_is_rejected(spark, tmp_path):
    """ADVICE r4: schema evolution is additive ONLY — changing an
    existing column's type raises (old segments keep the old physical
    type; a widened read schema would fail at scan time), with zero
    table effect."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=4)
    bad = spark.createDataFrame([(2, 7)], "k int, v bigint")
    with pytest.raises(ValueError, match="non-additive"):
        mf.manifest_upsert(spark, table, bad, ["k"], n_buckets=4)
    assert mf.list_versions(table) == [1]
    assert _state(spark, table) == {(1, "a")}


def test_table_changes_carries_new_side_values(spark, tmp_path):
    """ADVICE r4: the feed emits FULL new-side rows (Delta parity), so
    replaying it onto the older snapshot reconstructs the newer one:
    upsert the insert/update rows, delete the delete keys."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), ["k"],
        n_buckets=4,
    )
    changes = spark.createDataFrame(
        [(2, "B2", False), (3, None, True), (4, "d", False)],
        "k int, v string, _deleted boolean",
    )
    mf.manifest_upsert(
        spark, table, changes, ["k"], tombstone_col="_deleted"
    )
    feed = mf.table_changes(spark, table, 1, 2)
    assert feed.columns == ["k", "change_type", "v"]
    got = {(r.k, r.change_type, r.v) for r in feed.collect()}
    assert got == {(2, "update", "B2"), (3, "delete", None), (4, "insert", "d")}
    # replay the feed onto v1 through the tombstone MERGE: yields v2
    replay = feed.withColumn(
        "_deleted", F.col("change_type") == "delete"
    ).select("k", "v", "_deleted")
    table2 = str(tmp_path / "replay")
    mf.manifest_upsert(
        spark, table2, mf.read_manifest_table(spark, table, 1), ["k"],
        n_buckets=4,
    )
    mf.manifest_upsert(
        spark, table2, replay, ["k"], tombstone_col="_deleted"
    )
    assert _state(spark, table2) == _state(spark, table, 2)


# ---------------------------------------------------------------------------
# per-bucket column stats + metadata skipping (VERDICT r5 directive 1)
# ---------------------------------------------------------------------------


def _bucket_correlated_table(spark, tmp_path, n_buckets=4, n_keys=200):
    """A table whose `val` column ranges are DISJOINT per bucket
    (val = pk_bucket * 1000 + small), so range predicates provably
    prune: bucket b holds exactly [b*1000, b*1000+999]."""
    keyed = spark.range(n_keys).select(F.col("id").cast("int").alias("k"))
    with_b = mf._with_bucket(keyed, ["k"], n_buckets)
    rows = with_b.select(
        "k", (F.col("pk_bucket") * 1000 + F.col("k") % 1000).alias("val")
    )
    table = str(tmp_path / "corr")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=n_buckets)
    return table


def _dirs_of(df):
    return {
        os.path.dirname(p).removeprefix("file://") for p in df.inputFiles()
    }


def test_skip_scan_opens_only_matching_bucket_dirs(spark, tmp_path):
    """The pruning pin: a range predicate whose bounds fall inside one
    bucket's [min, max] must reference ONLY that bucket's dir — pruned
    dirs never appear in the plan's inputFiles."""
    table = _bucket_correlated_table(spark, tmp_path)
    manifest = mf.read_manifest(table)
    df = mf.read_manifest_table(
        spark, table, skip=[("val", "between", (1100, 1200))]
    )
    dirs = _dirs_of(df)
    want = os.path.join(table, manifest["buckets"]["1"])
    assert dirs == {want}
    # and the result is EXACT (residual filter applied)
    full = mf.read_manifest_table(spark, table)
    expect = {
        (r.k, r.val)
        for r in full.filter(F.col("val").between(1100, 1200)).collect()
    }
    assert {(r.k, r.val) for r in df.collect()} == expect
    assert len(expect) > 0


def test_skip_ops_prune_and_stay_exact(spark, tmp_path):
    table = _bucket_correlated_table(spark, tmp_path)
    full = mf.read_manifest_table(spark, table).collect()
    cases = [
        ([("val", "=", 2005)], lambda r: r.val == 2005),
        ([("val", "<", 1000)], lambda r: r.val < 1000),
        ([("val", ">=", 3000)], lambda r: r.val >= 3000),
        ([("val", "in", [500, 2500, 99999])], lambda r: r.val in (500, 2500)),
        ([("val", ">", 900), ("val", "<=", 1050)],
         lambda r: 900 < r.val <= 1050),
    ]
    n_all = len(_dirs_of(mf.read_manifest_table(spark, table)))
    for skip, pred in cases:
        df = mf.read_manifest_table(spark, table, skip=skip)
        got = {(r.k, r.val) for r in df.collect()}
        want = {(r.k, r.val) for r in full if pred(r)}
        assert got == want, skip
        assert len(_dirs_of(df)) < n_all, f"no pruning for {skip}"


def test_lookup_opens_only_key_bucket_dirs(spark, tmp_path):
    """Point lookup reads only the dirs the requested keys hash into,
    and returns exactly the requested present keys (absent keys
    contribute nothing)."""
    table = str(tmp_path / "t")
    rows = spark.range(100).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=8)
    manifest = mf.read_manifest(table)
    looked = mf.read_manifest_lookup(spark, table, {"k": 5})
    got = [(r.k, r.v) for r in looked.collect()]
    assert got == [(5, "v5")]
    b5 = mf._with_bucket(
        spark.createDataFrame([(5,)], "k int"), ["k"], 8
    ).collect()[0].pk_bucket
    assert _dirs_of(looked) == {
        os.path.join(table, manifest["buckets"][str(b5)])
    }
    # multi-key incl. an absent key: only present keys come back
    multi = mf.read_manifest_lookup(
        spark, table, [{"k": 5}, {"k": 42}, {"k": 4242}]
    )
    assert {(r.k, r.v) for r in multi.collect()} == {(5, "v5"), (42, "v42")}
    assert len(_dirs_of(multi)) <= 3


def test_stats_carried_for_untouched_buckets(spark, tmp_path):
    """A second commit rewrites only touched buckets; untouched buckets
    carry dir AND stats by reference (zero bytes moved, zero stats
    recomputed)."""
    table = _bucket_correlated_table(spark, tmp_path)
    v1 = mf.read_manifest(table)
    one_key = spark.createDataFrame([(0, 999_999)], "k int, val int")
    mf.manifest_upsert(spark, table, one_key, ["k"])
    v2 = mf.read_manifest(table)
    b0 = mf._with_bucket(
        spark.createDataFrame([(0,)], "k int"), ["k"], 4
    ).collect()[0].pk_bucket
    for b in v1["buckets"]:
        if b != str(b0):
            assert v2["buckets"][b] == v1["buckets"][b]
            assert v2["stats"][b] == v1["stats"][b]
    assert v2["stats"][str(b0)]["val"][1] == 999_999


def _strip_manifest_keys(table, version, *keys):
    """Rewrite a committed inline manifest without `keys` — what a
    manifest from a writer that recorded none of them looks like."""
    import json as _json

    path = mf._manifest_path(table, version)
    with open(path) as f:
        m = _json.load(f)
    for k in keys:
        m.pop(k, None)
    os.chmod(path, 0o644)
    with open(path, "w") as f:
        _json.dump(m, f)


def test_missing_stats_never_prune(spark, tmp_path):
    """Stats are an optimization: buckets with no recorded stats stay
    unprunable but every skip read stays exact."""
    table = str(tmp_path / "t")
    rows = spark.range(50).select(
        F.col("id").cast("int").alias("k"), F.col("id").alias("val")
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=4)
    _strip_manifest_keys(table, 1, "stats")
    assert mf.read_manifest(table).get("stats", {}) == {}
    df = mf.read_manifest_table(spark, table, skip=[("val", "<", 10)])
    assert {r.val for r in df.collect()} == set(range(10))


def test_long_string_bounds_omitted(spark, tmp_path):
    """String bounds longer than 64 chars are not recorded (no silent
    truncation that could break the upper bound) — that column simply
    never prunes."""
    table = str(tmp_path / "t")
    rows = spark.range(10).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("x" * 100), F.col("id")).alias("body"),
        F.col("id").alias("val"),
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    stats = mf.read_manifest(table)["stats"]
    for b in stats:
        assert "body" not in stats[b]
        assert "val" in stats[b]
    df = mf.read_manifest_table(
        spark, table, skip=[("body", ">", "x")]
    )
    assert df.count() == 10


def test_null_stats_and_null_ops(spark, tmp_path):
    table = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [(1, None), (2, None)], "k int, v string"
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    # all-null column: non-null predicates prune everything...
    assert mf.read_manifest_table(
        spark, table, skip=[("v", "=", "x")]
    ).count() == 0
    # ...is_null keeps it
    assert mf.read_manifest_table(
        spark, table, skip=[("v", "is_null", None)]
    ).count() == 2
    assert mf.read_manifest_table(
        spark, table, skip=[("v", "is_not_null", None)]
    ).count() == 0


def test_optimize_recomputes_stats(spark, tmp_path):
    table = _bucket_correlated_table(spark, tmp_path)
    mf.optimize_table(spark, table)
    manifest = mf.read_manifest(table)
    assert set(manifest["stats"]) == set(manifest["buckets"])
    df = mf.read_manifest_table(
        spark, table, skip=[("val", "between", (1100, 1200))]
    )
    assert len(_dirs_of(df)) == 1


def test_nan_bounds_never_recorded_or_mispruned(spark, tmp_path):
    """Spark sorts NaN as the LARGEST double — both in min/max (a
    NaN-containing bucket gets max=NaN) and in comparisons (NaN > 0.5
    is TRUE in Spark SQL). Python's NaN comparisons are always False,
    so a recorded NaN bound evaluated driver-side would prune a bucket
    whose NaN rows genuinely match. Columns with a NaN bound are simply
    not recorded — the bucket stays unprunable and the residual filter
    (Spark semantics) decides."""
    table = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 2.5)], "k int, x double"
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=1)
    stats = mf.read_manifest(table)["stats"]
    for b in stats:
        assert "x" not in stats[b]
    got = {
        r.k
        for r in mf.read_manifest_table(
            spark, table, skip=[("x", ">", 0.5)]
        ).collect()
    }
    assert got == {1, 2, 3}  # NaN > 0.5 in Spark: row 2 matches


def test_timestamp_stats_prune_with_aware_and_naive_predicates(spark, tmp_path):
    """Timestamp bounds are stored as naive-UTC ISO-8601; both naive and
    tz-aware predicate values prune identically (aware values normalize
    to naive UTC before the lexicographic compare)."""
    import datetime as dt

    table = str(tmp_path / "t")
    keyed = spark.range(40).select(F.col("id").cast("int").alias("k"))
    with_b = mf._with_bucket(keyed, ["k"], 2)
    rows = with_b.select(
        "k",
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + F.col("pk_bucket") * 86_400 * 30
            + F.col("k") * 60
        ).alias("ts"),
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    cut_naive = dt.datetime.utcfromtimestamp(1_700_000_000 + 86_400 * 15)
    cut_aware = dt.datetime.fromtimestamp(
        1_700_000_000 + 86_400 * 15, tz=dt.timezone.utc
    )
    full = mf.read_manifest_table(spark, table)
    n_all = len(_dirs_of(full))
    assert n_all == 2
    for cut in (cut_naive, cut_aware):
        df = mf.read_manifest_table(spark, table, skip=[("ts", ">", cut)])
        assert len(_dirs_of(df)) == 1, cut
        assert df.count() == full.filter(F.col("ts") > F.lit(cut_naive)).count()


# ---------------------------------------------------------------------------
# clustered optimize (OPTIMIZE ZORDER) + per-file metadata skipping
# ---------------------------------------------------------------------------


def _priced_table(spark, tmp_path, n=2000, n_buckets=4):
    """price = a pseudo-random permutation of 0..n-1: every bucket's
    dir-level [min, max] spans ~the whole range, so a price predicate
    can NEVER prune at dir granularity — the exact situation clustering
    exists for."""
    rows = spark.range(n).select(
        F.col("id").cast("int").alias("k"),
        ((F.col("id") * 7919) % n).cast("double").alias("price"),
    )
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=n_buckets)
    return table


def test_clustered_optimize_prunes_files_within_buckets(spark, tmp_path):
    table = _priced_table(spark, tmp_path)
    skip = [("price", "between", (0.0, 99.0))]
    before = mf.read_manifest_table(spark, table, skip=skip)
    assert len(_dirs_of(before)) == 4  # dir stats prune nothing non-key
    full = {(r.k, r.price) for r in mf.read_manifest_table(spark, table).collect()}
    want = {(k, p) for k, p in full if 0.0 <= p <= 99.0}

    mf.optimize_table(spark, table, cluster_by=["price"], files_per_bucket=4)
    manifest = mf.read_manifest(table)
    n_total = sum(len(v) for v in manifest["file_stats"].values())
    assert n_total >= 8  # genuinely multiple files per bucket
    after = mf.read_manifest_table(spark, table, skip=skip)
    opened = len(after.inputFiles())
    assert 0 < opened < n_total, (opened, n_total)
    assert {(r.k, r.price) for r in after.collect()} == want
    assert len(want) > 0


def test_z_interleave_prunes_on_the_non_leading_dimension(spark, tmp_path):
    """Morton interleaving (not lexicographic concatenation) is what
    makes the SECOND cluster column prunable: a predicate on y alone
    must still skip files."""
    table = str(tmp_path / "grid")
    rows = spark.range(4096).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 64).cast("double").alias("x"),
        (F.col("id") / 64).cast("int").cast("double").alias("y"),
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    mf.optimize_table(
        spark, table, cluster_by=["x", "y"], files_per_bucket=16
    )
    manifest = mf.read_manifest(table)
    n_total = sum(len(v) for v in manifest["file_stats"].values())
    df = mf.read_manifest_table(spark, table, skip=[("y", "<", 4.0)])
    assert 0 < len(df.inputFiles()) < n_total
    assert df.count() == 4 * 64
    dfx = mf.read_manifest_table(spark, table, skip=[("x", ">=", 60.0)])
    assert 0 < len(dfx.inputFiles()) < n_total
    assert dfx.count() == 4 * 64


def test_string_cluster_column(spark, tmp_path):
    table = str(tmp_path / "s")
    rows = spark.range(520).select(
        F.col("id").cast("int").alias("k"),
        F.concat(
            F.chr(F.lit(97) + (F.col("id") * 31) % 26), F.lit("doc"),
            F.col("id"),
        ).alias("name"),
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    mf.optimize_table(spark, table, cluster_by=["name"], files_per_bucket=8)
    manifest = mf.read_manifest(table)
    n_total = sum(len(v) for v in manifest["file_stats"].values())
    df = mf.read_manifest_table(spark, table, skip=[("name", "<", "c")])
    assert 0 < len(df.inputFiles()) < n_total
    full = mf.read_manifest_table(spark, table)
    assert df.count() == full.filter(F.col("name") < "c").count() > 0


def test_upsert_after_cluster_carries_file_stats_by_reference(spark, tmp_path):
    """An upsert rewrites its touched buckets UNclustered (their file
    stats drop — dir-level stats take over, sound but coarser) while
    untouched buckets keep their per-file stats and stay file-prunable.
    Results remain exact throughout."""
    table = _priced_table(spark, tmp_path)
    mf.optimize_table(spark, table, cluster_by=["price"], files_per_bucket=4)
    before = mf.read_manifest(table)
    assert set(before["file_stats"]) == set(before["buckets"])

    one = spark.createDataFrame([(0, 50.0)], "k int, price double")
    mf.manifest_upsert(spark, table, one, ["k"])
    after = mf.read_manifest(table)
    touched = {
        r.pk_bucket
        for r in mf._with_bucket(one, ["k"], after["n_buckets"])
        .select("pk_bucket").collect()
    }
    for b in after["buckets"]:
        if int(b) in touched:
            assert b not in after["file_stats"]
        else:
            assert after["file_stats"][b] == before["file_stats"][b]

    skip = [("price", "between", (0.0, 99.0))]
    got = {
        (r.k, r.price)
        for r in mf.read_manifest_table(spark, table, skip=skip).collect()
    }
    full = {
        (r.k, r.price)
        for r in mf.read_manifest_table(spark, table).collect()
    }
    assert got == {(k, p) for k, p in full if 0.0 <= p <= 99.0}


def test_key_clustered_lookup_opens_a_single_file(spark, tmp_path):
    """cluster_by = the merge key narrows a point lookup past the
    bucket dir to the one file whose key range covers the value."""
    table = str(tmp_path / "t")
    rows = spark.range(1000).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=4)
    mf.optimize_table(spark, table, cluster_by=["k"], files_per_bucket=4)
    looked = mf.read_manifest_lookup(spark, table, {"k": 500})
    assert [(r.k, r.v) for r in looked.collect()] == [(500, "v500")]
    assert len(looked.inputFiles()) == 1


def test_plain_optimize_resets_file_stats(spark, tmp_path):
    table = _priced_table(spark, tmp_path)
    mf.optimize_table(spark, table, cluster_by=["price"], files_per_bucket=4)
    assert mf.read_manifest(table)["file_stats"]
    mf.optimize_table(spark, table)
    manifest = mf.read_manifest(table)
    assert manifest["file_stats"] == {}
    skip = [("price", "<", 100.0)]
    df = mf.read_manifest_table(spark, table, skip=skip)
    full = mf.read_manifest_table(spark, table)
    assert df.count() == full.filter(F.col("price") < 100.0).count()


# ---------------------------------------------------------------------------
# commit metadata: history, timestamp time travel, metadata-only COUNT(*)
# ---------------------------------------------------------------------------


def test_describe_history_and_metadata_count(spark, tmp_path, capsys):
    from trail_condition_etl_spark.__main__ import main

    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a"), (2, "b")]), ["k"], n_buckets=4)
    mf.manifest_upsert(spark, table, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    mf.optimize_table(spark, table, cluster_by=["k"], files_per_bucket=2)
    hist = {r.version: r for r in mf.describe_history(spark, table).collect()}
    assert [hist[v].operation for v in (1, 2, 3)] == [
        "upsert", "upsert", "optimize"
    ]
    assert hist[1].table_rows == 2
    assert hist[2].table_rows == 3
    assert hist[3].table_rows == 3
    assert hist[1].committed_at <= hist[2].committed_at <= hist[3].committed_at
    # history carries each commit's own write metrics
    m1 = mf.read_manifest(table, 1)
    assert (hist[1].rows_written, hist[1].files_written) == (
        2, m1["op_metrics"]["files_written"]
    )
    assert hist[1].bytes_written == m1["op_metrics"]["bytes_written"] > 0
    # the operator console shows the same record
    assert main(["table", "history", table]) == 0
    header = next(
        ln for ln in capsys.readouterr().out.splitlines() if "version" in ln
    )
    assert "files_written" in header and "bytes_written" in header
    assert "n_buckets" in header
    assert [hist[v].n_buckets for v in (1, 2, 3)] == [4, 4, 4]
    # metadata-only count agrees with the scan, at every version
    for v, n in ((1, 2), (2, 3), (3, 3)):
        assert mf.manifest_row_count(table, v) == n
        assert mf.read_manifest_table(spark, table, v).count() == n
    # tombstones shrink the metadata count too
    dead = spark.createDataFrame([(2, True)], "k int, _g boolean")
    mf.manifest_upsert(spark, table, dead, ["k"], tombstone_col="_g")
    assert mf.manifest_row_count(table) == 2


def test_metadata_count_refuses_to_guess_without_stats(spark, tmp_path):
    """A commit records its footer row counts, so the metadata count is
    exact; a manifest with no recorded counts (an older writer's) gets
    an honest "must scan" None."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=2)
    assert mf.manifest_row_count(table) == 1
    _strip_manifest_keys(table, 1, "row_counts", "total_rows")
    assert mf.manifest_row_count(table) is None  # honest "must scan"
    assert mf.read_manifest_table(spark, table).count() == 1


def test_timestamp_as_of_time_travel(spark, tmp_path):
    import datetime as dt

    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=2)
    t1 = dt.datetime.now(dt.timezone.utc)
    mf.manifest_upsert(spark, table, _df(spark, [(1, "A"), (2, "b")]), ["k"])
    assert _state(spark, table) == {(1, "A"), (2, "b")}
    at_t1 = {
        (r.k, r.v)
        for r in mf.read_manifest_table(spark, table, as_of=t1).collect()
    }
    assert at_t1 == {(1, "a")}
    # naive datetimes are taken as UTC
    naive = t1.replace(tzinfo=None)
    assert mf.version_as_of(table, naive) == 1
    assert mf.version_as_of(table, dt.datetime.now(dt.timezone.utc)) == 2
    with pytest.raises(ValueError):
        mf.version_as_of(table, t1 - dt.timedelta(days=1))
    with pytest.raises(ValueError):
        mf.read_manifest_table(spark, table, version=1, as_of=t1)


def test_crashed_clustered_optimize_changes_nothing(spark, tmp_path, monkeypatch):
    """A clustered optimize that dies before its manifest publish leaves
    the table, its stats, AND its file_stats byte-identical; a retry
    then lands normally."""
    import json as _json

    table = _priced_table(spark, tmp_path)
    before_state = {
        (r.k, r.price)
        for r in mf.read_manifest_table(spark, table).collect()
    }
    before_mf = mf.read_manifest(table)

    def boom(table_path, manifest, version):
        raise IOError("died between clustered rewrite and publish")

    monkeypatch.setattr(mf, "_atomic_publish", boom)
    with pytest.raises(IOError):
        mf.optimize_table(
            spark, table, cluster_by=["price"], files_per_bucket=4
        )
    monkeypatch.undo()
    assert mf.read_manifest(table) == before_mf
    assert {
        (r.k, r.price)
        for r in mf.read_manifest_table(spark, table).collect()
    } == before_state
    v = mf.optimize_table(
        spark, table, cluster_by=["price"], files_per_bucket=4
    )
    assert mf.read_manifest(table)["file_stats"]
    assert v == before_mf["version"] + 1


def test_pre_metadata_manifests_stay_readable(spark, tmp_path):
    """A table written by an older format version (no committed_at /
    operation / row_counts / file_stats keys) still reads, skips
    soundly, appears in history with null metadata, and reports an
    honest None metadata count — never a wrong number."""
    import json as _json

    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a"), (2, "b")]), ["k"], n_buckets=2)
    # strip the modern keys in place, as an old writer would have left it
    path = mf._manifest_path(table, 1)
    with open(path) as f:
        m = _json.load(f)
    for k in ("committed_at", "operation", "op_metrics", "row_counts",
              "file_stats", "stats", "total_rows"):
        m.pop(k, None)
    os.chmod(path, 0o644)
    with open(path, "w") as f:
        _json.dump(m, f)

    assert _state(spark, table) == {(1, "a"), (2, "b")}
    # skip without stats: nothing prunable, residual filter still exact
    got = {
        (r.k, r.v)
        for r in mf.read_manifest_table(
            spark, table, skip=[("k", "=", 1)]
        ).collect()
    }
    assert got == {(1, "a")}
    assert mf.manifest_row_count(table) is None
    hist = mf.describe_history(spark, table).collect()
    assert len(hist) == 1
    assert hist[0].operation is None and hist[0].committed_at is None
    import datetime as dt
    with pytest.raises(ValueError):  # no stamp to compare against
        mf.version_as_of(table, dt.datetime.now(dt.timezone.utc))
    # the next (modern) commit restores full metadata going forward
    mf.manifest_upsert(spark, table, _df(spark, [(3, "c")]), ["k"])
    assert mf.read_manifest(table)["operation"] == "upsert"


# ---------------------------------------------------------------------------
# MERGE INTO (conditional update / delete / insert, one atomic commit)
# ---------------------------------------------------------------------------


def test_merge_into_full_clause_surface(spark, tmp_path):
    table = str(tmp_path / "t")
    tgt = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k int, v string, n long",
    )
    mf.manifest_upsert(spark, table, tgt, ["k"], n_buckets=4)
    src = spark.createDataFrame(
        [(2, "B2", 200), (3, "C3", 300), (4, "D4", 400), (9, "I", 900)],
        "k int, v string, n long",
    )
    v = mf.merge_into(
        spark,
        table,
        src,
        when_matched_update={
            "v": F.col("src.v"),
            "n": F.col("tgt.n") + F.col("src.n"),
        },
        matched_condition=F.col("src.k") % 2 == 0,  # only k=2, k=4
        when_matched_delete=F.col("src.n") == 300,  # k=3
    )
    assert v == 2  # the whole merge is ONE commit
    assert mf.read_manifest(table)["operation"] == "merge"
    got = {(r.k, r.v, r.n) for r in mf.read_manifest_table(spark, table).collect()}
    assert got == {
        (1, "a", 10),      # untouched target row
        (2, "B2", 220),    # matched + condition -> updated
        (4, "D4", 440),    # matched + condition -> updated
        (9, "I", 900),     # not matched -> inserted
        # k=3 deleted
    }


def test_merge_into_without_update_leaves_matched_rows_unwritten(spark, tmp_path):
    """No update clause: matched rows are not just unchanged — their
    buckets aren't rewritten unless a delete or insert touches them."""
    table = str(tmp_path / "t")
    rows = spark.range(100).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=8)
    before = mf.read_manifest(table)
    src = spark.createDataFrame(
        [(5, "whatever"), (1000, "new")], "k int, v string"
    )
    mf.merge_into(spark, table, src)  # insert-only merge
    after = mf.read_manifest(table)
    got = {(r.k, r.v) for r in mf.read_manifest_table(spark, table).collect()}
    assert (1000, "new") in got and (5, "v5") in got
    assert len(got) == 101
    # only the INSERT's bucket is rewritten: the matched row (k=5)
    # contributed nothing to the batch, so even its bucket carries
    changed = {
        b for b in after["buckets"]
        if after["buckets"][b] != before["buckets"].get(b)
    }
    ins_only = spark.createDataFrame([(1000,)], "k int")
    touched = {
        str(r.pk_bucket)
        for r in mf._with_bucket(ins_only, ["k"], 8)
        .select("pk_bucket").collect()
    }
    assert changed == touched


def test_merge_into_additive_schema_evolution(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table, _df(spark, [(1, "a"), (2, "b")]), ["k"], n_buckets=2
    )
    src = spark.createDataFrame(
        [(2, "B", 9), (7, "g", 7)], "k int, v string, extra long"
    )
    mf.merge_into(
        spark,
        table,
        src,
        when_matched_update={"v": F.col("src.v")},
    )
    got = {
        (r.k, r.v, r.extra)
        for r in mf.read_manifest_table(spark, table).collect()
    }
    # matched row updated (extra stays null there: not in the update
    # dict); insert lands with the widened column; old row reads null
    assert got == {(1, "a", None), (2, "B", None), (7, "g", 7)}


def test_merge_into_no_clauses_is_a_true_noop(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, _df(spark, [(1, "a")]), ["k"], n_buckets=2)
    v = mf.merge_into(
        spark, table, _df(spark, [(1, "z")]), insert_not_matched=False
    )
    assert v == 1
    assert mf.list_versions(table) == [1]
    assert _state(spark, table) == {(1, "a")}


# ---------------------------------------------------------------------------
# CHECK constraints (ALTER TABLE ADD CONSTRAINT)
# ---------------------------------------------------------------------------


def test_constraint_rejects_violating_batch_atomically(spark, tmp_path):
    table = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, v string, n long"
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    v = mf.add_table_constraint(spark, table, "n_positive", "n > 0")
    assert mf.read_manifest(table)["operation"] == "add-constraint"

    bad = spark.createDataFrame([(3, "c", -5)], "k int, v string, n long")
    with pytest.raises(ValueError, match="n_positive"):
        mf.manifest_upsert(spark, table, bad, ["k"])
    assert mf.list_versions(table)[-1] == v  # nothing committed
    assert {r.k for r in mf.read_manifest_table(spark, table).collect()} == {1, 2}

    ok = spark.createDataFrame([(3, "c", 5)], "k int, v string, n long")
    mf.manifest_upsert(spark, table, ok, ["k"])
    assert {r.k for r in mf.read_manifest_table(spark, table).collect()} == {1, 2, 3}
    # merge_into routes through the same gate
    src = spark.createDataFrame([(9, "z", -1)], "k int, v string, n long")
    with pytest.raises(ValueError, match="n_positive"):
        mf.merge_into(spark, table, src)


def test_constraint_null_semantics_and_narrow_batches(spark, tmp_path):
    """SQL CHECK: only FALSE violates — NULL passes; a narrow batch's
    missing constrained column is checked as NULL, not an analysis
    error. NOT NULL is the explicit IS NOT NULL constraint."""
    table = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [(1, "a", 10)], "k int, v string, n long"
    )
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    mf.add_table_constraint(spark, table, "n_positive", "n > 0")
    # NULL n passes the CHECK
    withnull = spark.createDataFrame(
        [(2, "b", None)], "k int, v string, n long"
    )
    mf.manifest_upsert(spark, table, withnull, ["k"])
    # narrow batch omitting n entirely also passes (lands NULL)
    narrow = spark.createDataFrame([(3, "c")], "k int, v string")
    mf.manifest_upsert(spark, table, narrow, ["k"])
    assert mf.read_manifest_table(spark, table).count() == 3
    # explicit NOT NULL now rejects the nulls already present
    with pytest.raises(ValueError, match="existing row"):
        mf.add_table_constraint(spark, table, "n_nn", "n IS NOT NULL")


def test_drop_constraint_reopens_the_gate(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table,
        spark.createDataFrame([(1, 5)], "k int, n long"), ["k"], n_buckets=2,
    )
    mf.add_table_constraint(spark, table, "n_small", "n < 100")
    with pytest.raises(ValueError):
        mf.add_table_constraint(spark, table, "n_small", "n < 50")  # dup name
    big = spark.createDataFrame([(2, 500)], "k int, n long")
    with pytest.raises(ValueError):
        mf.manifest_upsert(spark, table, big, ["k"])
    mf.drop_table_constraint(spark, table, "n_small")
    mf.manifest_upsert(spark, table, big, ["k"])
    assert mf.read_manifest_table(spark, table).count() == 2
    with pytest.raises(ValueError):
        mf.drop_table_constraint(spark, table, "nope")
    # constraints survive unrelated commits and optimize
    mf.add_table_constraint(spark, table, "k_nn", "k IS NOT NULL")
    mf.optimize_table(spark, table)
    assert "k_nn" in mf.read_manifest(table)["constraints"]


def test_python_xxhash64_matches_spark(spark):
    """sinks/keyhash.py replicates Spark's xxhash64 bit-for-bit — the
    invariant that lets read_manifest_lookup plan bucket dirs driver-
    side with zero Spark jobs. Covers every supported type's primitive
    path, all string-length regimes of the streaming algorithm (<4,
    4-7, 8-31, >=32 bytes, multi-byte UTF-8), signed edges, null
    skipping, and multi-column seed chaining."""
    import random

    from pyspark.sql import functions as F
    from trail_condition_etl_spark.sinks.keyhash import (
        spark_xxhash64,
        supported_types,
    )

    rng = random.Random(7)
    ints = [0, 1, -1, 2**31 - 1, -(2**31), 42] + [
        rng.randint(-(2**31), 2**31 - 1) for _ in range(40)
    ]
    longs = [0, 1, -1, 2**63 - 1, -(2**63), 10**12] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(40)
    ]
    strs = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh", "héllo wörld",
            "日本語テキスト"] + [
        "x" * n for n in (9, 15, 16, 31, 32, 33, 63, 64, 100)
    ] + [
        "".join(rng.choice("abcdef ghij") for _ in range(rng.randint(0, 80)))
        for _ in range(30)
    ]
    n = max(len(ints), len(longs), len(strs))
    rows = [
        (
            ints[i % len(ints)],
            longs[i % len(longs)],
            strs[i % len(strs)],
        )
        for i in range(n)
    ] + [(None, 5, "x"), (3, None, "x"), (3, 5, None), (None, None, None)]
    df = spark.createDataFrame(rows, "i int, l bigint, s string")
    got = df.select(
        F.xxhash64("i").alias("hi"),
        F.xxhash64("l").alias("hl"),
        F.xxhash64("s").alias("hs"),
        F.xxhash64("i", "l", "s").alias("hc"),
    ).collect()
    assert supported_types(["int", "bigint", "string"])
    assert not supported_types(["int", "double"])
    for (i, l, s), r in zip(rows, got):
        assert r.hi == spark_xxhash64((i,), ["int"]), f"int {i}"
        assert r.hl == spark_xxhash64((l,), ["bigint"]), f"long {l}"
        assert r.hs == spark_xxhash64((s,), ["string"]), f"str {s!r}"
        assert r.hc == spark_xxhash64(
            (i, l, s), ["int", "bigint", "string"]
        ), f"chained {(i, l, s)!r}"


def test_lookup_plans_buckets_without_a_spark_job(spark, tmp_path):
    """The driver-side bucket planner and the engine agree end-to-end:
    lookups over int, long, and string keys return exactly the
    requested rows (a planner that hashed into the WRONG bucket would
    silently return empty for present keys)."""
    for typ, keyfn in (
        ("int", lambda i: i),
        ("bigint", lambda i: i * 10**10),
        ("string", lambda i: f"key-{i:04d}"),
    ):
        table = str(tmp_path / f"t_{typ}")
        rows = spark.range(300).select(
            F.col("id").cast("long").alias("raw"),
            (F.col("id") * 2).alias("v"),
        )
        if typ == "int":
            rows = rows.select(F.col("raw").cast("int").alias("k"), "v")
        elif typ == "bigint":
            rows = rows.select((F.col("raw") * 10**10).alias("k"), "v")
        else:
            rows = rows.select(
                F.format_string("key-%04d", F.col("raw")).alias("k"), "v"
            )
        mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=8)
        want = [keyfn(i) for i in (0, 7, 131, 299)]
        got = mf.read_manifest_lookup(
            spark, table, [{"k": w} for w in want] + [{"k": keyfn(100000)}]
        )
        assert sorted(
            (r.k, r.v) for r in got.collect()
        ) == sorted((keyfn(i), i * 2) for i in (0, 7, 131, 299))


def test_lookup_keys_are_a_jvm_local_relation(spark, tmp_path):
    """The requested keys plan as a LocalTableScan, not as an ExistingRDD
    scan of a PythonRDD that would run a Python-worker stage per
    execution."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    got = mf.read_manifest_lookup(spark, table, [{"k": 2}, {"k": None}])
    assert [(r.k, r.v) for r in got.collect()] == [(2, "b")]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    keys = mf._key_frame(
        spark, [(2,), (None,)], StructType([StructField("k", IntegerType(), False)])
    )
    lineage = keys._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert sorted(r.k for r in keys.collect() if r.k is not None) == [2]


def test_lookup_rejects_mistyped_key_values(spark, tmp_path):
    """Driver-side bucket planning masks int hashes to the column's
    width, so an out-of-range (or bool) key value would silently plan a
    WRONG bucket and return an empty result. It must raise instead
    (ADVICE r7)."""
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    with pytest.raises(ValueError, match="out of range"):
        mf.read_manifest_lookup(spark, table, {"k": 2**33})
    with pytest.raises(TypeError, match="bool"):
        mf.read_manifest_lookup(spark, table, {"k": True})
    with pytest.raises(TypeError, match="str"):
        mf.read_manifest_lookup(spark, table, {"k": "1"})
    # None is SQL null: legal, hash step skips it — no exception
    assert mf.read_manifest_lookup(spark, table, {"k": None}).count() == 0
    # valid values still work after the guard
    assert mf.read_manifest_lookup(spark, table, {"k": 2}).count() == 1


def test_cojoin_matches_shuffle_join_with_deletes(spark, tmp_path):
    """read_manifest_cojoin (storage-partitioned join) must produce the
    exact rows a regular shuffle join of the two snapshot reads gives —
    including pending MoR deletes applied per side — while its Spark
    plan contains NO join operator and no table-data shuffle (the one
    Exchange moves n_buckets plan rows)."""
    left = str(tmp_path / "l")
    right = str(tmp_path / "r")
    ldf = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k int, v string"
    )
    rdf = spark.createDataFrame(
        [(i, i * 10) for i in range(0, 200, 2)], "k int, w long"
    )
    mf.manifest_upsert(spark, left, ldf, ["k"], n_buckets=4)
    mf.manifest_upsert(spark, right, rdf, ["k"], n_buckets=4)
    mf.delete_where(spark, left, F.col("k") % 30 == 0)
    mf.delete_where(spark, right, F.col("k") % 14 == 0)
    got = mf.read_manifest_cojoin(spark, left, right)
    expected = mf.read_manifest_table(spark, left).join(
        mf.read_manifest_table(spark, right), "k", "inner"
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in expected.collect()
    }
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    # every Exchange moves the n_buckets PLAN rows (hash on `bucket`),
    # never table data — the whole point of the co-located join
    import re as _re

    assert plan.count("Exchange") == len(
        _re.findall(r"Exchange (?:hash|range)partitioning\(bucket", plan)
    ), plan


def test_cojoin_rejects_incompatible_layouts(spark, tmp_path):
    left = str(tmp_path / "l")
    right = str(tmp_path / "r")
    ldf = spark.createDataFrame([(1, "a")], "k int, v string")
    mf.manifest_upsert(spark, left, ldf, ["k"], n_buckets=4)
    # different bucket count
    mf.manifest_upsert(
        spark, right, spark.createDataFrame([(1, 5)], "k int, w long"),
        ["k"], n_buckets=8,
    )
    with pytest.raises(ValueError, match="layouts differ"):
        mf.read_manifest_cojoin(spark, left, right)
    # different keys
    other = str(tmp_path / "o")
    mf.manifest_upsert(
        spark, other, spark.createDataFrame([(1, 5)], "j int, w long"),
        ["j"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="keys differ"):
        mf.read_manifest_cojoin(spark, left, other)
    # colliding non-key column names
    clash = str(tmp_path / "c")
    mf.manifest_upsert(
        spark, clash, spark.createDataFrame([(1, "x")], "k int, v string"),
        ["k"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="collide"):
        mf.read_manifest_cojoin(spark, left, clash)


def _legacy_null_key_upsert(monkeypatch, *args, **kwargs):
    """Upserts refuse null merge keys, but a table written before they
    did can hold them. Check the refusal, then forge such a table by
    upserting with the footers' null counts hidden."""
    with pytest.raises(ValueError, match="null"):
        mf.manifest_upsert(*args, **kwargs)
    with monkeypatch.context() as m:
        m.setattr(mf, "_file_nulls", lambda md: {})
        return mf.manifest_upsert(*args, **kwargs)


def test_cojoin_rejects_mismatched_key_types_and_skips_null_keys(
    spark, tmp_path, monkeypatch
):
    """Same-named key columns of different widths hash to different
    buckets (the engine hash is width-sensitive) — the join must raise,
    not return a silently mostly-empty result. And null join keys must
    NOT match (SQL inner-join semantics; pandas merge would equate
    NaN keys)."""
    left = str(tmp_path / "l")
    wide = str(tmp_path / "w")
    mf.manifest_upsert(
        spark, left, spark.createDataFrame([(1, "a")], "k int, v string"),
        ["k"], n_buckets=4,
    )
    mf.manifest_upsert(
        spark, wide,
        spark.createDataFrame([(1, 5)], "k bigint, w long"),
        ["k"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="types differ"):
        mf.read_manifest_cojoin(spark, left, wide)
    # null keys on both sides: the joined result must exclude them
    ln = str(tmp_path / "ln")
    rn = str(tmp_path / "rn")
    _legacy_null_key_upsert(
        monkeypatch, spark, ln,
        spark.createDataFrame([(1, "a"), (None, "n")], "k int, v string"),
        ["k"], n_buckets=2,
    )
    _legacy_null_key_upsert(
        monkeypatch, spark, rn,
        spark.createDataFrame([(1, 10), (None, 99)], "k int, w long"),
        ["k"], n_buckets=2,
    )
    got = mf.read_manifest_cojoin(spark, ln, rn).collect()
    assert [(r.k, r.v, r.w) for r in got] == [(1, "a", 10)]


def test_vacuum_ignores_crashed_cursor_tmp_files(spark, tmp_path):
    """A consumer killed between the cursor tmp write and os.replace
    leaves `<name>.tmp.<pid>.<hex>` in _cursors/ — it must not become a
    phantom consumer that blocks vacuum forever."""
    import os

    from trail_condition_etl_spark.streaming import cdc

    src = str(tmp_path / "src")
    rows = spark.createDataFrame([(1, "a")], "k int, v string")
    mf.manifest_upsert(spark, src, rows, ["k"])
    mf.manifest_upsert(
        spark, src, spark.createDataFrame([(2, "b")], "k int, v string"),
        ["k"],
    )
    d = os.path.join(src, "_cursors")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "probe.tmp.1234.abcd"), "w") as fh:
        fh.write("1")  # valid version content, crash-left staging name
    assert "probe.tmp.1234.abcd" not in mf.pinned_cursor_versions(src)
    assert mf.vacuum(src, keep_last=1) >= 0  # no phantom retention block


def test_lookup_accepts_numpy_integer_keys(spark, tmp_path):
    """np.int64 keys (what a pandas frame hands back) hash
    bit-identically to Python ints and must keep planning correctly
    through the type guard."""
    np = pytest.importorskip("numpy")
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    got = mf.read_manifest_lookup(spark, table, {"k": np.int32(2)})
    assert [(r.k, r.v) for r in got.collect()] == [(2, "b")]
    with pytest.raises(ValueError, match="out of range"):
        mf.read_manifest_lookup(spark, table, {"k": np.int64(2**33)})


def test_cojoin_semi_and_anti_match_spark_semantics(
    spark, tmp_path, monkeypatch
):
    """left_semi/left_anti co-located joins must match Spark's own
    semi/anti joins over the same snapshots — including null-keyed left
    rows (anti keeps them: null matches nothing) and buckets where the
    right side is empty (anti passes the whole bucket through)."""
    left = str(tmp_path / "l")
    right = str(tmp_path / "r")
    ldf = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)] + [(None, "nul")],
        "k int, v string",
    )
    # sparse right side: some buckets get NO right rows at all
    rdf = spark.createDataFrame(
        [(i, i) for i in range(0, 100, 7)], "k int, w long"
    )
    _legacy_null_key_upsert(monkeypatch, spark, left, ldf, ["k"], n_buckets=8)
    mf.manifest_upsert(spark, right, rdf, ["k"], n_buckets=8)
    mf.delete_where(spark, right, F.col("k") == 14)
    lsnap = mf.read_manifest_table(spark, left)
    rsnap = mf.read_manifest_table(spark, right)
    for how in ("left_semi", "left_anti"):
        got = mf.read_manifest_cojoin(spark, left, right, how=how)
        assert got.columns == ["k", "v"]
        expected = lsnap.join(rsnap, "k", how)
        assert {(r.k, r.v) for r in got.collect()} == {
            (r.k, r.v) for r in expected.collect()
        }, how
    with pytest.raises(ValueError, match="supported modes"):
        mf.read_manifest_cojoin(spark, left, right, how="full_outer")
    # semi/anti never collide on non-key names (left schema only): a
    # right table sharing column 'v' is fine outside inner mode
    clash = str(tmp_path / "c")
    mf.manifest_upsert(
        spark, clash,
        spark.createDataFrame([(1, "x")], "k int, v string"),
        ["k"], n_buckets=8,
    )
    assert (
        mf.read_manifest_cojoin(spark, left, clash, how="left_semi").count()
        == 1
    )


def test_clone_reads_like_source_and_isolates_writes(spark, tmp_path):
    """Shallow clone: a metadata-only fork — the clone's v1 manifest
    references the SOURCE's segment dirs (no data bytes under the
    clone until it writes), reads exactly like the cloned snapshot
    (pending MoR deletes included), and copy-on-write isolates both
    directions."""
    src = str(tmp_path / "src")
    cl = str(tmp_path / "cl")
    rows = spark.createDataFrame(
        [(i, f"v{i}") for i in range(60)], "k int, v string"
    )
    mf.manifest_upsert(spark, src, rows, ["k"], n_buckets=4)
    mf.delete_where(spark, src, F.col("k") % 10 == 0)
    assert mf.clone_table(spark, src, cl) == 1
    # zero-copy: every bucket ref is absolute into the source, and the
    # clone has no data dir of its own yet
    cmf = mf.read_manifest(cl)
    assert cmf["operation"] == "clone"
    assert all(
        os.path.isabs(d) and d.startswith(os.path.abspath(src))
        for d in cmf["buckets"].values()
    )
    assert not os.path.isdir(os.path.join(cl, "data"))
    expect = {(r.k, r.v) for r in mf.read_manifest_table(spark, src).collect()}
    assert {
        (r.k, r.v) for r in mf.read_manifest_table(spark, cl).collect()
    } == expect
    # CoW: a clone write rewrites only its touched buckets locally...
    mf.manifest_upsert(
        spark, cl,
        spark.createDataFrame([(1, "CLONE"), (999, "NEW")], "k int, v string"),
        ["k"],
    )
    got_cl = {
        r.k: r.v for r in mf.read_manifest_table(spark, cl).collect()
    }
    assert got_cl[1] == "CLONE" and got_cl[999] == "NEW"
    # ...and the source never sees it
    got_src = {
        r.k: r.v for r in mf.read_manifest_table(spark, src).collect()
    }
    assert got_src[1] == "v1" and 999 not in got_src
    # nor does the clone see later source writes
    mf.manifest_upsert(
        spark, src,
        spark.createDataFrame([(2, "SRC")], "k int, v string"), ["k"],
    )
    assert {
        r.v for r in mf.read_manifest_table(spark, cl).filter(F.col("k") == 2).collect()
    } == {"v2"}
    # untouched clone buckets still reference source segments
    cmf2 = mf.read_manifest(cl)
    assert any(os.path.isabs(d) for d in cmf2["buckets"].values())
    assert any(not os.path.isabs(d) for d in cmf2["buckets"].values())


def test_clone_version_pin_and_fresh_path_guard(spark, tmp_path):
    """clone_table(version=...) forks the PINNED snapshot (and its
    narrower schema); cloning onto an existing table raises."""
    src = str(tmp_path / "src")
    mf.manifest_upsert(
        spark, src,
        spark.createDataFrame([(1, "a")], "k int, v string"),
        ["k"], n_buckets=2,
    )
    mf.manifest_upsert(
        spark, src,
        spark.createDataFrame([(2, "b", 5.0)], "k int, v string, s double"),
        ["k"],
    )
    cl = str(tmp_path / "cl")
    mf.clone_table(spark, src, cl, version=1)
    got = mf.read_manifest_table(spark, cl)
    assert got.columns == ["k", "v"]  # pre-evolution schema
    assert [(r.k, r.v) for r in got.collect()] == [(1, "a")]
    with pytest.raises(ValueError, match="fresh path"):
        mf.clone_table(spark, src, cl)


def test_source_vacuum_guards_clone_pinned_segments(spark, tmp_path):
    """The source's vacuum must not sweep segment dirs a shallow clone
    still references: carried-forward segments never block, a rewrite
    that orphans them raises VacuumRetentionError until the clone is
    materialized + released (or force=True breaks it loudly)."""
    src = str(tmp_path / "src")
    cl = str(tmp_path / "cl")
    rows = spark.createDataFrame(
        [(i, i * 10) for i in range(40)], "k int, w long"
    )
    mf.manifest_upsert(spark, src, rows, ["k"], n_buckets=4)
    mf.clone_table(spark, src, cl)
    # append-only second commit: v1's segments carry into v2, so the
    # precise guard lets the sweep through even though v1 ages out
    mf.manifest_upsert(
        spark, src,
        spark.createDataFrame([(1000, 1)], "k int, w long"), ["k"],
    )
    assert mf.vacuum(src, keep_last=1) >= 0
    assert {
        r.k for r in mf.read_manifest_table(spark, cl).collect()
    } == set(range(40))
    # full rewrite: v2's kept manifest no longer references the dirs
    # the clone pins -> the sweep must refuse
    mf.optimize_table(spark, src)
    with pytest.raises(mf.VacuumRetentionError, match="_clones"):
        mf.vacuum(src, keep_last=1)
    # materialize the clone, release the pin, sweep goes through
    mf.optimize_table(spark, cl)
    assert mf.vacuum(cl, keep_last=1) >= 0  # clone self-contained now
    assert mf.release_clone(src, cl) is True
    assert mf.release_clone(src, cl) is False  # idempotent
    assert mf.vacuum(src, keep_last=1) >= 0
    # both tables still read exactly
    assert {
        r.k for r in mf.read_manifest_table(spark, cl).collect()
    } == set(range(40))
    assert mf.read_manifest_table(spark, src).count() == 41


def test_clone_vacuum_never_touches_source_data(spark, tmp_path):
    """vacuum on the CLONE sweeps only clone-local dirs: absolute refs
    into the source are outside its data dir by construction."""
    src = str(tmp_path / "src")
    cl = str(tmp_path / "cl")
    rows = spark.createDataFrame(
        [(i, f"x{i}") for i in range(30)], "k int, v string"
    )
    mf.manifest_upsert(spark, src, rows, ["k"], n_buckets=2)
    mf.clone_table(spark, src, cl)
    mf.manifest_upsert(
        spark, cl,
        spark.createDataFrame([(5, "y")], "k int, v string"), ["k"],
    )
    mf.vacuum(cl, keep_last=1)
    # source untouched and fully readable
    assert mf.read_manifest_table(spark, src).count() == 30
    # clone still correct (its kept manifest references live dirs)
    got = {r.k: r.v for r in mf.read_manifest_table(spark, cl).collect()}
    assert got[5] == "y" and len(got) == 30


def test_chained_clone_pins_every_referenced_table(spark, tmp_path):
    """Regression (VERDICT r9 #2 / ADVICE r9): clone C of clone B of A
    carries ABSOLUTE refs into A's data dir, so its pin must register
    under A (every table its manifest references), not just under its
    immediate source B. Otherwise, once B materializes itself and
    releases, A's vacuum silently sweeps segments C still reads."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    c = str(tmp_path / "c")
    rows = spark.createDataFrame(
        [(i, i * 3) for i in range(40)], "k int, w long"
    )
    mf.manifest_upsert(spark, a, rows, ["k"], n_buckets=4)
    mf.clone_table(spark, a, b)
    mf.clone_table(spark, b, c)
    # C's only refs point into A (B holds no data of its own), so the
    # pin lands under A — B's _clones need not know about C at all
    pins_a = {p for _, (_, p) in mf.pinned_clone_versions(a).items()}
    assert os.path.abspath(b) in pins_a and os.path.abspath(c) in pins_a
    # B materializes and severs its own dependency on A
    mf.optimize_table(spark, b)
    assert mf.vacuum(b, keep_last=1) >= 0
    assert mf.release_clone(a, b) is True
    # A rewrites; its vacuum must STILL refuse while C reads A segments
    mf.optimize_table(spark, a)
    with pytest.raises(mf.VacuumRetentionError, match="_clones"):
        mf.vacuum(a, keep_last=1)
    # materialize C, release its pin on A, and the sweep goes through
    mf.optimize_table(spark, c)
    assert mf.vacuum(c, keep_last=1) >= 0
    assert mf.release_clone(a, c) is True
    assert mf.vacuum(a, keep_last=1) >= 0
    for t in (a, b, c):
        assert {
            r.k for r in mf.read_manifest_table(spark, t).collect()
        } == set(range(40))


def test_clone_of_partially_materialized_clone_pins_both(spark, tmp_path):
    """A CoW-upserted clone B holds a MIX of refs (clone-local + into
    A); cloning B then pins under BOTH A and B, and each owner's vacuum
    refuses while the grandchild still reads its segments."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    c = str(tmp_path / "c")
    rows = spark.createDataFrame(
        [(i, i) for i in range(40)], "k int, w long"
    )
    mf.manifest_upsert(spark, a, rows, ["k"], n_buckets=4)
    mf.clone_table(spark, a, b)
    mf.manifest_upsert(  # CoW: rewrites only touched buckets into b
        spark, b, spark.createDataFrame([(0, 999)], "k int, w long"),
        ["k"],
    )
    mf.clone_table(spark, b, c)
    assert os.path.abspath(c) in {
        p for _, (_, p) in mf.pinned_clone_versions(a).items()
    }
    assert os.path.abspath(c) in {
        p for _, (_, p) in mf.pinned_clone_versions(b).items()
    }
    mf.optimize_table(spark, b)
    mf.release_clone(a, b)
    with pytest.raises(mf.VacuumRetentionError, match="_clones"):
        mf.vacuum(b, keep_last=1)  # C still reads B's CoW bucket
    mf.optimize_table(spark, a)
    with pytest.raises(mf.VacuumRetentionError, match="_clones"):
        mf.vacuum(a, keep_last=1)  # and A's carried buckets
    got = {r.k: r.w for r in mf.read_manifest_table(spark, c).collect()}
    assert got[0] == 999 and len(got) == 40


def test_merge_not_matched_by_source_clauses(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE: delete wins over update, the update
    applies only where its condition holds, untouched unmatched rows
    survive by reference, and the whole merge is ONE commit."""
    table = str(tmp_path / "t")
    tgt = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k int, v long"
    )
    mf.manifest_upsert(spark, table, tgt, ["k"], n_buckets=4)
    v0 = mf.read_manifest(table)["version"]
    src = spark.createDataFrame(
        [(k, 7777) for k in range(0, 20, 4)] + [(100, 1)], "k int, v long"
    )
    mf.merge_into(
        spark,
        table,
        src,
        when_matched_update={"v": F.col("src.v")},
        when_not_matched_by_source_delete=F.col("tgt.v") % 30 == 0,
        when_not_matched_by_source_update={"v": F.col("tgt.v") + 1},
        not_matched_by_source_condition=F.col("tgt.v") % 20 == 0,
    )
    assert mf.read_manifest(table)["version"] == v0 + 1  # one commit
    got = {r.k: r.v for r in mf.read_manifest_table(spark, table).collect()}
    want: dict[int, int] = {}
    matched = set(range(0, 20, 4))
    for k in range(20):
        v = k * 10
        if k in matched:
            want[k] = 7777
        elif v % 30 == 0:
            continue  # by-source delete
        elif v % 20 == 0:
            want[k] = v + 1  # by-source conditional update
        else:
            want[k] = v  # untouched, carried
    want[100] = 1  # insert
    assert got == want
    # without by-source clauses behavior is unchanged: pure-matched
    # merge still touches only source buckets (regression guard)
    mf.merge_into(
        spark,
        table,
        spark.createDataFrame([(1, 5)], "k int, v long"),
        when_matched_update={"v": F.col("src.v")},
        insert_not_matched=False,
    )
    got2 = {r.k: r.v for r in mf.read_manifest_table(spark, table).collect()}
    assert got2[1] == 5 and len(got2) == len(want)


def test_table_changes_preimages(spark, tmp_path):
    """include_preimages=True (Delta CDF's image pair): each update
    emits update_preimage (old values) + update_postimage (new values);
    inserts/deletes are unchanged, and the streaming source's
    includePreimages option emits the identical set."""
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), ["k"],
        n_buckets=4,
    )
    changes = spark.createDataFrame(
        [(2, "B2", False), (3, None, True), (4, "d", False)],
        "k int, v string, _deleted boolean",
    )
    mf.manifest_upsert(
        spark, table, changes, ["k"], tombstone_col="_deleted"
    )
    got = {
        (r.k, r.change_type, r.v)
        for r in mf.table_changes(
            spark, table, 1, include_preimages=True
        ).collect()
    }
    assert got == {
        (2, "update_preimage", "b"),
        (2, "update_postimage", "B2"),
        (3, "delete", None),
        (4, "insert", "d"),
    }
    from trail_condition_etl_spark.sources.manifest_source import (
        register_manifest_sources,
    )

    register_manifest_sources(spark)
    streamed = {
        (r.k, r.change_type, r.v)
        for r in spark.read.format("manifest")
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("includePreimages", "true")
        .load()
        .collect()
    }
    assert streamed == got
