"""Merge-on-read DELETE (sinks/manifest.py `delete_where`): equality
delete files instead of segment rewrites — Iceberg v2 equality deletes /
Delta deletion vectors reduced to their mechanics. Pins the
write-amplification contract (no segment rewritten), every reader's
anti-join (table read, skip scan, lookup, merge target, CDC,
DataSource), materialization on rewrite/optimize, vacuum retention,
metadata-only counts, and crash totality."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from trail_condition_etl_spark.sinks import manifest as mf
from trail_condition_etl_spark.sources import manifest_source as ms


def _table(spark, tmp_path, n=100, n_buckets=4):
    rows = spark.range(n).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=n_buckets)
    return table


def _keys(spark, table, version=None, skip=None):
    return sorted(
        r.k
        for r in mf.read_manifest_table(
            spark, table, version=version, skip=skip
        ).collect()
    )


def test_delete_where_rewrites_no_segments(spark, tmp_path):
    """The whole point of merge-on-read: the delete commit carries every
    segment dir BY REFERENCE (bytes written proportional to the deleted
    keys, not the table) yet readers no longer see the rows."""
    table = _table(spark, tmp_path)
    before = mf.read_manifest(table)
    v = mf.delete_where(spark, table, "k % 10 = 0")
    after = mf.read_manifest(table)
    assert v == 2
    assert after["buckets"] == before["buckets"]  # zero segments rewritten
    assert after["operation"] == "delete"
    assert after["op_metrics"]["mode"] == "merge-on-read"
    assert after["op_metrics"]["rows_deleted"] == 10
    assert after["op_metrics"]["buckets_written"] == 0
    assert _keys(spark, table) == [k for k in range(100) if k % 10]
    # time travel: the pre-delete snapshot still has every row
    assert len(_keys(spark, table, version=1)) == 100


def test_delete_accepts_column_and_sql_predicates(spark, tmp_path):
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, F.col("k") < 3)
    mf.delete_where(spark, table, "v >= 970")
    assert _keys(spark, table) == list(range(3, 97))


def test_no_match_delete_commits_nothing(spark, tmp_path):
    table = _table(spark, tmp_path)
    v = mf.delete_where(spark, table, "k > 10000")
    assert v == 1  # unchanged version: no empty commits
    assert mf.read_manifest(table)["version"] == 1
    # and no orphan delete dir was left published in the manifest
    assert not mf.read_manifest(table).get("deletes")


def test_overlapping_deletes_never_double_count(spark, tmp_path):
    """A second delete matches against the CURRENT snapshot (pending
    deletes applied), so an already-deleted key lands in no second
    delete file — counts stay exact."""
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, "k % 10 = 0")  # 10 keys
    mf.delete_where(spark, table, "k % 5 = 0")  # 10 NEW keys (not 20)
    assert mf.manifest_row_count(table) == 80
    assert len(_keys(spark, table)) == 80
    total = sum(
        mf.read_manifest(table)["delete_counts"].values()
    )
    assert total == 20


def test_metadata_count_subtracts_delete_counts(spark, tmp_path):
    table = _table(spark, tmp_path)
    assert mf.manifest_row_count(table) == 100
    mf.delete_where(spark, table, "k < 25")
    assert mf.manifest_row_count(table) == 75  # zero data files opened
    # describe_history reflects the post-delete table_rows
    hist = {
        r.version: (r.operation, r.table_rows)
        for r in mf.describe_history(spark, table).collect()
    }
    assert hist[2] == ("delete", 75)


def test_lookup_sees_deleted_key_as_absent(spark, tmp_path):
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, "k = 7")
    got = mf.read_manifest_lookup(spark, table, [{"k": 7}, {"k": 8}])
    assert [r.k for r in got.collect()] == [8]


def test_skip_scan_applies_deletes(spark, tmp_path):
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, "k = 4")
    got = _keys(spark, table, skip=[("k", "<", 10)])
    assert got == [0, 1, 2, 3, 5, 6, 7, 8, 9]


def test_upsert_materializes_touched_buckets_and_carries_rest(spark, tmp_path):
    """A rewrite of a bucket applies and DROPS its pending delete files
    (the rewrite materialized them); untouched buckets keep theirs."""
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, "k % 2 = 0")  # every bucket gets deletes
    pending = mf.read_manifest(table)["deletes"]
    assert len(pending) == 4  # all buckets
    one = spark.createDataFrame([(0, 999)], "k int, v long")
    mf.manifest_upsert(spark, table, one, ["k"])
    after = mf.read_manifest(table)
    # k=0's bucket was rewritten: its delete files are gone; others carry
    assert len(after["deletes"]) == 3
    assert all(after["deletes"][b] == pending[b] for b in after["deletes"])
    rows = {r.k: r.v for r in mf.read_manifest_table(spark, table).collect()}
    assert rows[0] == 999  # deleted key re-inserted by the upsert
    assert set(rows) == {0} | {k for k in range(100) if k % 2}
    assert mf.manifest_row_count(table) == 51


def test_merge_into_treats_deleted_keys_as_not_matched(spark, tmp_path):
    """A pending-deleted key must NOT match (no resurrection of old
    values): a source row for it inserts fresh, an update clause never
    touches it."""
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, "k < 2")
    src = spark.createDataFrame([(0, 7), (1, 7), (2, 7)], "k int, v long")
    mf.merge_into(
        spark,
        table,
        src,
        when_matched_update={"v": F.col("tgt.v") + F.lit(1)},
    )
    rows = {
        r.k: r.v
        for r in mf.read_manifest_table(spark, table)
        .filter("k < 4")
        .collect()
    }
    # 0,1 deleted -> inserted with the SOURCE value; 2 matched -> 20+1
    assert rows == {0: 7, 1: 7, 2: 21, 3: 30}


def test_optimize_materializes_all_deletes(spark, tmp_path):
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, "k % 3 = 0")
    v = mf.optimize_table(spark, table)
    after = mf.read_manifest(table)
    assert not after.get("deletes") and not after.get("delete_counts")
    assert len(_keys(spark, table)) == 66
    assert mf.manifest_row_count(table) == 66
    # and the older version with pending deletes still reads correctly
    assert len(_keys(spark, table, version=v - 1)) == 66


def test_vacuum_keeps_pending_delete_files(spark, tmp_path):
    """Delete dirs are manifest-referenced data like segments: vacuum
    must keep the ones the retained manifests reference, and sweep them
    once an optimize materializes them away."""
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, "k % 10 = 0")
    mf.vacuum(table, keep_last=1)
    assert len(_keys(spark, table)) == 90  # delete files survived
    mf.optimize_table(spark, table)
    mf.vacuum(table, keep_last=1)
    data = os.listdir(os.path.join(table, "data"))
    assert not [d for d in data if d.startswith("del-")]  # swept
    assert len(_keys(spark, table)) == 90


def test_table_changes_emits_mor_deletes(spark, tmp_path):
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, "k % 10 = 0")
    ch = mf.table_changes(spark, table, 1, 2).collect()
    assert {r.change_type for r in ch} == {"delete"}
    assert sorted(r.k for r in ch) == list(range(0, 100, 10))
    assert all(r.v is None for r in ch)  # delete rows carry null values


def test_constraint_validation_ignores_deleted_rows(spark, tmp_path):
    """A CHECK constraint violated ONLY by already-deleted rows must be
    addable — validation runs over the real (deletes-applied) snapshot."""
    table = _table(spark, tmp_path)
    with pytest.raises(ValueError):
        mf.add_table_constraint(spark, table, "k_floor", "k >= 10")
    mf.delete_where(spark, table, "k < 10")
    mf.add_table_constraint(spark, table, "k_floor", "k >= 10")
    assert "k_floor" in mf.read_manifest(table)["constraints"]


def test_crashed_delete_changes_nothing(spark, tmp_path, monkeypatch):
    """Crash totality, same contract as every other commit: a delete
    that dies before the manifest publish leaves the table (and its
    row count) byte-identical — the delete file is an orphan no
    manifest references, swept by vacuum."""
    table = _table(spark, tmp_path)
    before = mf.read_manifest(table)

    def boom(table_path, manifest, version):
        raise IOError("died between delete-file write and publish")

    monkeypatch.setattr(mf, "_atomic_publish", boom)
    with pytest.raises(IOError):
        mf.delete_where(spark, table, "k < 50")
    monkeypatch.undo()
    assert mf.read_manifest(table) == before
    assert len(_keys(spark, table)) == 100
    mf.vacuum(table, keep_last=1)  # sweeps the orphan delete dir
    data = os.listdir(os.path.join(table, "data"))
    assert not [d for d in data if d.startswith("del-")]
    assert len(_keys(spark, table)) == 100


def test_delete_with_skip_hint_matches_unpruned_delete(spark, tmp_path):
    """`skip` prunes the matched-key scan via stats (a clustered-range
    DELETE at scale must not scan the table to find its keys) without
    changing the outcome when the conjuncts are implied by the
    condition — both tables end byte-equal."""
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    a, b = _table(spark, tmp_path / "a"), _table(spark, tmp_path / "b")
    mf.optimize_table(spark, a, cluster_by=["v"])
    mf.optimize_table(spark, b, cluster_by=["v"])
    mf.delete_where(spark, a, "v < 100")
    mf.delete_where(spark, b, "v < 100", skip=[("v", "<", 100)])
    assert _keys(spark, a) == _keys(spark, b) == list(range(10, 100))
    assert mf.manifest_row_count(b) == 90


def test_racing_dml_serializes_to_a_deterministic_state(spark, tmp_path):
    """The whole DML surface shares one lease+fencing protocol: an
    upsert, a merge-on-read delete, an update, and an optimize racing
    from four threads on DISJOINT key ranges must serialize into four
    clean versions whose final state is order-independent — no torn
    commit, no lost delete file, metadata count still exact."""
    import threading

    table = _table(spark, tmp_path)  # keys 0..99, v = k*10
    errs = []

    def run(fn):
        try:
            fn()
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    ops = [
        lambda: mf.manifest_upsert(
            spark,
            table,
            spark.createDataFrame(
                [(k, 7) for k in range(100, 110)], "k int, v long"
            ),
            ["k"],
        ),
        lambda: mf.delete_where(spark, table, "k < 10"),
        lambda: mf.update_where(
            spark, table, "20 <= k AND k < 30", {"v": F.lit(0).cast("long")}
        ),
        lambda: mf.optimize_table(spark, table),
    ]
    threads = [threading.Thread(target=run, args=(op,)) for op in ops]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert mf.read_manifest(table)["version"] == 5
    got = {r.k: r.v for r in mf.read_manifest_table(spark, table).collect()}
    want = {k: k * 10 for k in range(10, 100)}
    want.update({k: 0 for k in range(20, 30)})
    want.update({k: 7 for k in range(100, 110)})
    assert got == want
    assert mf.manifest_row_count(table) == len(want)


def test_batch_datasource_applies_deletes(spark, tmp_path):
    table = _table(spark, tmp_path)
    mf.delete_where(spark, table, "k % 10 = 0")
    ms.register_manifest_sources(spark)
    got = spark.read.format("manifest").option("path", table).load()
    assert got.count() == 90
    assert got.filter("k % 10 = 0").count() == 0
    # pushed-filter path agrees with the library read
    a = {tuple(r) for r in got.filter("k < 25").collect()}
    b = {
        tuple(r)
        for r in mf.read_manifest_table(spark, table)
        .filter("k < 25")
        .collect()
    }
    assert a == b
    # time-travel option still sees the pre-delete snapshot
    v1 = (
        spark.read.format("manifest")
        .option("path", table)
        .option("version", 1)
        .load()
    )
    assert v1.count() == 100


def test_cdc_stream_emits_mor_deletes(spark, tmp_path):
    """A delete_where commit changes NO bucket dir — the CDC stream
    reader must still plan change partitions for it (delete-file lists
    are part of the bucket-changed check) and emit delete rows."""
    table = _table(spark, tmp_path, n_buckets=2)
    mf.delete_where(spark, table, "k % 10 = 0")
    manifest = mf.read_manifest(table)
    schema = ms.cdc_schema(mf._data_schema(manifest))
    r = ms.ManifestCDCStreamReader(schema, {"path": table})
    parts = r.partitions({"version": 1}, {"version": 2})
    assert parts  # carried dirs + new delete files => changed buckets
    import pyarrow as pa

    rows = [
        row
        for p in parts
        for b in r.read(p)
        for row in pa.Table.from_batches([b]).to_pylist()
    ]
    assert sorted(row["k"] for row in rows) == list(range(0, 100, 10))
    assert {row["change_type"] for row in rows} == {"delete"}
    assert all(row["v"] is None for row in rows)
