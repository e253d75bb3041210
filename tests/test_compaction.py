"""Incremental bucket-wise compaction (compact_buckets): IO bounded by
the offending buckets, everything else carried by reference — the
100 TB alternative to maintain's former full-table optimize."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from trail_condition_etl_spark.sinks import manifest as _manifest
from trail_condition_etl_spark.sinks.manifest import (
    add_bloom_index,
    compact_buckets,
    delete_where,
    maintain_table,
    manifest_upsert,
    optimize_table,
    read_manifest,
    read_manifest_table,
    rename_column,
)


def _frame(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag"),
    )


def _fragmented_upsert(spark, table, rows) -> None:
    """Upsert under a tiny per-file row cap, so every touched bucket
    lands as several small files (the small-file debt compaction pays
    off; a commit otherwise writes one file per bucket)."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(_manifest, "_MAX_ROWS_PER_FILE", 3)
        manifest_upsert(spark, table, rows, ["k"])


def _files_per_bucket(table) -> dict[str, int]:
    mf = read_manifest(table)
    out = {}
    for b, d in mf["buckets"].items():
        out[b] = sum(
            1
            for fn in os.listdir(os.path.join(table, d))
            if fn.endswith(".parquet")
        )
    return out


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "t")
    manifest_upsert(spark, t, _frame(spark, 0, 400), ["k"], n_buckets=4)
    return t


def test_compacts_multifile_buckets_and_carries_rest(spark, table):
    optimize_table(spark, table)  # clean 1-file baseline
    # dirty SOME buckets: a narrow upsert rewrites only touched buckets,
    # capped so they land multi-file
    _fragmented_upsert(spark, table, _frame(spark, 0, 40))
    before = _files_per_bucket(table)
    mf_before = read_manifest(table)
    dirty = {b for b, n in before.items() if n > 1}
    assert dirty  # the premise: some buckets hold small-file debt
    v = compact_buckets(spark, table)
    assert v == mf_before["version"] + 1
    mf = read_manifest(table)
    assert mf["operation"] == "compact"
    after = _files_per_bucket(table)
    assert all(n == 1 for n in after.values())
    # untouched buckets carried by PATH identity — zero IO there
    for b in set(mf["buckets"]) - dirty:
        assert mf["buckets"][b] == mf_before["buckets"][b]
    got = {r.k: r.v for r in read_manifest_table(spark, table).collect()}
    assert got == {k: k * 3 for k in range(400)}
    # over-threshold check is metadata-only: a second call is a no-op
    assert compact_buckets(spark, table) is None
    assert read_manifest(table)["version"] == v


def test_explicit_targets_leave_other_deletes_pending(spark, table):
    delete_where(spark, table, "k = 1")  # lands in some bucket b1
    mf = read_manifest(table)
    (b_del,) = set(mf["deletes"])
    other = next(b for b in mf["buckets"] if b != b_del)
    v = compact_buckets(spark, table, bucket_ids=[int(other)])
    mf2 = read_manifest(table)
    # the non-target bucket keeps its pending delete file...
    assert set(mf2["deletes"]) == {b_del}
    # ...and the read still applies it
    assert read_manifest_table(spark, table).filter(
        F.col("k") == 1
    ).count() == 0
    # compacting the delete-pending bucket materializes it
    compact_buckets(spark, table, bucket_ids=[int(b_del)])
    mf3 = read_manifest(table)
    assert mf3["deletes"] == {}
    assert read_manifest_table(spark, table).count() == 399
    assert v == mf["version"] + 1
    with pytest.raises(ValueError, match="not in the current layout"):
        compact_buckets(spark, table, bucket_ids=[99])


def test_maintain_uses_incremental_compaction(spark, table):
    optimize_table(spark, table)
    _fragmented_upsert(spark, table, _frame(spark, 0, 40))
    v = maintain_table(
        spark, table, max_files_per_bucket=1, max_bucket_bytes=None
    )
    assert v is not None
    assert read_manifest(table)["operation"] == "compact"
    assert all(n == 1 for n in _files_per_bucket(table).values())


def test_maintain_keeps_full_optimize_for_clustered_intent(spark, table):
    optimize_table(spark, table, cluster_by=["v"], files_per_bucket=2)
    _fragmented_upsert(spark, table, _frame(spark, 0, 40))
    v = maintain_table(
        spark, table, max_files_per_bucket=1, max_bucket_bytes=None
    )
    assert v is not None
    mf = read_manifest(table)
    # layout intent preserved: the rewrite re-clusters, so it is a full
    # optimize with per-file stats, not a declustering compact
    assert mf["operation"] == "optimize"
    assert mf["op_metrics"]["cluster_by"] == ["v"]
    assert mf["file_stats"]


def test_compaction_respects_mapping_blooms_and_time_travel(spark, table):
    rename_column(spark, table, "v", "val")
    add_bloom_index(spark, table, "tag")
    _fragmented_upsert(
        spark, table, _frame(spark, 0, 40).withColumnRenamed("v", "val")
    )
    v_before = read_manifest(table)["version"]
    compact_buckets(spark, table)
    mf = read_manifest(table)
    assert mf["column_mapping"] == {"val": "v"}  # partial rewrite: kept
    # bloom bitmaps refreshed for compacted buckets; probe still exact
    assert read_manifest_table(
        spark, table, skip=[("tag", "=", "zzz")]
    ).inputFiles() == []
    row = read_manifest_table(
        spark, table, skip=[("tag", "=", "t42")]
    ).head()
    assert row.val == 126
    # the pre-compaction version still time-travels
    assert read_manifest_table(
        spark, table, version=v_before
    ).count() == 400


def test_cap_forced_files_are_not_debt(spark, tmp_path, monkeypatch):
    """A bucket past the row cap is several files however it is
    rewritten; the triggers count only files beyond that, so a
    compacted table is left alone on the next pass instead of being
    rewritten and re-published forever."""
    monkeypatch.setattr(_manifest, "_MAX_ROWS_PER_FILE", 25)
    t = str(tmp_path / "t")
    manifest_upsert(spark, t, _frame(spark, 0, 200), ["k"], n_buckets=2)
    rows = read_manifest(t)["row_counts"]
    forced = {b: -(-n // 25) for b, n in rows.items()}
    assert _files_per_bucket(t) == forced and min(forced.values()) > 1
    assert compact_buckets(spark, t) is None
    assert maintain_table(spark, t, max_files_per_bucket=1) is None
    # real debt (a pending delete file) still compacts, exactly once
    delete_where(spark, t, "k = 7")
    v = compact_buckets(spark, t)
    assert v == read_manifest(t)["version"]
    assert _files_per_bucket(t) == {
        b: -(-n // 25) for b, n in read_manifest(t)["row_counts"].items()
    }
    assert compact_buckets(spark, t) is None
    assert maintain_table(spark, t, max_files_per_bucket=1) is None
    assert read_manifest(t)["version"] == v
    assert read_manifest_table(spark, t).count() == 199
