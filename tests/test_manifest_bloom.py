"""Per-bucket bloom filters (sinks/bloom.py): hash parity, pruning,
soundness across the DML matrix, and the DataSource leg.

The contract under test mirrors the stats invariant
(docs/TABLE_FORMAT.md #4): a bloom may only FALSE-POSITIVE — pruning a
bucket is legal ONLY when the probed value was provably never written
to it. Every test that prunes also checks the surviving read's values.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from trail_condition_etl_spark.sinks import bloom as B
from trail_condition_etl_spark.sinks.manifest import (
    _manifest_path,
    add_bloom_index,
    clone_table,
    delete_where,
    drop_bloom_index,
    manifest_upsert,
    optimize_table,
    read_manifest,
    read_manifest_table,
    restore_table,
)
from trail_condition_etl_spark.sources.manifest_source import (
    register_manifest_sources,
)


def _frame(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag"),
        (F.col("id") % 5).cast("int").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "tbl")
    manifest_upsert(spark, t, _frame(spark, 0, 200), ["doc_id"], n_buckets=8)
    add_bloom_index(spark, t, "tag")
    return t


def test_probe_positions_match_spark(spark):
    """Driver-side probe positions replay F.xxhash64(col, lit(seed))
    bit-for-bit — the same parity contract keyhash.py pins for bucket
    planning, extended to the seeded-chain form blooms use."""
    values = ["", "a", "t42", "ünïcode-☃", "x" * 500, 0, 7, -1, 2**40]
    for v in values:
        if isinstance(v, str):
            df = spark.createDataFrame([(v,)], "c string")
            t = "string"
        else:
            df = spark.createDataFrame([(v,)], "c bigint")
            t = "bigint"
        for m, k in ((8192, 3), (64, 5)):
            got = df.select(
                B._position_cols("c", m, k).alias("p")
            ).head()["p"]
            assert list(got) == B.probe_positions(v, t, m, k), (v, m, k)


def test_absent_value_reads_zero_files(spark, table):
    df = read_manifest_table(spark, table, skip=[("tag", "=", "nope")])
    assert df.inputFiles() == []
    assert df.count() == 0


def test_present_value_prunes_to_its_bucket_and_is_exact(spark, table):
    full = read_manifest_table(spark, table)
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t42")])
    assert [r.doc_id for r in df.collect()] == [42]
    # strictly fewer files than the unpruned read: min/max stats alone
    # CANNOT prune an equality probe on 't<id>' (every bucket spans
    # nearly the whole tag space), so any pruning here is the bloom's
    assert 0 < len(df.inputFiles()) < len(full.inputFiles())


def test_in_probe_mixed_present_absent(spark, table):
    df = read_manifest_table(
        spark, table, skip=[("tag", "in", ["t7", "absent", "t150"])]
    )
    assert sorted(r.doc_id for r in df.collect()) == [7, 150]


def test_backfill_covers_every_bucket(spark, table):
    mf = read_manifest(table)
    assert mf["bloom"] == {"tag": [B.DEFAULT_M, B.DEFAULT_K]}
    assert set(mf["blooms"]) == set(mf["buckets"])
    assert all("tag" in cols for cols in mf["blooms"].values())


def test_upsert_maintains_bitmaps_no_false_negative(spark, table):
    """Rewritten buckets get fresh bitmaps; a value upserted AFTER the
    index exists must be findable (false negatives are corruption)."""
    manifest_upsert(spark, table, _frame(spark, 200, 220), ["doc_id"])
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t210")])
    assert [r.doc_id for r in df.collect()] == [210]
    # and untouched buckets carried their bitmaps (probe still prunes)
    assert read_manifest_table(
        spark, table, skip=[("tag", "=", "zzz")]
    ).inputFiles() == []


def test_unstatted_commit_drops_rewritten_bitmaps_soundly(spark, table):
    """A bucket whose bitmap is absent from the manifest (a writer that
    recorded none) is never pruned by the bloom index."""
    import json

    version = manifest_upsert(
        spark, table, _frame(spark, 300, 310), ["doc_id"]
    )
    prev = read_manifest(table, version - 1)["buckets"]
    path = _manifest_path(table, version)
    with open(path) as f:
        m = json.load(f)
    for b, d in m["buckets"].items():
        if d != prev.get(b):  # rewritten by this commit
            del m["blooms"][b]
    os.chmod(path, 0o644)
    with open(path, "w") as f:
        json.dump(m, f)
    mf = read_manifest(table)
    # at least one bucket was rewritten and lost its bitmap
    assert set(mf["blooms"]) < set(mf["buckets"])
    # absent-value probe now opens the unprunable buckets — but stays
    # exact, and present values in them are found
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t305")])
    assert [r.doc_id for r in df.collect()] == [305]


def test_mor_delete_keeps_bitmaps_conservative(spark, table):
    delete_where(spark, table, "doc_id = 42")
    # the deleted key's tag still sets bits (false positive: the dir
    # opens) but the read is exact — zero rows
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t42")])
    assert df.count() == 0
    # other keys unaffected
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t43")])
    assert [r.doc_id for r in df.collect()] == [43]


def test_optimize_recomputes_bitmaps(spark, table):
    optimize_table(spark, table, n_buckets=4)
    mf = read_manifest(table)
    assert set(mf["blooms"]) == set(mf["buckets"]) and mf["n_buckets"] == 4
    assert read_manifest_table(
        spark, table, skip=[("tag", "=", "nope")]
    ).inputFiles() == []
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t99")])
    assert [r.doc_id for r in df.collect()] == [99]


def test_restore_carries_snapshot_bitmaps(spark, table):
    v1 = read_manifest(table)["version"]
    manifest_upsert(spark, table, _frame(spark, 200, 240), ["doc_id"])
    restore_table(spark, table, version=v1)
    assert read_manifest_table(
        spark, table, skip=[("tag", "=", "t210")]
    ).count() == 0  # rolled back
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t42")])
    assert [r.doc_id for r in df.collect()] == [42]
    assert read_manifest_table(
        spark, table, skip=[("tag", "=", "zzz")]
    ).inputFiles() == []


def test_restore_across_index_reconfigure_never_false_negative(
    spark, table
):
    """r11 regression (advisor): restore pairs the CURRENT bloom config
    with the RESTORED snapshot's bitmaps. Bitmaps are only
    interpretable under the (m, k) they were packed with — if the index
    was dropped and re-added with different params in between, probing
    old bitmaps under the new config computes positions they never set
    and silently prunes buckets that HOLD the value. The restore must
    drop such bitmaps (absent = unprunable = sound) instead."""
    v1 = read_manifest(table)["version"]  # bitmaps packed (8192, 3)
    drop_bloom_index(spark, table, "tag")
    add_bloom_index(spark, table, "tag", m=8192, k=5)  # same m, new k
    restore_table(spark, table, version=v1)
    mf = read_manifest(table)
    # config carried from current; uninterpretable bitmaps dropped
    assert mf["bloom"] == {"tag": [8192, 5]}
    assert not any("tag" in cols for cols in mf.get("blooms", {}).values())
    # the present value MUST still be found (no wrong pruning)
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t42")])
    assert [r.doc_id for r in df.collect()] == [42]


def test_restore_same_config_keeps_bitmaps(spark, table):
    """Counterpart: when the config did NOT change across the restore
    span, the snapshot's bitmaps stay interpretable and keep pruning."""
    v1 = read_manifest(table)["version"]
    manifest_upsert(spark, table, _frame(spark, 200, 240), ["doc_id"])
    restore_table(spark, table, version=v1)
    mf = read_manifest(table)
    assert all("tag" in cols for cols in mf["blooms"].values())
    assert read_manifest_table(
        spark, table, skip=[("tag", "=", "zzz")]
    ).inputFiles() == []


def test_clone_carries_index(spark, table, tmp_path):
    dst = str(tmp_path / "clone")
    clone_table(spark, table, dst)
    assert read_manifest_table(
        spark, dst, skip=[("tag", "=", "zzz")]
    ).inputFiles() == []
    df = read_manifest_table(spark, dst, skip=[("tag", "=", "t42")])
    assert [r.doc_id for r in df.collect()] == [42]


def test_drop_bloom_index(spark, table):
    drop_bloom_index(spark, table, "tag")
    mf = read_manifest(table)
    assert mf["bloom"] == {} and mf["blooms"] == {}
    # no pruning anymore, still exact
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t42")])
    assert [r.doc_id for r in df.collect()] == [42]
    with pytest.raises(ValueError, match="no bloom index"):
        drop_bloom_index(spark, table, "tag")


def test_add_rejects_bad_inputs(spark, table):
    with pytest.raises(ValueError, match="already exists"):
        add_bloom_index(spark, table, "tag")
    with pytest.raises(ValueError, match="no column"):
        add_bloom_index(spark, table, "nope")
    with pytest.raises(ValueError, match="multiple of 8"):
        add_bloom_index(spark, table, "grp", m=100)
    with pytest.raises(ValueError, match="k must be positive"):
        add_bloom_index(spark, table, "grp", k=0)


def test_add_rejects_unbloomable_type(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("x")
    )
    manifest_upsert(spark, t, df, ["k"], n_buckets=2)
    with pytest.raises(ValueError, match="int/bigint/string"):
        add_bloom_index(spark, t, "x")


def test_bigint_bloom_column(spark, table):
    add_bloom_index(spark, table, "val", m=4096, k=4)
    assert read_manifest_table(
        spark, table, skip=[("val", "=", 4211)]
    ).inputFiles() == []  # never a multiple of 10
    df = read_manifest_table(spark, table, skip=[("val", "=", 420)])
    assert [r.doc_id for r in df.collect()] == [42]


def test_datasource_leg_prunes_and_stays_exact(spark, table):
    register_manifest_sources(spark)
    d = spark.read.format("manifest").load(table)
    assert [
        r.doc_id for r in d.filter(F.col("tag") == "t42").collect()
    ] == [42]
    absent = spark.read.format("manifest").load(table).filter(
        F.col("tag") == "zzz"
    )
    assert absent.count() == 0


def test_exhaustive_no_false_negative_over_all_keys(spark, table):
    """Every written tag must be found through the bloom-pruned path —
    the exhaustive no-false-negative sweep, one IN probe per batch."""
    tags = [f"t{i}" for i in range(200)]
    df = read_manifest_table(spark, table, skip=[("tag", "in", tags)])
    assert df.count() == 200


def test_backfill_over_segments_predating_the_column(spark, tmp_path):
    """r11 regression (advisor): add_bloom_index backfill reads every
    segment root — segments written before the column existed (additive
    schema evolution) lack it entirely, and an inferred-schema select
    raised AnalysisException (pointlessly retried under the lease).
    The explicit-schema read NULL-fills it: missing column = all NULL =
    no bits, sound. Probes on real values still find their rows."""
    t = str(tmp_path / "tbl2")
    manifest_upsert(
        spark, t,
        spark.range(0, 40).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 5).cast("int").alias("grp"),
        ),
        ["doc_id"], n_buckets=4,
    )
    # additive evolution: only doc_ids 0..9 rewrite with the new column
    manifest_upsert(
        spark, t,
        spark.range(0, 10).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 5).cast("int").alias("grp"),
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        ),
        ["doc_id"],
    )
    add_bloom_index(spark, t, "url")
    # present value found (no false negative through the NULL-fill)
    df = read_manifest_table(spark, t, skip=[("url", "=", "u7")])
    assert [r.doc_id for r in df.collect()] == [7]
    # absent value: buckets whose only 'url' bytes are NULL have no
    # bitmap entry (unprunable — sound); buckets rewritten WITH the
    # column prune normally
    assert read_manifest_table(
        spark, t, skip=[("url", "=", "nope")]
    ).count() == 0


def test_rescale_recomputes_bitmaps_per_new_bucket(spark, table):
    """r11 directive 6: after optimize_table(n_buckets=...) every
    bitmap must be recomputed against the NEW bucket layout — a bitmap
    carried by reference would key stale bucket ids and prune buckets
    that DO hold the probed value. Exhaustive no-false-negative sweep
    after an UNALIGNED shrink (8 -> 6) and an aligned grow (6 -> 12),
    with a fresh upsert between to mix carried and rewritten buckets."""
    optimize_table(spark, table, n_buckets=6)  # unaligned rescale
    mf = read_manifest(table)
    assert mf["n_buckets"] == 6 and set(mf["blooms"]) == set(mf["buckets"])
    tags = [f"t{i}" for i in range(200)]
    assert read_manifest_table(
        spark, table, skip=[("tag", "in", tags)]
    ).count() == 200
    assert read_manifest_table(
        spark, table, skip=[("tag", "=", "nope")]
    ).inputFiles() == []
    manifest_upsert(spark, table, _frame(spark, 200, 230), ["doc_id"])
    optimize_table(spark, table, n_buckets=12)  # aligned grow
    mf = read_manifest(table)
    assert mf["n_buckets"] == 12 and set(mf["blooms"]) == set(mf["buckets"])
    tags = [f"t{i}" for i in range(230)]
    assert read_manifest_table(
        spark, table, skip=[("tag", "in", tags)]
    ).count() == 230
    df = read_manifest_table(spark, table, skip=[("tag", "=", "t215")])
    assert [r.doc_id for r in df.collect()] == [215]
