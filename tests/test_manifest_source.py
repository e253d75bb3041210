"""Python DataSource API integration (sources/manifest_source.py):
batch format("manifest") with pushed-filter pruning, and the
format("manifest_cdc") streaming source (version offsets, checkpoint
resume, per-bucket change partitions)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThan

from trail_condition_etl_spark.sinks import manifest as mf
from trail_condition_etl_spark.sources import manifest_source as ms


def _table(spark, tmp_path, n=400, n_buckets=4):
    rows = spark.range(n).select(
        F.col("id").cast("int").alias("k"),
        ((F.col("id") * 7919) % n).cast("double").alias("price"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=n_buckets)
    return table


def _snapshot_diff(spark, table, frm, to=None):
    """The change feed as a pure-Python diff of the two snapshots
    `read_manifest_table` returns: (k, price, v, change_type) rows,
    new-side values on insert/update, nulls on delete."""
    if to is None:
        to = mf.list_versions(table)[-1]
    old = {r.k: r for r in mf.read_manifest_table(spark, table, frm).collect()}
    new = {r.k: r for r in mf.read_manifest_table(spark, table, to).collect()}
    rows = {(k, None, None, "delete") for k in old if k not in new}
    for k, r in new.items():
        if k not in old:
            rows.add((k, r.price, r.v, "insert"))
        elif old[k] != r:
            rows.add((k, r.price, r.v, "update"))
    return rows


def test_batch_source_reads_the_snapshot(spark, tmp_path):
    table = _table(spark, tmp_path)
    ms.register_manifest_sources(spark)
    got = spark.read.format("manifest").option("path", table).load()
    want = mf.read_manifest_table(spark, table)
    assert sorted(got.columns) == sorted(want.columns)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_batch_source_time_travel_version_option(spark, tmp_path):
    table = _table(spark, tmp_path)
    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame([(0, 9.5, "vX")], "k int, price double, v string"),
        ["k"],
    )
    ms.register_manifest_sources(spark)
    v1 = (
        spark.read.format("manifest")
        .option("path", table)
        .option("version", 1)
        .load()
    )
    assert v1.filter(F.col("k") == 0).collect()[0].v == "v0"
    latest = spark.read.format("manifest").option("path", table).load()
    assert latest.filter(F.col("k") == 0).collect()[0].v == "vX"


def test_pushed_filters_prune_planned_partitions(spark, tmp_path):
    """pushFilters -> stats pruning: after a clustered optimize, a
    price predicate plans strictly fewer file partitions; results stay
    exact because every filter is returned to Spark as residual."""
    table = _table(spark, tmp_path)
    mf.optimize_table(
        spark, table, cluster_by=["price"], files_per_bucket=4
    )
    schema = mf._data_schema(mf.read_manifest(table))
    r = ms.ManifestBatchReader(schema, {"path": table})
    n_all = len(r.partitions())
    residual = r.pushFilters([LessThan(("price",), 50.0)])
    assert list(residual)  # partial pushdown: Spark re-evaluates
    assert 0 < len(r.partitions()) < n_all

    r2 = ms.ManifestBatchReader(schema, {"path": table})
    r2.pushFilters([In(("price",), (1.0, 2.0)), EqualTo(("v",), "v1")])
    assert len(r2.partitions()) < n_all

    # unsupported shapes contribute nothing but change nothing
    r3 = ms.ManifestBatchReader(schema, {"path": table})
    r3.pushFilters([GreaterThan(("nonexistent",), 1)])
    assert len(r3.partitions()) == n_all

    ms.register_manifest_sources(spark)
    got = (
        spark.read.format("manifest").option("path", table).load()
        .filter(F.col("price") < 50.0)
    )
    want = mf.read_manifest_table(spark, table).filter(
        F.col("price") < 50.0
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_batch_source_empty_table_after_full_tombstone(spark, tmp_path):
    """Regression (VERDICT r9 #1a): a fully-tombstoned table plans ZERO
    files; PySpark turns an empty partition list into read(None), which
    crashed in the worker on `partition.path`. An empty DataFrame with
    the table schema must come back instead."""
    table = _table(spark, tmp_path, n=20)
    mf.delete_where(spark, table, F.lit(True))
    ms.register_manifest_sources(spark)
    got = spark.read.format("manifest").option("path", table).load()
    assert got.count() == 0
    assert sorted(got.columns) == ["k", "price", "v"]


def test_batch_source_filter_pruning_every_file(spark, tmp_path):
    """Regression (VERDICT r9 #1b): a pushed filter whose stats prune
    EVERY planned file — an everyday selective predicate on a populated
    table — must return an empty result, not crash read(None)."""
    table = _table(spark, tmp_path, n=20)
    ms.register_manifest_sources(spark)
    got = (
        spark.read.format("manifest")
        .option("path", table)
        .load()
        .filter(F.col("k") > 1_000_000_000)
    )
    assert got.count() == 0
    # and the reader itself plans the sentinel empty partition
    schema = mf._data_schema(mf.read_manifest(table))
    r = ms.ManifestBatchReader(schema, {"path": table})
    r.pushFilters([GreaterThan(("k",), 1_000_000_000)])
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].path is None
    assert list(r.read(parts[0])) == []
    assert list(r.read(None)) == []


def test_cdc_stream_matches_table_changes(spark, tmp_path):
    """One AvailableNow pass from startingVersion=1 lands exactly the
    rows a diff of snapshots 1 and latest gives (collapsed span,
    new-side values on insert/update, null values on delete) — the
    model `table_changes`, which reads the same diff, must match too."""
    table = _table(spark, tmp_path, n=100, n_buckets=2)
    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame(
            [(0, 1.5, "vX"), (999, 2.5, "new")],
            "k int, price double, v string",
        ),
        ["k"],
    )
    dels = spark.createDataFrame([(7,)], "k int").withColumn(
        "_g", F.lit(True)
    )
    mf.manifest_upsert(spark, table, dels, ["k"], tombstone_col="_g")

    ms.register_manifest_sources(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = (
        spark.readStream.format("manifest_cdc")
        .option("path", table)
        .option("startingVersion", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.k, r.price, r.v, r.change_type)
        for r in spark.read.parquet(out).collect()
    }
    assert got == _snapshot_diff(spark, table, 1)
    assert {c for *_, c in got} == {"insert", "update", "delete"}


def test_cdc_stream_checkpoint_resume_emits_only_new_span(spark, tmp_path):
    """Restarting against the same checkpoint after a new commit emits
    ONLY the new span — the offset (a table version) survived in
    Spark's checkpoint, the genuine streaming-source contract."""
    table = _table(spark, tmp_path, n=60, n_buckets=2)
    ms.register_manifest_sources(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_once():
        q = (
            spark.readStream.format("manifest_cdc")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()  # bootstrap: v0 -> v1, everything an insert
    first = spark.read.parquet(out).collect()
    assert len(first) == 60
    assert {r.change_type for r in first} == {"insert"}

    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame([(3, 0.5, "vB")], "k int, price double, v string"),
        ["k"],
    )
    run_once()  # resume: only v1 -> v2
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 61
    new = [r for r in rows if r.change_type != "insert"]
    assert [(r.k, r.price, r.v, r.change_type) for r in new] == [
        (3, 0.5, "vB", "update")
    ]

    run_once()  # nothing new: no-op batch
    assert spark.read.parquet(out).count() == 61


def test_writer_creates_and_appends_as_merge(spark, tmp_path):
    """df.write.format("manifest"): the first append CREATES the table
    (keys option), the second append is a keyed MERGE — new rows win,
    untouched rows survive, the table invariants all hold."""
    ms.register_manifest_sources(spark)
    table = str(tmp_path / "t")
    rows = spark.range(50).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v")
    )
    (
        rows.write.format("manifest")
        .option("path", table)
        .option("keys", "k")
        .option("n_buckets", 4)
        .mode("append")
        .save()
    )
    assert mf.manifest_row_count(table) == 50
    assert mf.read_manifest(table)["operation"] == "append"
    up = spark.createDataFrame([(3, 999), (77, 1)], "k int, v long")
    up.write.format("manifest").option("path", table).mode("append").save()
    got = {r.k: r.v for r in mf.read_manifest_table(spark, table).collect()}
    assert got[3] == 999 and got[77] == 1 and got[4] == 8
    assert len(got) == 51


def test_writer_requires_keys_to_create(spark, tmp_path):
    import pytest

    ms.register_manifest_sources(spark)
    rows = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(Exception, match="keys"):
        (
            rows.write.format("manifest")
            .option("path", str(tmp_path / "t"))
            .mode("append")
            .save()
        )


def test_writer_overwrite_replaces_atomically(spark, tmp_path):
    ms.register_manifest_sources(spark)
    table = str(tmp_path / "t")
    rows = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    (
        rows.write.format("manifest")
        .option("path", table).option("keys", "k").mode("append").save()
    )
    small = spark.range(7).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    small.write.format("manifest").option("path", table).mode("overwrite").save()
    assert mf.manifest_row_count(table) == 7
    assert mf.read_manifest(table)["operation"] == "replace"
    # nothing carried: the replace's buckets all come from the batch
    assert mf.read_manifest(table)["op_metrics"]["buckets_carried"] == 0
    # old snapshot stays time-travel-readable
    assert mf.read_manifest_table(spark, table, version=1).count() == 50
    # staging cleaned up on the happy path
    st = os.path.join(table, "_staging")
    assert not os.path.isdir(st) or not os.listdir(st)


def test_writer_failed_commit_leaves_table_unchanged(spark, tmp_path):
    """A batch the table's CHECK constraint rejects aborts the WHOLE
    DataFrameWriter job: no new version, no staged leftovers."""
    import pytest

    ms.register_manifest_sources(spark)
    table = str(tmp_path / "t")
    rows = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    (
        rows.write.format("manifest")
        .option("path", table).option("keys", "k").mode("append").save()
    )
    mf.add_table_constraint(spark, table, "v_nonneg", "v >= 0")
    bad = spark.createDataFrame([(1, -5)], "k long, v long")
    with pytest.raises(Exception, match="v_nonneg"):
        bad.write.format("manifest").option("path", table).mode("append").save()
    assert mf.read_manifest(table)["version"] == 2  # constraint commit only
    assert mf.manifest_row_count(table) == 10
    st = os.path.join(table, "_staging")
    assert not os.path.isdir(st) or not os.listdir(st)


def test_stream_writer_epochs_commit_exactly_once(spark, tmp_path):
    """writeStream.format("manifest"): each micro-batch is one atomic
    manifest commit; the (txn_app_id, batchId) ledger advances with the
    data, an empty pass commits nothing, and a replayed epoch raises
    into the no-op path — the crash window between sink commit and
    checkpoint advance collapses."""
    import pytest

    ms.register_manifest_sources(spark)
    src = str(tmp_path / "in")
    table = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(2).write.parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("k long, v long")
            .parquet(src)
            .writeStream.format("manifest")
            .option("path", table)
            .option("keys", "k")
            .option("n_buckets", 4)
            .option("txn_app_id", "q1")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    assert mf.manifest_row_count(table) == 50
    assert mf.read_manifest(table)["txns"] == {"q1": 0}
    assert mf.read_manifest(table)["operation"] == "streaming-update"

    spark.range(45, 60).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # resume: only the new file, keyed merge
    assert mf.manifest_row_count(table) == 60
    assert mf.read_manifest(table)["txns"] == {"q1": 1}
    assert (
        mf.read_manifest_lookup(spark, table, {"k": 47}).collect()[0].v == 0
    )

    v = mf.read_manifest(table)["version"]
    run_once()  # nothing new: zero version churn
    assert mf.read_manifest(table)["version"] == v

    # the ledger is atomic with the data: a replayed (app, batch) commit
    # is refused with the table untouched
    replay = spark.createDataFrame([(1, 777)], "k long, v long")
    with pytest.raises(mf.TxnAlreadyCommittedError):
        mf.manifest_upsert(spark, table, replay, ["k"], txn=("q1", 1))
    assert mf.read_manifest(table)["version"] == v
    assert (
        mf.read_manifest_lookup(spark, table, {"k": 1}).collect()[0].v == 2
    )


def test_txns_carry_through_other_commit_types(spark, tmp_path):
    """The exactly-once ledger must survive every other commit — an
    optimize or delete between epochs must not reopen the replay
    window; a restore keeps the CURRENT ledger (rolled-back data must
    not trick the writer into re-applying batches)."""
    table = str(tmp_path / "t")
    rows = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2, txn=("q1", 5))
    mf.delete_where(spark, table, "k = 0")
    mf.optimize_table(spark, table)
    mf.add_table_constraint(spark, table, "v_ok", "v >= 0")
    mf.restore_table(spark, table, version=1)
    assert mf.read_manifest(table)["txns"] == {"q1": 5}
    import pytest

    with pytest.raises(mf.TxnAlreadyCommittedError):
        mf.manifest_upsert(spark, table, rows, ["k"], txn=("q1", 4))
    # a HIGHER version commits and advances the ledger
    mf.manifest_upsert(spark, table, rows.limit(1), ["k"], txn=("q1", 6))
    assert mf.read_manifest(table)["txns"] == {"q1": 6}


def test_cdc_stream_is_quiet_across_a_bucket_rescale(spark, tmp_path):
    """A rescale commit moves every row to a new bucket id without
    changing content: a naive per-bucket diff would see phantom
    delete+insert pairs, so the reader must detect the layout change
    (here 2->8: the ALIGNED per-bucket path with old-side rehash
    filtering) — and emit NOTHING for a content-identical rescale, and
    exactly the real changes when a delete shares the span."""
    import pyarrow as pa

    table = _table(spark, tmp_path, n=100, n_buckets=2)
    mf.optimize_table(spark, table, n_buckets=8)  # v2: layout-only
    manifest = mf.read_manifest(table)
    schema = ms.cdc_schema(mf._data_schema(manifest))
    r = ms.ManifestCDCStreamReader(schema, {"path": table})
    parts = r.partitions({"version": 1}, {"version": 2})
    rows = [
        row
        for p in parts
        for b in r.read(p)
        for row in pa.Table.from_batches([b]).to_pylist()
    ]
    assert rows == []  # no phantom churn

    mf.delete_where(spark, table, "k = 7")  # v3: one real change
    parts = r.partitions({"version": 1}, {"version": 3})
    rows = [
        row
        for p in parts
        for b in r.read(p)
        for row in pa.Table.from_batches([b]).to_pylist()
    ]
    assert [(row["k"], row["change_type"]) for row in rows] == [
        (7, "delete")
    ]


def test_empty_create_intent_append_commits_an_empty_table(spark, tmp_path):
    """An empty DataFrame written with the keys option must CREATE the
    table (version 1, schema recorded, zero rows) — not silently do
    nothing and leave later readers with FileNotFoundError."""
    ms.register_manifest_sources(spark)
    table = str(tmp_path / "t")
    empty = spark.range(0).select(
        F.col("id").cast("int").alias("k"), F.lit("x").alias("v")
    )
    (
        empty.write.format("manifest")
        .option("path", table).option("keys", "k").mode("append").save()
    )
    assert mf.read_manifest(table)["version"] == 1
    assert mf.manifest_row_count(table) == 0
    assert mf.read_manifest_table(spark, table).columns == ["k", "v"]
    # and an empty append to the EXISTING table commits nothing
    empty.write.format("manifest").option("path", table).mode("append").save()
    assert mf.read_manifest(table)["version"] == 1


def test_vacuum_sweeps_only_aged_staging_orphans(spark, tmp_path):
    table = str(tmp_path / "t")
    rows = spark.range(10).select(F.col("id").alias("k"))
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=2)
    st = os.path.join(table, "_staging")
    young = os.path.join(st, "young")
    old = os.path.join(st, "old")
    os.makedirs(young)
    os.makedirs(old)
    aged = mf._dt.datetime.now().timestamp() - mf._STAGING_TTL_SECONDS - 60
    os.utime(old, (aged, aged))
    mf.vacuum(table, keep_last=1)
    assert not os.path.isdir(old)  # crashed-job orphan: swept
    assert os.path.isdir(young)  # possibly in-flight: retained


def test_cdc_partitions_skip_carried_buckets(spark, tmp_path):
    """The stream reader plans change partitions ONLY for buckets whose
    segment dir changed — carried (immutable, by-reference) buckets
    cost nothing regardless of table size."""
    table = _table(spark, tmp_path, n=200, n_buckets=8)
    one = spark.createDataFrame(
        [(5, 1.0, "vN")], "k int, price double, v string"
    )
    mf.manifest_upsert(spark, table, one, ["k"])
    manifest = mf.read_manifest(table)
    schema = ms.cdc_schema(mf._data_schema(manifest))
    r = ms.ManifestCDCStreamReader(schema, {"path": table})
    parts = r.partitions({"version": 1}, {"version": 2})
    assert len(parts) == 1  # exactly the touched bucket
    import pyarrow as pa

    batches = list(r.read(parts[0]))
    tbl = pa.Table.from_batches(batches)
    rows = {
        tuple(d.values()) for d in tbl.to_pylist()
    }
    assert (5, 1.0, "vN", "update") in rows


def test_batch_source_reads_evolved_table(spark, tmp_path):
    """ADVICE r6: buckets carried across an additive schema evolution
    lack later-added columns; the reader must project only what each
    FILE has (pyarrow raises for absent columns=) and null-fill the
    rest — same semantics as read_manifest_table."""
    ms.register_manifest_sources(spark)
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        ["k"],
        n_buckets=4,
    )
    wide = spark.createDataFrame(
        [(3, "c", 9.5)], "k int, v string, score double"
    )
    mf.manifest_upsert(spark, table, wide, ["k"])
    got = {
        r.k: (r.v, r.score)
        for r in spark.read.format("manifest")
        .option("path", table)
        .load()
        .collect()
    }
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}


def test_time_travel_surfaces_that_versions_schema(spark, tmp_path):
    """ADVICE r6: schema() must resolve the SAME version the reader
    plans from — a time-travel read of a pre-evolution snapshot gets
    that snapshot's narrower schema, not the latest."""
    ms.register_manifest_sources(spark)
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame([(1, "a")], "k int, v string"),
        ["k"],
        n_buckets=4,
    )
    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame([(2, "b", 1.5)], "k int, v string, score double"),
        ["k"],
    )
    v1 = (
        spark.read.format("manifest")
        .option("path", table)
        .option("version", 1)
        .load()
    )
    assert v1.columns == ["k", "v"]
    assert {tuple(r) for r in v1.collect()} == {(1, "a")}


def test_stream_writer_cleans_its_staging_dir(spark, tmp_path):
    """ADVICE r6: the stream writer must rmtree its _staging/<id> dir
    (not just unlink staged parts) so runs don't accumulate empty dirs
    until vacuum's TTL sweep."""
    ms.register_manifest_sources(spark)
    src = str(tmp_path / "in")
    table = str(tmp_path / "t")
    spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(src)
    q = (
        spark.readStream.schema("k long, v long")
        .parquet(src)
        .writeStream.format("manifest")
        .option("path", table)
        .option("keys", "k")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert mf.manifest_row_count(table) == 10
    staging = os.path.join(table, "_staging")
    assert (not os.path.isdir(staging)) or os.listdir(staging) == []


def test_cdc_rescale_span_stays_per_bucket_when_aligned(spark, tmp_path):
    """VERDICT r6 directive 5 follow-through: a span containing an
    ALIGNED rescale (new count a multiple of the old) plans one diff
    partition per NEW bucket — never one global task — and the
    old-side rehash filter keeps sibling keys from reading as phantom
    deletes."""
    import pyarrow as pa

    table = _table(spark, tmp_path, n=200, n_buckets=2)
    one = spark.createDataFrame(
        [(5, 1.0, "vN"), (201, 2.0, "new")], "k int, price double, v string"
    )
    mf.manifest_upsert(spark, table, one, ["k"])  # v2: update 5, insert 201
    mf.optimize_table(spark, table, n_buckets=8)  # v3: aligned rescale
    manifest = mf.read_manifest(table)
    schema = ms.cdc_schema(mf._data_schema(manifest))
    r = ms.ManifestCDCStreamReader(schema, {"path": table})
    parts = r.partitions({"version": 1}, {"version": 3})
    assert len(parts) == 8  # per-NEW-bucket, not one global task
    assert all(p.rehash_n == 8 for p in parts)
    # aligned == gcd(2, 8) = 2: each partition reads exactly ONE
    # superset old bucket (the historical fast path, now the g=old_n
    # special case of the general residue-class planner)
    assert all(
        len({os.path.dirname(f) for f in p.old_files}) <= 1 for p in parts
    )
    rows = {
        (row["k"], row["change_type"])
        for p in parts
        for b in r.read(p)
        for row in pa.Table.from_batches([b]).to_pylist()
    }
    assert rows == {(5, "update"), (201, "insert")}  # no phantoms


def test_cdc_unaligned_rescale_span_is_parallel_and_exact(spark, tmp_path):
    """VERDICT r7 directive 2: an UNALIGNED rescale span must NOT
    collapse to one global diff task. With driver-hashable key types
    the planner emits one partition per NEW bucket (old side bounded to
    the gcd residue class, rehash-filtered in read()); the change set
    stays exact — no phantom delete+insert pairs, real changes
    attributed once."""
    import pyarrow as pa

    table = _table(spark, tmp_path, n=200, n_buckets=8)
    one = spark.createDataFrame(
        [(5, 1.0, "vN"), (201, 2.0, "new")], "k int, price double, v string"
    )
    mf.manifest_upsert(spark, table, one, ["k"])  # v2: update 5, insert 201
    mf.optimize_table(spark, table, n_buckets=12)  # v3: UNALIGNED (8->12)
    manifest = mf.read_manifest(table)
    schema = ms.cdc_schema(mf._data_schema(manifest))
    r = ms.ManifestCDCStreamReader(schema, {"path": table})
    parts = r.partitions({"version": 1}, {"version": 3})
    assert len(parts) > 1, "unaligned rescale must stay parallel"
    assert all(p.bucket != "*" for p in parts)
    assert len(parts) == 12 and all(p.rehash_n == 12 for p in parts)
    # old-side reads are bounded to the residue class mod gcd(8,12)=4:
    # each new bucket reads at most 8/4 = 2 old buckets
    for p in parts:
        assert len({os.path.dirname(f) for f in p.old_files}) <= 2
    rows = {
        (row["k"], row["change_type"])
        for p in parts
        for b in r.read(p)
        for row in pa.Table.from_batches([b]).to_pylist()
    }
    assert rows == {(5, "update"), (201, "insert")}  # exact, no phantoms
    # a layout-only unaligned span (v2 -> v3) is quiet
    quiet = [
        row
        for p in r.partitions({"version": 2}, {"version": 3})
        for b in r.read(p)
        for row in pa.Table.from_batches([b]).to_pylist()
    ]
    assert quiet == []


def test_cdc_unaligned_rescale_exotic_keys_use_residue_classes(
    spark, tmp_path
):
    """Key types with no driver-side hash replica cannot be
    rehash-filtered per new bucket, but a key's old and new bucket ids
    are congruent mod gcd(old_n, new_n) — so the planner diffs one
    partition per residue class, exact with NO rehashing, and only a
    coprime rescale of an exotic-keyed table degenerates to one task."""
    import pyarrow as pa

    rows = spark.range(120).select(
        (F.col("id") / 4.0).alias("k"),  # double key: not driver-hashable
        (F.col("id") * 2).alias("v"),
    )
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=4)
    mf.delete_where(spark, table, "v = 10")  # v2: one real delete
    mf.optimize_table(spark, table, n_buckets=6)  # v3: unaligned 4->6
    manifest = mf.read_manifest(table)
    schema = ms.cdc_schema(mf._data_schema(manifest))
    r = ms.ManifestCDCStreamReader(schema, {"path": table})
    parts = r.partitions({"version": 1}, {"version": 3})
    assert len(parts) == 2  # gcd(4, 6) residue classes, not one global
    assert all(p.bucket.startswith("class-") for p in parts)
    assert all(p.rehash_n is None for p in parts)
    got = {
        (row["k"], row["change_type"])
        for p in parts
        for b in r.read(p)
        for row in pa.Table.from_batches([b]).to_pylist()
    }
    assert got == {(1.25, "delete")}  # v=10 row; no phantom churn


def test_maintain_rescale_counts_are_aligned(spark, tmp_path):
    """maintain_table's auto-rescale must emit a MULTIPLE of the current
    bucket count, so a CDC stream spanning the maintenance commit keeps
    its per-bucket diff parallelism."""
    rows = spark.range(3000).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    table = str(tmp_path / "t")
    mf.manifest_upsert(spark, table, rows, ["k"], n_buckets=3)
    m = mf.read_manifest(table)
    worst = max(
        sum(
            os.path.getsize(os.path.join(table, d, f))
            for f in os.listdir(os.path.join(table, d))
            if f.endswith(".parquet")
        )
        for d in m["buckets"].values()
    )
    assert mf.maintain_table(spark, table, max_bucket_bytes=worst // 2) is not None
    assert mf.read_manifest(table)["n_buckets"] % 3 == 0


def test_timestamp_as_of_reads_that_commits_snapshot_and_schema(
    spark, tmp_path
):
    """option('timestampAsOf') resolves to the newest commit at or
    before the given ISO timestamp — snapshot AND schema (a
    pre-evolution timestamp surfaces the narrower schema). Passing both
    version and timestampAsOf is ambiguous and raises."""
    ms.register_manifest_sources(spark)
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table,
        spark.createDataFrame([(1, "a")], "k int, v string"),
        ["k"], n_buckets=2,
    )
    t1 = mf.read_manifest(table, 1)["committed_at"]
    mf.manifest_upsert(
        spark, table,
        spark.createDataFrame([(2, "b", 1.5)], "k int, v string, s double"),
        ["k"],
    )
    pinned = (
        spark.read.format("manifest")
        .option("path", table)
        .option("timestampAsOf", t1)
        .load()
    )
    assert pinned.columns == ["k", "v"]
    assert [(r.k, r.v) for r in pinned.collect()] == [(1, "a")]
    latest = spark.read.format("manifest").option("path", table).load()
    assert latest.count() == 2 and "s" in latest.columns
    import pytest as _pt

    with _pt.raises(Exception, match="not both"):
        (
            spark.read.format("manifest")
            .option("path", table)
            .option("version", 1)
            .option("timestampAsOf", t1)
            .load()
            .collect()
        )


def test_cdc_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp matches Delta: every change committed AT OR
    AFTER the timestamp (inclusive) streams — a commit stamped exactly
    at the timestamp is NOT skipped; a timestamp predating the first
    commit streams the whole history; a timestamp after the last commit
    streams nothing historical. Passing it together with
    startingVersion raises."""
    import datetime as _dt
    import time

    import pytest as _pt

    table = _table(spark, tmp_path, n=40, n_buckets=2)
    t1 = mf.read_manifest(table, 1)["committed_at"]
    time.sleep(0.01)  # guarantee stamp2 > stamp1 at microsecond res
    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame(
            [(0, 1.5, "vNEW")], "k int, price double, v string"
        ),
        ["k"],
    )
    t2 = mf.read_manifest(table, 2)["committed_at"]
    schema = ms.cdc_schema(mf._data_schema(mf.read_manifest(table)))

    def change_rows(r):
        import pyarrow as pa

        return [
            (row["k"], row["change_type"])
            for p in r.partitions(r.initialOffset(), r.latestOffset())
            for b in r.read(p)
            for row in pa.Table.from_batches([b]).to_pylist()
        ]

    # ts == commit 2's stamp: inclusive, so exactly that commit streams
    at_t2 = ms.ManifestCDCStreamReader(
        schema, {"path": table, "startingTimestamp": t2}
    )
    assert at_t2.initialOffset() == {"version": 1}
    assert change_rows(at_t2) == [(0, "update")]
    # ts == commit 1's stamp: the WHOLE history streams (Delta would
    # include commit 1; the old at-or-before reading skipped it)
    at_t1 = ms.ManifestCDCStreamReader(
        schema, {"path": table, "startingTimestamp": t1}
    )
    assert at_t1.initialOffset() == {"version": 0}
    # ts before every commit: stream-from-start fallback, not an error
    early = ms.ManifestCDCStreamReader(
        schema, {"path": table, "startingTimestamp": "2000-01-01T00:00:00"}
    )
    assert early.initialOffset() == {"version": 0}
    # one 0->latest span nets the update into its final insert
    got = change_rows(early)
    assert len(got) == 40 and (0, "insert") in got
    # ts after every commit: only FUTURE commits would stream
    late_ts = (
        _dt.datetime.fromisoformat(t2) + _dt.timedelta(days=1)
    ).isoformat()
    late = ms.ManifestCDCStreamReader(
        schema, {"path": table, "startingTimestamp": late_ts}
    )
    assert late.initialOffset() == {"version": 2}
    assert change_rows(late) == []
    with _pt.raises(ValueError, match="not both"):
        ms.ManifestCDCStreamReader(
            schema,
            {"path": table, "startingTimestamp": t1, "startingVersion": 1},
        )


def test_cdc_starting_timestamp_clamps_to_vacuumed_history(spark, tmp_path):
    """Regression (ADVICE r9): when `startingTimestamp` predates the
    RETAINED history of a vacuumed table, the naive baseline (first
    retained version minus one) names a manifest that no longer exists
    and the stream crashed opening it. The baseline must clamp to 0 —
    the documented whole-history full-snapshot bootstrap."""
    table = _table(spark, tmp_path, n=20, n_buckets=2)
    t1 = mf.read_manifest(table, 1)["committed_at"]
    for i in range(3):  # versions 2..4
        mf.manifest_upsert(
            spark,
            table,
            spark.createDataFrame(
                [(i, 0.5, f"u{i}")], "k int, price double, v string"
            ),
            ["k"],
        )
    mf.vacuum(table, keep_last=2)  # retained: {3, 4}
    assert mf.list_versions(table) == [3, 4]
    schema = ms.cdc_schema(mf._data_schema(mf.read_manifest(table)))
    r = ms.ManifestCDCStreamReader(
        schema, {"path": table, "startingTimestamp": t1}
    )
    assert r.initialOffset() == {"version": 0}
    import pyarrow as pa

    got = {
        row["k"]
        for p in r.partitions(r.initialOffset(), r.latestOffset())
        for b in r.read(p)
        for row in pa.Table.from_batches([b]).to_pylist()
    }
    assert got == set(range(20))  # full snapshot bootstrap, no crash


def test_cdc_max_versions_per_trigger_chunks_catchup(spark, tmp_path):
    """Admission control at the protocol level: once the reader knows
    the stream's position (initialOffset, or any planned batch), a
    5-commit backlog drains in 2-version chunks (0->2->4->5), every
    chunk's diff reads cleanly, and applying the chunked diffs in
    order reproduces the final snapshot exactly — bounded catch-up
    loses nothing. (Against the real engine the FIRST trigger is
    unbounded — it calls latestOffset before initialOffset — see the
    reader docstring; this test pins the mid-stream chunking that
    option exists for.)"""
    import pyarrow as pa

    table = _table(spark, tmp_path, n=40, n_buckets=2)
    for i in range(4):  # versions 2..5
        mf.manifest_upsert(
            spark,
            table,
            spark.createDataFrame(
                [(i, float(1000 + i), f"u{i}"), (100 + i, 0.5, f"n{i}")],
                "k int, price double, v string",
            ),
            ["k"],
        )
    schema = ms.cdc_schema(mf._data_schema(mf.read_manifest(table)))
    r = ms.ManifestCDCStreamReader(
        schema,
        {"path": table, "startingVersion": 0, "maxVersionsPerTrigger": 2},
    )
    start = r.initialOffset()
    assert start == {"version": 0}
    state: dict[int, str] = {}
    ends = []
    while True:
        end = r.latestOffset()
        if end == start:
            break
        ends.append(end["version"])
        for p in r.partitions(start, end):
            for b in r.read(p):
                for row in pa.Table.from_batches([b]).to_pylist():
                    if row["change_type"] == "delete":
                        state.pop(row["k"], None)
                    else:
                        state[row["k"]] = row["v"]
        start = end
    assert ends == [2, 4, 5]  # bounded spans, then the remainder
    want = {
        r_.k: r_.v for r_ in mf.read_manifest_table(spark, table).collect()
    }
    assert state == want
    import pytest as _pt

    with _pt.raises(ValueError, match="positive"):
        ms.ManifestCDCStreamReader(
            schema, {"path": table, "maxVersionsPerTrigger": 0}
        )


def test_cdc_max_versions_restart_is_unbounded_then_bounded(spark, tmp_path):
    """The engine's first call after any start/restart is latestOffset
    — before the reader can see the committed offset — so that one
    trigger is unbounded (guessing low would plan a backwards batch
    that re-emits delivered changes); once the engine shows it a range
    via partitions(), the cap applies, and latestOffset is IDEMPOTENT
    between planned batches so repeated polls never creep the
    window."""
    table = _table(spark, tmp_path, n=20, n_buckets=2)
    for i in range(5):  # versions 2..6
        mf.manifest_upsert(
            spark,
            table,
            spark.createDataFrame(
                [(i, 9.9, f"w{i}")], "k int, price double, v string"
            ),
            ["k"],
        )
    schema = ms.cdc_schema(mf._data_schema(mf.read_manifest(table)))
    # simulated restart: NO initialOffset call on the fresh reader
    r = ms.ManifestCDCStreamReader(
        schema, {"path": table, "maxVersionsPerTrigger": 1}
    )
    assert r.latestOffset() == {"version": 6}  # first: unbounded sync
    # engine replays/plans a batch; the reader observes the range
    list(r.partitions({"version": 3}, {"version": 6}))
    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame(
            [(7, 1.0, "z7"), (8, 2.0, "z8")],
            "k int, price double, v string",
        ),
        ["k"],
    )
    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame([(9, 3.0, "z9")], "k int, price double, v string"),
        ["k"],
    )
    assert r.latestOffset() == {"version": 7}  # bounded again
    # IDEMPOTENT within a trigger: the engine may poll several times
    # before planning (AvailableNow does) — the window must not creep
    assert r.latestOffset() == {"version": 7}
    list(r.partitions({"version": 6}, {"version": 7}))
    assert r.latestOffset() == {"version": 8}


def test_batch_cdf_read_matches_table_changes(spark, tmp_path):
    """spark.read.format("manifest").option("readChangeFeed", "true"):
    the batch change-feed read plans the SAME per-bucket diff
    partitions as the streaming source and must emit exactly the diff
    of the span's two snapshots — including delete rows (null values)
    and an endingVersion pin."""
    table = _table(spark, tmp_path, n=40, n_buckets=2)
    mf.manifest_upsert(
        spark,
        table,
        spark.createDataFrame(
            [(0, 9.0, "u0"), (100, 1.0, "new")],
            "k int, price double, v string",
        ),
        ["k"],
    )
    mf.delete_where(spark, table, F.col("k") == 7)  # version 3
    ms.register_manifest_sources(spark)

    def rows(df):
        return {(r.k, r.price, r.v, r.change_type) for r in df.collect()}

    got = (
        spark.read.format("manifest")
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load()
    )
    assert sorted(got.columns) == ["change_type", "k", "price", "v"]
    assert rows(got) == _snapshot_diff(spark, table, 1)
    assert (0, 9.0, "u0", "update") in rows(got)
    assert (7, None, None, "delete") in rows(got)
    # endingVersion pins a sub-span: the delete commit is excluded
    sub = (
        spark.read.format("manifest")
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .option("endingVersion", 2)
        .load()
    )
    assert rows(sub) == _snapshot_diff(spark, table, 1, 2)
    assert (7, None, None, "delete") not in rows(sub)


def test_batch_cdf_empty_span_and_option_validation(spark, tmp_path):
    """An empty change span (start == end) returns an empty DataFrame
    with the CDC schema — not a read(None) worker crash; snapshot
    time-travel options combined with readChangeFeed raise."""
    import pytest as _pt

    table = _table(spark, tmp_path, n=20, n_buckets=2)
    ms.register_manifest_sources(spark)
    latest = mf.read_manifest(table)["version"]
    empty = (
        spark.read.format("manifest")
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("startingVersion", latest)
        .load()
    )
    assert empty.count() == 0
    assert "change_type" in empty.columns
    with _pt.raises(Exception, match="readChangeFeed"):
        (
            spark.read.format("manifest")
            .option("path", table)
            .option("readChangeFeed", "true")
            .option("version", 1)
            .load()
            .collect()
        )
    with _pt.raises(Exception, match="ending"):
        (
            spark.read.format("manifest")
            .option("path", table)
            .option("readChangeFeed", "true")
            .option("startingVersion", 1)
            .option("endingVersion", 2)
            .option("endingTimestamp", "2030-01-01T00:00:00")
            .load()
            .collect()
        )


def test_writer_replace_where_atomic_region_replace(spark, tmp_path):
    """mode("overwrite").option("replaceWhere", pred): ONE commit that
    replaces exactly the predicate region with the staged rows — keys
    in the region but absent from the staged data are deleted, staged
    keys upsert, rows outside the region are untouched; staged rows
    violating the predicate abort the job before any commit."""
    import pytest as _pt

    table = _table(spark, tmp_path, n=40, n_buckets=4)
    ms.register_manifest_sources(spark)
    v0 = mf.read_manifest(table)["version"]
    new = spark.createDataFrame(
        [(k, 777.0, f"rw{k}") for k in range(0, 40, 10)],
        "k int, price double, v string",
    )
    (
        new.write.format("manifest")
        .option("path", table)
        .option("replaceWhere", "k % 5 = 0")
        .mode("overwrite")
        .save()
    )
    assert mf.read_manifest(table)["version"] == v0 + 1  # one commit
    got = {r.k: r.v for r in mf.read_manifest_table(spark, table).collect()}
    for k in range(40):
        if k % 10 == 0:
            assert got[k] == f"rw{k}"  # staged rows won the region
        elif k % 5 == 0:
            assert k not in got  # in-region keys not re-staged: deleted
        else:
            assert got[k] == f"v{k}"  # outside the region: untouched
    # staged rows that violate the predicate abort pre-commit
    bad = spark.createDataFrame(
        [(1, 0.0, "nope")], "k int, price double, v string"
    )
    with _pt.raises(Exception, match="replaceWhere"):
        (
            bad.write.format("manifest")
            .option("path", table)
            .option("replaceWhere", "k % 5 = 0")
            .mode("overwrite")
            .save()
        )
    assert mf.read_manifest(table)["version"] == v0 + 1  # nothing landed
    assert got == {
        r.k: r.v for r in mf.read_manifest_table(spark, table).collect()
    }


def test_writer_replace_where_empty_frame_deletes_region(spark, tmp_path):
    """Overwriting with an EMPTY frame + replaceWhere deletes exactly
    the region (Delta's semantics) in one commit; replaceWhere on
    append mode raises."""
    import pytest as _pt

    table = _table(spark, tmp_path, n=20, n_buckets=2)
    ms.register_manifest_sources(spark)
    empty = spark.createDataFrame([], "k int, price double, v string")
    (
        empty.write.format("manifest")
        .option("path", table)
        .option("replaceWhere", "k >= 10")
        .mode("overwrite")
        .save()
    )
    assert {
        r.k for r in mf.read_manifest_table(spark, table).collect()
    } == set(range(10))
    with _pt.raises(Exception, match="replaceWhere"):
        (
            empty.write.format("manifest")
            .option("path", table)
            .option("replaceWhere", "k >= 10")
            .mode("append")
            .save()
        )
