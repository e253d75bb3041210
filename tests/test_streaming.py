"""Structured-Streaming pipeline tests: watermark dedup, envelope DLQ
policy, effectively-once sink across incremental AvailableNow runs, and
checkpoint-based resume (new files only)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from trail_condition_etl_spark.sinks import dlq as dlq_sink
from trail_condition_etl_spark.sinks import manifest
from trail_condition_etl_spark.streaming import joins, pipeline
from conftest import SF_DIR

NOW = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _tasks(spark, rows):
    return spark.createDataFrame(rows, pipeline.ENVELOPE)


def _run(spark, staging, out, dlq, ckpt):
    q = pipeline.run_pipeline_available_now(
        spark, str(staging), str(out), str(dlq), str(ckpt)
    )
    q.awaitTermination(120)


def test_end_to_end_policy_dedup_and_resume(spark, tmp_path):
    staging = tmp_path / "staging"
    out = tmp_path / "facts"
    dlq = tmp_path / "dlq"
    ckpt = tmp_path / "ckpt"

    fresh = NOW - dt.timedelta(hours=1)
    stale = NOW - dt.timedelta(hours=30)  # > 24 h -> dlq_expired
    batch1 = _tasks(
        spark,
        [
            ("t-1", 1, fresh, 1),
            ("t-1", 1, fresh, 2),  # duplicate delivery -> deduped (T5)
            ("t-2", 2, fresh, 7),  # delivery_count > 6 -> dlq_poison (T3)
            ("t-3", 3, stale, 1),  # expired (T4)
        ],
    )
    batch1.write.mode("append").parquet(str(staging))
    _run(spark, staging, out, dlq, ckpt)

    facts = manifest.read_manifest_table(spark, str(out))
    assert sorted(r.task_id for r in facts.collect()) == ["t-1"]
    dlq_rows = spark.read.parquet(str(dlq))
    routes = {r.error.exception_type for r in dlq_rows.collect()}
    assert routes == {"dlq_poison", "dlq_expired"}
    # expired tasks are retryable (rescheduled daily in the reference),
    # poison pills are not
    assert {
        (r.error.exception_type, r.error.safe_to_retry) for r in dlq_rows.collect()
    } == {("dlq_poison", False), ("dlq_expired", True)}

    # second incremental run: only NEW files processed (checkpoint resume,
    # T2); t-1 redelivery across runs is absorbed by the idempotent upsert
    batch2 = _tasks(spark, [("t-1", 1, fresh, 3), ("t-4", 4, fresh, 1)])
    batch2.write.mode("append").parquet(str(staging))
    _run(spark, staging, out, dlq, ckpt)

    facts2 = manifest.read_manifest_table(spark, str(out))
    assert sorted(r.task_id for r in facts2.collect()) == ["t-1", "t-4"]
    # DLQ unchanged by the clean second batch
    assert spark.read.parquet(str(dlq)).count() == 2


def test_transform_hook_applies(spark, tmp_path):
    staging = tmp_path / "staging"
    fresh = NOW - dt.timedelta(hours=2)
    _tasks(spark, [("t-9", 9, fresh, 1)]).write.mode("append").parquet(
        str(staging)
    )
    q = pipeline.run_pipeline_available_now(
        spark,
        str(staging),
        str(tmp_path / "out"),
        str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"),
        transform=lambda df: df.withColumn(
            "city_sq", F.col("city_id") * F.col("city_id")
        ),
    )
    q.awaitTermination(120)
    rows = manifest.read_manifest_table(spark, str(tmp_path / "out")).collect()
    assert rows[0].city_sq == 81


def test_manifest_table_sink_is_acid_across_incremental_runs(spark, tmp_path):
    """table_format='manifest': each epoch is one atomic manifest
    commit. Incremental runs merge (new rows win), every pre-run
    snapshot stays time-travel readable, and a reader pinned before the
    second run still sees the first run's state (snapshot isolation) —
    the exactly-once story with the ACID table as the terminal sink."""
    from trail_condition_etl_spark.sinks import manifest as mf

    staging = tmp_path / "staging"
    out = str(tmp_path / "facts")
    fresh = NOW - dt.timedelta(hours=1)
    _tasks(
        spark, [("t-1", 1, fresh, 1), ("t-2", 2, fresh, 1)]
    ).write.mode("append").parquet(str(staging))
    q = pipeline.run_pipeline_available_now(
        spark, str(staging), out, str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"), table_format="manifest",
    )
    q.awaitTermination(120)
    v_after_run1 = mf.list_versions(out)[-1]
    pinned = mf.read_manifest_table(spark, out)  # resolved BEFORE run 2

    # second incremental run: t-1 redelivered (merges), t-3 new
    _tasks(
        spark, [("t-1", 1, fresh, 2), ("t-3", 3, fresh, 1)]
    ).write.mode("append").parquet(str(staging))
    q = pipeline.run_pipeline_available_now(
        spark, str(staging), out, str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"), table_format="manifest",
    )
    q.awaitTermination(120)

    latest = {
        r.task_id for r in mf.read_manifest_table(spark, out).collect()
    }
    assert latest == {"t-1", "t-2", "t-3"}
    # snapshot isolation: the pinned reader still sees run 1's state
    assert {r.task_id for r in pinned.collect()} == {"t-1", "t-2"}
    # and run 1's version is still time-travel readable by number
    assert {
        r.task_id
        for r in mf.read_manifest_table(spark, out, v_after_run1).collect()
    } == {"t-1", "t-2"}


def test_manifest_sink_small_file_lifecycle(spark, tmp_path):
    """The small-file story end-to-end: many one-file micro-batches
    each commit a segment; OPTIMIZE compacts the snapshot to one file
    per bucket and vacuum drops the per-epoch segments — state
    byte-identical throughout. This is the maintenance cycle a
    long-running streaming deployment runs on the ACID table."""
    import os

    from trail_condition_etl_spark.sinks import manifest as mf

    staging = tmp_path / "staging"
    out = str(tmp_path / "facts")
    fresh = NOW - dt.timedelta(hours=1)
    for i in range(6):  # one parquet file per batch
        _tasks(spark, [(f"t-{i}", i, fresh, 1)]).coalesce(1).write.mode(
            "append"
        ).parquet(str(staging))
    q = pipeline.run_pipeline_available_now(
        spark, str(staging), out, str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
        table_format="manifest",
    )
    q.awaitTermination(240)
    versions = mf.list_versions(out)
    assert len(versions) >= 3  # several epochs committed atomically
    before = {
        r.task_id for r in mf.read_manifest_table(spark, out).collect()
    }
    assert before == {f"t-{i}" for i in range(6)}
    mf.optimize_table(spark, out)
    removed = mf.vacuum(out)
    assert removed >= len(versions) - 1  # per-epoch segments swept
    m = mf.read_manifest(out)
    for d in m["buckets"].values():
        files = [
            f
            for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1
    after = {
        r.task_id for r in mf.read_manifest_table(spark, out).collect()
    }
    assert after == before


def test_stream_stream_join_matches_across_micro_batches(spark, tmp_path):
    """Clicks and purchases staged as SEPARATE files, consumed one file
    per micro-batch: the purchase arrives in a later batch than its
    click, so the match can only come from the join's state store."""
    staging = tmp_path / "events"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    clicks = spark.createDataFrame(
        [
            (1, base, 7, "click", 0.0),
            (2, base + dt.timedelta(minutes=10), 7, "click", 0.0),
            (3, base, 8, "click", 0.0),  # different user: must not match
        ],
        schema,
    )
    purchases = spark.createDataFrame(
        [
            # in-window matches for clicks 1 and 2
            (10, base + dt.timedelta(minutes=30), 7, "purchase", 20.0),
            # out-of-window: 2h after the clicks
            (11, base + dt.timedelta(hours=2), 7, "purchase", 5.0),
        ],
        schema,
    )
    clicks.coalesce(1).write.mode("append").parquet(str(staging))
    purchases.coalesce(1).write.mode("append").parquet(str(staging))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staging))
    )
    q = (
        joins.attribution_join(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == {(10, 1), (10, 2)}


def test_metrics_sink_emits_per_epoch_counts(spark, tmp_path):
    staging = tmp_path / "staging"
    out = tmp_path / "facts"
    dlq = tmp_path / "dlq"
    ckpt = tmp_path / "ckpt"
    metrics = tmp_path / "metrics"
    now = NOW
    rows = [
        ("t-1", 1, now, 1),          # process
        ("t-2", 2, now, 99),         # poison -> dlq
        ("t-3", 3, now, 1),          # process
    ]
    _tasks(spark, rows).write.mode("append").parquet(str(staging))
    q = pipeline.run_pipeline_available_now(
        spark, str(staging), str(out), str(dlq), str(ckpt),
        now=F.lit(now), max_files_per_trigger=None,
        metrics_path=str(metrics),
    )
    q.awaitTermination(120)
    m = spark.read.parquet(str(metrics)).collect()
    # AvailableNow runs a trailing epoch to advance the watermark: one
    # data epoch plus empty heartbeat rows — totals carry the counts
    assert len(m) >= 1
    assert sum(r.n_processed for r in m) == 2
    assert sum(r.n_rejected for r in m) == 1
    assert all(r.emitted_ts is not None for r in m)


def test_each_epoch_runs_one_routing_job(spark, tmp_path, monkeypatch):
    """Routing an epoch costs one Spark job (the per-route counts that
    gate both sinks), for the data epoch and the empty trailing one."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = []  # the stream runs its jobs, foreachBatch's too, in one group

    def jobs() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(tracker.getJobIdsForGroup(group[0]))

    sunk = []
    monkeypatch.setattr(
        dlq_sink, "append_dlq", lambda _s, _p, df: sunk.append("dlq")
    )
    monkeypatch.setattr(
        manifest, "manifest_upsert", lambda *_a, **_k: sunk.append("upsert")
    )
    marks = []
    route = pipeline.route_envelope

    def marked(batch, **kw):
        group[:] = [sc.getLocalProperty("spark.jobGroup.id")]
        marks.append(jobs())
        return route(batch, **kw)

    monkeypatch.setattr(pipeline, "route_envelope", marked)
    staging = tmp_path / "staging"
    rows = [("t-1", 1, NOW, 1), ("t-2", 2, NOW, 99), ("t-3", 3, NOW, 1)]
    _tasks(spark, rows).coalesce(1).write.parquet(str(staging))
    q = pipeline.run_pipeline_available_now(
        spark, str(staging), str(tmp_path / "out"), str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"), now=F.lit(NOW),
    )
    q.awaitTermination(120)
    marks.append(jobs())
    assert group == [str(q.runId)]
    assert sunk == ["dlq", "upsert"]
    assert [p["numInputRows"] for p in q.recentProgress] == [3, 0]
    assert [b - a for a, b in zip(marks, marks[1:])] == [1, 1]



# ---------------------------------------------------------------------------
# sink sizing: the epoch that creates the table picks its bucket layout
# ---------------------------------------------------------------------------


def _drain_files(spark, tmp_path, out, files):
    """Stage each list of task ids as one file and drain them, one
    epoch per file, into the manifest table at `out`."""
    staging = tmp_path / "staging"
    for ids in files:
        _tasks(spark, [(t, i, NOW, 1) for i, t in enumerate(ids)]).coalesce(
            1
        ).write.mode("append").parquet(str(staging))
    q = pipeline.run_pipeline_available_now(
        spark, str(staging), out, str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"), now=F.lit(NOW), max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    return q


def _task_ids(spark, out):
    return sorted(
        r.task_id for r in manifest.read_manifest_table(spark, out).collect()
    )


def _bucket_bytes(out):
    import os

    m = manifest.read_manifest(out)
    return sum(
        os.path.getsize(os.path.join(out, d, f))
        for d in m["buckets"].values()
        for f in os.listdir(os.path.join(out, d))
        if f.endswith(".parquet")
    )


def test_small_first_epoch_creates_a_one_bucket_sink(spark, tmp_path):
    out = str(tmp_path / "tasks")
    files = [[f"a-{i:02d}" for i in range(20)], [f"b-{i:02d}" for i in range(20)]]
    _drain_files(spark, tmp_path, out, files)
    first, last = manifest.list_versions(out)
    assert manifest.read_manifest(out, first)["n_buckets"] == 1
    m = manifest.read_manifest(out, last)
    # the second epoch rewrites the one bucket: one data file
    assert m["n_buckets"] == 1
    assert m["op_metrics"]["files_written"] == 1
    assert _task_ids(spark, out) == sorted(files[0] + files[1])


def test_existing_sink_keeps_its_layout(spark, tmp_path):
    out = str(tmp_path / "tasks")
    manifest.manifest_upsert(
        spark, out, _tasks(spark, [("t-0", 0, NOW, 1)]), ["task_id"],
        n_buckets=64,
    )
    _drain_files(spark, tmp_path, out, [[f"t-{i}" for i in range(1, 21)]])
    assert manifest.read_manifest(out)["n_buckets"] == 64
    assert _task_ids(spark, out) == sorted(f"t-{i}" for i in range(21))


def test_large_first_epoch_gets_a_parallel_layout(spark, tmp_path, monkeypatch):
    # 20 rows of ~36 B (default widths) against a 200 B ceiling
    monkeypatch.setattr(manifest, "MAX_BUCKET_BYTES", 200)
    out = str(tmp_path / "tasks")
    ids = [f"t-{i:02d}" for i in range(20)]
    _drain_files(spark, tmp_path, out, [ids])
    assert manifest.read_manifest(out)["n_buckets"] > 1
    assert _task_ids(spark, out) == ids


def test_maintenance_grows_an_oversized_sink_by_the_shared_rule(spark, tmp_path):
    out = str(tmp_path / "tasks")
    _drain_files(spark, tmp_path, out, [[f"t-{i:03d}" for i in range(200)]])
    assert manifest.read_manifest(out)["n_buckets"] == 1
    total = _bucket_bytes(out)
    cap = total // 2  # the one bucket is over the ceiling
    assert manifest.maintain_table(spark, out, max_bucket_bytes=cap) is not None
    n = manifest.read_manifest(out)["n_buckets"]
    assert n == manifest.sized_buckets(total, cap) > 1
    hist = manifest.describe_history(spark, out).orderBy("version").collect()
    assert [r.n_buckets for r in hist] == [1, n]
    assert _task_ids(spark, out) == [f"t-{i:03d}" for i in range(200)]


def test_replayed_first_epoch_lands_each_task_once(spark, tmp_path, monkeypatch):
    """A crash after the epoch's upsert and before its checkpoint commit:
    the restart replays the epoch into the table it created, which keeps
    its layout, and each task lands once."""
    import pytest

    out = str(tmp_path / "tasks")
    ids = [f"t-{i:02d}" for i in range(20)]
    real = manifest.manifest_upsert

    def upsert_then_crash(*args, **kwargs):
        real(*args, **kwargs)
        raise RuntimeError("crash before the checkpoint commit")

    monkeypatch.setattr(manifest, "manifest_upsert", upsert_then_crash)
    with pytest.raises(Exception, match="crash before the checkpoint"):
        _drain_files(spark, tmp_path, out, [ids])
    monkeypatch.setattr(manifest, "manifest_upsert", real)
    assert manifest.list_versions(out) == [1]
    q = pipeline.run_pipeline_available_now(
        spark, str(tmp_path / "staging"), out, str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"), now=F.lit(NOW), max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert manifest.list_versions(out) == [1, 2]  # the epoch ran again
    assert manifest.read_manifest(out)["n_buckets"] == 1
    assert _task_ids(spark, out) == ids


def test_windowed_update_sink_is_sized_to_its_first_epoch(spark, tmp_path):
    from trail_condition_etl_spark.streaming import windowed

    staging = tmp_path / "staging"
    table = str(tmp_path / "table")
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 3, 12), "click", 1.0)
        for i in range(9)
    ]
    spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    ).write.parquet(str(staging))
    q = windowed.run_windowed_update_available_now(
        spark, str(staging), table, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert manifest.read_manifest(table)["n_buckets"] == 1
    got = manifest.read_manifest_table(spark, table).collect()
    assert sorted(r.n_events for r in got) == [3, 3, 3]

def test_windowed_agg_drops_late_rows_across_runs(spark, tmp_path):
    """Two AvailableNow runs sharing a checkpoint: run 1 advances the
    watermark; in run 2 a row older than the watermark (whose window was
    already finalized) is DROPPED, an in-delay row is accepted, and the
    newest window stays withheld in state."""
    from trail_condition_etl_spark.streaming import windowed

    staging = tmp_path / "staging"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    day = 86400

    def ev(eid, day_n, etype="click", value=1.0):
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(days=day_n, hours=12)
        return (eid, ts, etype, value)

    schema = "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    # run 1: days 0..9 -> final watermark = day9.5 - 2d; windows for
    # days 0..6 finalize and emit
    batch1 = [ev(i, i) for i in range(10)]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(str(staging))
    q = windowed.run_windowed_agg_available_now(
        spark, str(staging), str(out), str(ckpt)
    )
    q.awaitTermination(120)
    first = {
        r.window_start_s: r.n_events
        for r in spark.read.schema(
            "window_start_s LONG, event_type STRING, n_events LONG, value_sum DOUBLE"
        ).parquet(str(out)).collect()
    }
    base = int(dt.datetime(2024, 1, 1).timestamp())
    assert first == {base + i * day: 1 for i in range(7)}

    # run 2: a LATE row for day 3 (behind the persisted watermark ->
    # dropped), an in-delay row for day 9, and a day-12 row that pushes
    # the watermark to day 10.5 so windows 7..9 finalize
    batch2 = [ev(100, 3), ev(101, 9), ev(102, 12)]
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(str(staging))
    q = windowed.run_windowed_agg_available_now(
        spark, str(staging), str(out), str(ckpt)
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.read.schema(
        "window_start_s LONG, event_type STRING, n_events LONG, value_sum DOUBLE"
    ).parquet(str(out)).collect():
        final[r.window_start_s] = final.get(r.window_start_s, 0) + r.n_events
    # late day-3 row dropped: count still 1; day-9 window has both rows;
    # day-12 window withheld (inside the watermark delay)
    assert final[base + 3 * day] == 1
    assert final[base + 9 * day] == 2
    assert base + 12 * day not in final
    assert set(final) == {base + i * day for i in range(10)}


def test_scd2_maintenance_merges_across_batches(spark, tmp_path):
    """Three regimes split across two incremental runs: a regime that
    CONTINUES across the boundary must not fork a new interval, a regime
    superseded in run 2 must close at the new type's first event."""
    from trail_condition_etl_spark.streaming import scd2

    staging = tmp_path / "staging"
    dim = tmp_path / "dim"
    ckpt = tmp_path / "ckpt"

    def ev(eid, minute, etype):
        return (eid, dt.datetime(2024, 1, 1, 0, minute), 1, etype)

    schema = scd2.EVENT_SCHEMA
    # run 1: click(0), click(1), view(2) -> [click @0, view @2-open]
    spark.createDataFrame(
        [ev(0, 0, "click"), ev(1, 1, "click"), ev(2, 2, "view")], schema
    ).write.mode("append").parquet(str(staging))
    scd2.run_scd2_maintenance(
        spark, str(staging), str(dim), str(ckpt)
    ).awaitTermination(120)
    # run 2: view(3) continues; purchase(4) supersedes
    spark.createDataFrame(
        [ev(3, 3, "view"), ev(4, 4, "purchase")], schema
    ).write.mode("append").parquet(str(staging))
    scd2.run_scd2_maintenance(
        spark, str(staging), str(dim), str(ckpt)
    ).awaitTermination(120)

    rows = sorted(
        (
            (r.user_id, r.event_type, r.valid_from.minute,
             None if r.valid_to is None else r.valid_to.minute, r.is_current)
            for r in manifest.read_manifest_table(spark, str(dim)).collect()
        )
    )
    assert rows == [
        (1, "click", 0, 2, False),
        (1, "purchase", 4, None, True),
        (1, "view", 2, 4, False),  # continued across the boundary, then closed
    ]


def test_scd2_maintenance_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-processing ALL events against
    the already-merged dimension (fresh checkpoint, same staging) must
    leave the table unchanged — the effectively-once contract."""
    from trail_condition_etl_spark.streaming import scd2

    staging = tmp_path / "staging"
    dim = tmp_path / "dim"

    def ev(eid, minute, etype):
        return (eid, dt.datetime(2024, 1, 1, 0, minute), 1, etype)

    spark.createDataFrame(
        [ev(0, 0, "click"), ev(1, 2, "view"), ev(2, 4, "purchase")],
        scd2.EVENT_SCHEMA,
    ).write.mode("append").parquet(str(staging))

    def snapshot():
        return sorted(
            (r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current)
            for r in manifest.read_manifest_table(spark, str(dim)).collect()
        )

    scd2.run_scd2_maintenance(
        spark, str(staging), str(dim), str(tmp_path / "ckpt1")
    ).awaitTermination(120)
    first = snapshot()
    assert len(first) == 3
    # replay EVERYTHING (fresh checkpoint = the whole staging dir is one
    # "new" batch) against the merged dimension
    scd2.run_scd2_maintenance(
        spark, str(staging), str(dim), str(tmp_path / "ckpt2")
    ).awaitTermination(120)
    assert snapshot() == first


def test_scd2_merge_after_crashed_first_commit(spark, tmp_path):
    """A first commit that died after its segment write leaves the
    dimension directory with no manifest: the next merge must treat the
    dimension as empty, not try to read it."""
    from trail_condition_etl_spark.streaming import scd2

    dim = tmp_path / "dim"
    (dim / "data" / "seg-orphan" / "pk_bucket=0").mkdir(parents=True)
    batch = spark.createDataFrame(
        [
            (0, dt.datetime(2024, 1, 1, 0, 0), 1, "click"),
            (1, dt.datetime(2024, 1, 1, 0, 3), 1, "view"),
        ],
        scd2.EVENT_SCHEMA,
    )
    scd2.merge_scd2_batch(spark, str(dim), batch)
    rows = sorted(
        (r.event_type, r.valid_from.minute, r.is_current)
        for r in manifest.read_manifest_table(spark, str(dim)).collect()
    )
    assert rows == [("click", 0, False), ("view", 3, True)]


def test_scd2_maintenance_repairs_history_on_late_event(spark, tmp_path):
    """An out-of-order event older than the open interval must split the
    correct historical interval, not corrupt the tail."""
    from trail_condition_etl_spark.streaming import scd2

    staging = tmp_path / "staging"
    dim = tmp_path / "dim"

    def ev(eid, minute, etype):
        return (eid, dt.datetime(2024, 1, 1, 0, minute), 1, etype)

    spark.createDataFrame(
        [ev(0, 0, "click"), ev(1, 10, "view")], scd2.EVENT_SCHEMA
    ).write.mode("append").parquet(str(staging))
    scd2.run_scd2_maintenance(
        spark, str(staging), str(dim), str(tmp_path / "c1")
    ).awaitTermination(120)
    # late arrival at minute 5, inside the click interval [0, 10)
    spark.createDataFrame(
        [ev(2, 5, "error")], scd2.EVENT_SCHEMA
    ).write.mode("append").parquet(str(staging))
    scd2.run_scd2_maintenance(
        spark, str(staging), str(dim), str(tmp_path / "c1")
    ).awaitTermination(120)
    rows = sorted(
        (r.event_type, r.valid_from.minute,
         None if r.valid_to is None else r.valid_to.minute, r.is_current)
        for r in manifest.read_manifest_table(spark, str(dim)).collect()
    )
    assert rows == [
        ("click", 0, 5, False),
        ("error", 5, 10, False),
        ("view", 10, None, True),
    ]


def test_multibatch_roundtrip_is_rerun_deterministic(spark):
    """Two independent runs (fresh staging/checkpoint each — scratch
    dirs differ, so file->batch assignment can differ) must summarize
    identically: bounded event-time span + byte-identical redeliveries
    make the landed set split-order independent."""
    from trail_condition_etl_spark.streaming.pipeline import (
        streaming_roundtrip_multibatch_query,
    )

    a = {
        tuple(r)
        for r in streaming_roundtrip_multibatch_query(spark, SF_DIR).collect()
    }
    b = {
        tuple(r)
        for r in streaming_roundtrip_multibatch_query(spark, SF_DIR).collect()
    }
    assert a == b
    assert all(r[-1] == 3 for r in a), a  # n_batches column


def test_dlq_redrive_reprocesses_to_convergence(spark, tmp_path):
    """R4 end-to-end: expired tasks land in the DLQ retryable; a redrive
    job re-stages them with a fresh enqueue time; a SECOND AvailableNow
    run (same out table, new staging epoch) processes them. Final table
    = originally-processable ∪ redriven; poison rows stay dead."""
    import os

    root = str(tmp_path)
    now = dt.datetime(2024, 1, 10, 12, 0, 0)
    old = now - dt.timedelta(days=3)  # expired (>24h)
    rows = [
        ("t1", 1, now, 1),            # processable
        ("t2", 2, old, 1),            # expired -> DLQ retryable
        ("t3", 3, now, 99),           # poison -> DLQ permanent
    ]
    staging = os.path.join(root, "staging")
    out = os.path.join(root, "out")
    dlq = os.path.join(root, "dlq")
    _tasks(spark, rows).write.mode("overwrite").parquet(staging)
    q = pipeline.run_pipeline_available_now(
        spark, staging, out, dlq,
        os.path.join(root, "ckpt1"),
        now=F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S"))),
        max_files_per_trigger=None,
    )
    q.awaitTermination()
    assert {r.task_id for r in manifest.read_manifest_table(spark, out).collect()} == {"t1"}

    # redrive: eligible rows re-enter the staging dir as FRESH tasks
    # (new enqueue time, delivery count reset — the reference's redrive
    # contract), consumed by a new checkpoint epoch
    redrive = dlq_sink.redrive_candidates(spark, dlq).select(
        "task_id",
        "city_id",
        F.to_timestamp(
            F.lit(now.strftime("%Y-%m-%d %H:%M:%S"))
        ).alias("_enqueued_ts"),
        F.lit(1).cast("int").alias("_delivery_count"),
    )
    assert {r.task_id for r in redrive.collect()} == {"t2"}
    restage = os.path.join(root, "staging2")
    redrive.write.mode("overwrite").parquet(restage)
    q2 = pipeline.run_pipeline_available_now(
        spark, restage, out, dlq,
        os.path.join(root, "ckpt2"),
        now=F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S"))),
        max_files_per_trigger=None,
    )
    q2.awaitTermination()
    final = {r.task_id for r in manifest.read_manifest_table(spark, out).collect()}
    assert final == {"t1", "t2"}
    # poison stays dead: not redriven, not in the table
    assert {
        r.task_id
        for r in dlq_sink.redrive_candidates(spark, dlq).collect()
    } == {"t2"}  # t3 is safe_to_retry=false, never eligible
