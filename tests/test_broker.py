"""Broker transport seam (S5, streaming/broker.py): the kafka-wire test
double must drive the SAME pipeline to the SAME results as the file
transport, and the kafka branch's wiring must be pinned without the
connector jar (absent in this container)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from trail_condition_etl_spark.streaming import broker, pipeline
from trail_condition_etl_spark.sinks.manifest import read_manifest_table


def _tasks(spark, n=40):
    return spark.range(n).select(
        F.col("id").cast("string").alias("task_id"),
        (F.col("id") % 7).cast("int").alias("city_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias(
            "_enqueued_ts"
        ),
        (1 + F.col("id") % 8).cast("int").alias("_delivery_count"),
    )


def _run(spark, stream, root, tag):
    out = os.path.join(root, f"out_{tag}")
    q = pipeline.run_pipeline_from_stream(
        spark,
        stream,
        out,
        os.path.join(root, f"dlq_{tag}"),
        os.path.join(root, f"ckpt_{tag}"),
        now=F.to_timestamp(F.lit("2023-11-14 22:14:39")),
    )
    q.awaitTermination()
    return {
        (r.task_id, r.city_id)
        for r in read_manifest_table(spark, out).collect()
    }


def test_wire_double_matches_file_transport(spark):
    """encode -> wire_files -> decode lands byte-equal task sets with
    the plain file transport through the full pipeline (dedup, routing,
    DLQ, upsert)."""
    root = tempfile.mkdtemp(prefix="broker_seam_")
    tasks = _tasks(spark)
    plain = os.path.join(root, "plain")
    tasks.write.mode("overwrite").parquet(plain)
    wire_dir = os.path.join(root, "wire")
    broker.encode_task_envelope(tasks).write.mode("overwrite").parquet(wire_dir)

    file_stream = broker.read_broker_stream(
        spark,
        broker.BrokerConfig(kind="files", path=plain, max_per_trigger=None),
        pipeline.ENVELOPE,
    )
    wire_stream = broker.read_broker_stream(
        spark,
        broker.BrokerConfig(kind="wire_files", path=wire_dir, max_per_trigger=None),
        pipeline.ENVELOPE,
    )
    got_file = _run(spark, file_stream, root, "file")
    got_wire = _run(spark, wire_stream, root, "wire")
    assert got_file and got_file == got_wire


def test_decode_routes_malformed_payloads_to_null(spark):
    """A malformed value decodes to NULL envelope fields instead of
    failing the stream — the P7 validation filter then DLQs it."""
    wire = spark.createDataFrame(
        [(None, b"not json at all", "tasks", 0, 1, None, 0)],
        broker.KAFKA_WIRE_SCHEMA,
    )
    row = broker.decode_task_envelope(wire, pipeline.ENVELOPE).collect()[0]
    assert row.task_id is None and row._source_offset == 1


def test_kafka_branch_wiring():
    """The option map the kafka branch passes to the reader — pinned as
    a pure function since the connector jar is not in this container."""
    conf = broker.BrokerConfig(
        kind="kafka",
        bootstrap_servers="broker-1:9092,broker-2:9092",
        topic="trail-tasks",
        max_per_trigger=5000,
        options={"failOnDataLoss": "false"},
    )
    opts = broker.kafka_reader_options(conf)
    assert opts["kafka.bootstrap.servers"] == "broker-1:9092,broker-2:9092"
    assert opts["subscribe"] == "trail-tasks"
    assert opts["maxOffsetsPerTrigger"] == "5000"
    assert opts["kafka.isolation.level"] == "read_committed"
    assert opts["failOnDataLoss"] == "false"


def test_kafka_branch_raises_clearly_without_connector(spark):
    """Without the connector jar the kafka branch must fail with an
    actionable error at stream-construction time, not a stack of
    ClassNotFoundException later."""
    conf = broker.BrokerConfig(
        kind="kafka", bootstrap_servers="localhost:9092", topic="t"
    )
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        broker.read_broker_stream(spark, conf, pipeline.ENVELOPE)


def test_connector_remap_spares_unrelated_errors():
    """Only the jar-absent failure mode maps to the install hint; a bad
    option / auth / checkpoint error from the kafka branch must surface
    as ITSELF, not send the operator hunting for an installed jar."""
    assert broker._missing_connector(
        Exception("[DATA_SOURCE_NOT_FOUND] Failed to find data source: kafka")
    )
    assert broker._missing_connector(
        Exception("java.lang.ClassNotFoundException: kafka.DefaultSource")
    )
    assert not broker._missing_connector(
        Exception("Invalid value for option 'subscribe'")
    )
    assert not broker._missing_connector(
        Exception("checkpointLocation is not writable: /no/such/dir")
    )


def test_producer_side_key_routing(spark):
    """All wire rows for one task_id land in one partition (per-key
    order preservation), offsets dense per partition."""
    tasks = _tasks(spark, 100)
    wire = broker.encode_task_envelope(tasks, n_partitions=4)
    parts = wire.select(
        F.col("key").cast("string").alias("task_id"), "partition"
    ).distinct()
    assert parts.groupBy("task_id").count().filter("count > 1").count() == 0
    per_part = (
        wire.groupBy("partition")
        .agg(F.count("*").alias("n"), F.max("offset").alias("mx"))
        .collect()
    )
    assert all(r.n == r.mx for r in per_part)


def test_wire_sink_roundtrips_through_decode(spark):
    """Producer side: a streaming envelope frame written through the
    wire_files sink must decode back (via the same decode the kafka
    source branch uses) to exactly the input task set."""
    root = tempfile.mkdtemp(prefix="broker_sink_")
    tasks = _tasks(spark, 30)
    staging = os.path.join(root, "staging")
    tasks.write.mode("overwrite").parquet(staging)
    stream = broker.read_broker_stream(
        spark,
        broker.BrokerConfig(kind="files", path=staging, max_per_trigger=None),
        pipeline.ENVELOPE,
    )
    wire_out = os.path.join(root, "wire_out")
    q = broker.write_broker_stream(
        stream,
        broker.BrokerConfig(kind="wire_files", path=wire_out, topic="out"),
        os.path.join(root, "ckpt"),
    )
    q.awaitTermination()
    decoded = broker.decode_task_envelope(
        spark.read.parquet(wire_out), pipeline.ENVELOPE
    )
    got = {(r.task_id, r.city_id, r._delivery_count) for r in decoded.collect()}
    want = {(r.task_id, r.city_id, r._delivery_count) for r in tasks.collect()}
    assert got == want


def test_kafka_sink_wiring():
    conf = broker.BrokerConfig(
        kind="kafka", bootstrap_servers="b:9092", topic="out-topic"
    )
    opts = broker.kafka_writer_options(conf)
    assert opts["topic"] == "out-topic"
    assert opts["kafka.enable.idempotence"] == "true"
    assert opts["kafka.acks"] == "all"


def test_wire_sink_offsets_monotone_across_epochs(spark):
    """ADVICE r4: a second sink run (fresh epochs) must CONTINUE each
    partition's offset sequence rather than restart at 1, so
    (partition, offset) stays unique and per-partition-ordered — the
    Kafka invariant the double claims to reproduce."""
    root = tempfile.mkdtemp(prefix="broker_sink_epochs_")
    wire_out = os.path.join(root, "wire_out")
    for i, n in enumerate((20, 30)):
        staging = os.path.join(root, f"staging_{i}")
        _tasks(spark, n).write.mode("overwrite").parquet(staging)
        stream = broker.read_broker_stream(
            spark,
            broker.BrokerConfig(
                kind="files", path=staging, max_per_trigger=None
            ),
            pipeline.ENVELOPE,
        )
        q = broker.write_broker_stream(
            stream,
            broker.BrokerConfig(kind="wire_files", path=wire_out, topic="out"),
            os.path.join(root, f"ckpt_{i}"),
        )
        q.awaitTermination()
    wire = spark.read.parquet(wire_out)
    per_part = (
        wire.groupBy("partition")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("offset").alias("d"),
            F.min("offset").alias("mn"),
            F.max("offset").alias("mx"),
        )
        .collect()
    )
    # dense 1..n per partition: unique, contiguous, monotone across epochs
    assert per_part and all(
        r.d == r.n and r.mn == 1 and r.mx == r.n for r in per_part
    )


def test_wire_sink_epoch_write_does_not_rescan_history(spark):
    """VERDICT r5 directive 6: the offset rebase reads the persisted
    high-water sidecar, not the accumulated wire dir. Pin: after epoch 1
    lands, DELETE every data file — epoch 2 must still continue each
    partition's sequence (a rescan would restart at 1; a rescan attempt
    over the now-empty dir would find nothing)."""
    import shutil

    root = tempfile.mkdtemp(prefix="broker_no_rescan_")
    wire_out = os.path.join(root, "wire_out")
    ckpt = os.path.join(root, "ckpt")
    conf = broker.BrokerConfig(kind="wire_files", path=wire_out, topic="out")
    broker._emit_wire_batch(_tasks(spark, 20), 1, conf, ckpt)
    first = {
        (r.partition, r.offset)
        for r in spark.read.parquet(wire_out).collect()
    }
    highs = {
        r.partition: r.mx
        for r in spark.read.parquet(wire_out)
        .groupBy("partition")
        .agg(F.max("offset").alias("mx"))
        .collect()
    }
    shutil.rmtree(wire_out)  # history gone; only the sidecar remains
    broker._emit_wire_batch(_tasks(spark, 12), 2, conf, ckpt)
    second = spark.read.parquet(wire_out)
    mins = {
        r.partition: r.mn
        for r in second.groupBy("partition")
        .agg(F.min("offset").alias("mn"))
        .collect()
    }
    for p, mn in mins.items():
        assert mn == highs[p] + 1, (p, mn, highs.get(p))
    assert first  # sanity: epoch 1 really wrote rows


def test_wire_sink_epoch_retry_reuses_base_offsets(spark):
    """ADVICE r5: a retried epoch (same epoch_id after a crash between
    data append and checkpoint commit) rebases on the SAME base, so the
    replayed rows carry IDENTICAL (partition, offset) pairs — duplicates
    are positionally dedupable, never disguised as fresh offsets."""
    root = tempfile.mkdtemp(prefix="broker_retry_")
    wire_out = os.path.join(root, "wire_out")
    ckpt = os.path.join(root, "ckpt")
    conf = broker.BrokerConfig(kind="wire_files", path=wire_out, topic="out")
    broker._emit_wire_batch(_tasks(spark, 10), 1, conf, ckpt)
    broker._emit_wire_batch(_tasks(spark, 10).limit(6), 2, conf, ckpt)
    # retry of epoch 2 with the full batch (the crash lost the trigger)
    broker._emit_wire_batch(_tasks(spark, 10), 2, conf, ckpt)
    wire = spark.read.parquet(wire_out).filter(F.col("offset") > 0)
    dup_pairs = (
        wire.groupBy("partition", "offset", "key")
        .count()
        .filter(F.col("count") > 1)
    )
    # every replayed row shares (partition, offset, key) with its first
    # delivery — the dedup handle; and no DIFFERENT keys ever collide
    # on one (partition, offset)
    collisions = (
        wire.groupBy("partition", "offset")
        .agg(F.countDistinct("key").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert collisions == 0
    assert dup_pairs.count() >= 6  # the 6 rows written twice


def test_wire_sink_bootstraps_from_presidecar_dir(spark):
    """A wire dir written before sidecars existed is scanned ONCE, then
    the sidecar takes over — offsets stay monotone through migration."""
    root = tempfile.mkdtemp(prefix="broker_bootstrap_")
    wire_out = os.path.join(root, "wire_out")
    ckpt = os.path.join(root, "ckpt")
    conf = broker.BrokerConfig(kind="wire_files", path=wire_out, topic="out")
    # legacy dir: offsets 1..n per partition, no sidecar
    broker.encode_task_envelope(_tasks(spark, 15)).write.mode(
        "overwrite"
    ).parquet(wire_out)
    broker._emit_wire_batch(_tasks(spark, 15), 1, conf, ckpt)
    per = (
        spark.read.parquet(wire_out)
        .groupBy("partition")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("offset").alias("d"),
            F.max("offset").alias("mx"),
        )
        .collect()
    )
    assert per and all(r.d == r.n and r.mx == r.n for r in per)
