"""Commit-time stats come from the written files' parquet footers, and a
commit writes one file per touched bucket (more only past the row cap).

The differential test pins the footer reader to the definition it
replaces: a Spark aggregation over the just-written segment (min, max,
null count, row count) passed through the same `_row_col_stats` rules,
per bucket and per data file."""

from __future__ import annotations

import datetime as dt
import os
from urllib.parse import urlparse

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from trail_condition_etl_spark.sinks import manifest as mf

_EPOCH = dt.datetime(1970, 1, 1)
_STAT_COLS = [
    "b", "sh", "i", "l", "f", "d", "s_long", "s_mb", "day", "ts", "bo",
    "nul",
]


def _typed_rows(spark, n: int = 6000):
    """One column per `_STAT_TYPES` type, with nulls sprinkled in and
    the edge cases placed per bucket (pk_bucket = k % 6):
    0: `d` all NaN; 1: `d` NaN mixed with values; 2: `f`/`d` hold -0.0
    beside 0.0; 3: `s_long` max longer than 64 chars; every bucket:
    multibyte UTF-8 strings; `nul` is null everywhere."""
    k = F.col("id")
    bucket = k % 6
    nulled = (k % 7) == 3

    def opt(c):
        return F.when(nulled, F.lit(None)).otherwise(c)

    d = (
        F.when(bucket == 0, F.lit(float("nan")))
        .when((bucket == 1) & (k % 5 == 0), F.lit(float("nan")))
        .when(bucket == 2, F.when(k % 2 == 0, F.lit(-0.0)).otherwise(0.0))
        .otherwise(k * 1.5 - 400.0)
    )
    f = F.when(
        bucket == 2, F.when(k % 2 == 0, F.lit(-0.0)).otherwise(0.0)
    ).otherwise(k * 0.25 - 50.0)
    s_long = F.when(
        (bucket == 3) & (k % 10 == 3), F.concat(F.lit("z" * 70), k)
    ).otherwise(F.concat(F.lit("s"), F.lpad(k.cast("string"), 5, "0")))
    s_mb = F.concat(
        F.element_at(F.array(*[F.lit(x) for x in ("é", "€", "😀", "a")]),
                     (k % 4 + 1).cast("int")),
        k.cast("string"),
    )
    return spark.range(n).select(
        bucket.cast("int").alias("pk_bucket"),
        k.alias("k"),
        opt((k % 250 - 125).cast("byte")).alias("b"),
        opt((k * 37 % 30000 - 15000).cast("short")).alias("sh"),
        opt((k * 7919 - 4_000_000).cast("int")).alias("i"),
        opt(k * 1_000_003 - 10**9).alias("l"),
        opt(f.cast("float")).alias("f"),
        opt(d).alias("d"),
        opt(s_long).alias("s_long"),
        opt(s_mb).alias("s_mb"),
        opt(F.date_add(F.lit("2020-01-01"), (k % 900).cast("int"))).alias(
            "day"
        ),
        opt(F.timestamp_micros(k * 3_600_000_000 + 7)).alias("ts"),
        opt(k % 3 == 0).alias("bo"),
        F.lit(None).cast("string").alias("nul"),
    )


def _agg_oracle(seg, group):
    """{group value -> (recorded stats, row count)}. The timestamp
    bounds are taken as epoch micros and rebuilt as naive UTC datetimes,
    the stored-stat domain, whatever the process time zone."""
    aggs = [F.count(F.lit(1)).alias("__ct")]
    for c in _STAT_COLS:
        col = F.unix_micros(c) if c == "ts" else F.col(c)
        aggs += [
            F.min(col).alias(f"__mn_{c}"),
            F.max(col).alias(f"__mx_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nl_{c}"),
        ]
    out = {}
    for r in seg.groupBy(group.alias("__g")).agg(*aggs).collect():
        d = r.asDict()
        for side in ("mn", "mx"):
            us = d[f"__{side}_ts"]
            if us is not None:
                d[f"__{side}_ts"] = _EPOCH + dt.timedelta(microseconds=us)
        bounds = {
            c: (d[f"__mn_{c}"], d[f"__mx_{c}"], d[f"__nl_{c}"])
            for c in _STAT_COLS
        }
        out[d["__g"]] = (mf._row_col_stats(bounds), d["__ct"])
    return out


def test_footer_stats_match_the_agg_job(spark, tmp_path, monkeypatch):
    seg_abs = str(tmp_path / "seg")
    jconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = jconf.get("parquet.block.size")
    # several tasks, several files per bucket, and row groups of ~100
    # rows (parquet-java's first block-size check) in the 150-row files
    jconf.set("parquet.block.size", "1")
    monkeypatch.setattr(mf, "_MAX_ROWS_PER_FILE", 150)
    try:
        mf._write_segment(_typed_rows(spark).repartition(3), seg_abs)
    finally:
        if old_block is None:
            jconf.unset("parquet.block.size")
        else:
            jconf.set("parquet.block.size", old_block)
    files = {}
    for e in sorted(os.listdir(seg_abs)):
        if e.startswith("pk_bucket="):
            d = os.path.join(seg_abs, e)
            files[e.split("=", 1)[1]] = sorted(
                fn for fn in os.listdir(d) if fn.endswith(".parquet")
            )
    paths = [
        os.path.join(seg_abs, f"pk_bucket={b}", fn)
        for b, fns in files.items()
        for fn in fns
    ]
    assert all(len(fns) > 1 for fns in files.values())
    assert max(pq.read_metadata(p).num_row_groups for p in paths) > 1

    got = mf._read_footers(seg_abs, _STAT_COLS)
    seg = spark.read.parquet(seg_abs)

    by_bucket = _agg_oracle(seg, F.col("pk_bucket"))
    assert got.stats == {str(b): st for b, (st, _) in by_bucket.items()}
    assert got.row_counts == {str(b): n for b, (_, n) in by_bucket.items()}
    # the edge cases really are edge cases: NaN and >64-char bounds are
    # omitted, all-null and signed-zero bounds are kept
    assert "d" not in got.stats["0"] and "d" not in got.stats["1"]
    assert got.stats["2"]["d"][:2] == [0.0, 0.0]
    assert "s_long" not in got.stats["3"] and "s_long" in got.stats["4"]
    assert all(st["nul"][:2] == [None, None] for st in got.stats.values())

    by_file = _agg_oracle(seg, F.input_file_name())
    want_files: dict[str, dict] = {}
    for path, (st, _) in by_file.items():
        b = os.path.basename(os.path.dirname(path)).split("=", 1)[1]
        want_files.setdefault(b, {})[os.path.basename(path)] = st
    assert got.file_stats == want_files
    # complete: every data file of every bucket has an entry
    assert {b: sorted(v) for b, v in got.file_stats.items()} == files
    assert got.files_written == len(paths)
    assert got.bytes_written == sum(os.path.getsize(p) for p in paths)


def _rows(spark, lo: int, hi: int, parts: int = 12):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.timestamp_micros(F.col("id") * 60_000_000).alias("ts"),
        )
        .repartition(parts)
    )


def _data_files(table: str) -> dict[str, list[str]]:
    m = mf.read_manifest(table)
    return {
        b: sorted(
            fn
            for fn in os.listdir(os.path.join(table, d))
            if fn.endswith(".parquet")
        )
        for b, d in m["buckets"].items()
    }


def test_upsert_writes_one_file_per_touched_bucket(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.manifest_upsert(
        spark, table, _rows(spark, 0, 600), ["k"], n_buckets=8
    )
    assert [len(v) for v in _data_files(table).values()] == [1] * 8
    before = mf.read_manifest(table)["buckets"]
    # a narrow 12-partition upsert: each touched bucket, one new file
    mf.manifest_upsert(spark, table, _rows(spark, 0, 3), ["k"])
    m = mf.read_manifest(table)
    met = m["op_metrics"]
    touched = {b for b, d in m["buckets"].items() if d != before[b]}
    files = _data_files(table)
    assert met["buckets_written"] == len(touched) >= 1
    assert all(len(files[b]) == 1 for b in touched)
    assert met["files_written"] == len(touched)
    assert met["bytes_written"] == sum(
        os.path.getsize(os.path.join(table, m["buckets"][b], files[b][0]))
        for b in touched
    )
    assert met["rows_written"] == sum(m["row_counts"][b] for b in touched)


def test_bucket_past_the_row_cap_splits_and_stats_cover_it(
    spark, tmp_path, monkeypatch
):
    table = str(tmp_path / "t")
    monkeypatch.setattr(mf, "_MAX_ROWS_PER_FILE", 25)
    mf.manifest_upsert(
        spark, table, _rows(spark, 0, 200), ["k"], n_buckets=2
    )
    files = _data_files(table)
    m = mf.read_manifest(table)
    assert m["op_metrics"]["files_written"] == sum(map(len, files.values()))
    got = {
        b: sorted(r.k for r in rows)
        for b, rows in _by_bucket(spark, table).items()
    }
    for b, fns in files.items():
        assert len(fns) >= len(got[b]) // 25 > 1
        assert m["row_counts"][b] == len(got[b])
        assert m["stats"][b]["k"] == [min(got[b]), max(got[b]), 0]
        assert m["stats"][b]["v"] == [2 * min(got[b]), 2 * max(got[b]), 0]


def _by_bucket(spark, table):
    m = mf.read_manifest(table)
    out = {}
    for b, d in m["buckets"].items():
        out[b] = spark.read.parquet(os.path.join(table, d)).collect()
    return out


def test_int96_segments_still_read_and_prune(
    spark, tmp_path, monkeypatch
):
    """A table whose first commit stored INT96 timestamps (no footer
    bounds) keeps working once later commits write INT64 micros — and
    they do even on a session left at Spark's INT96 default, which the
    commit hands back unchanged."""
    table = str(tmp_path / "t")
    with monkeypatch.context() as m:
        m.setattr(mf, "_SEGMENT_TS_TYPE", "INT96")  # an older writer
        mf.manifest_upsert(
            spark, table, _rows(spark, 0, 400), ["k"], n_buckets=8
        )
    first = mf.read_manifest(table)
    b0, (f0, *_) = next(iter(_data_files(table).items()))
    md = pq.read_metadata(os.path.join(table, first["buckets"][b0], f0))
    ts_col = md.schema.names.index("ts")
    assert md.schema.column(ts_col).physical_type == "INT96"
    assert all("ts" not in st for st in first["stats"].values())
    # rewrite some buckets from an INT96 session: their new segment
    # still carries INT64 + bounds, and the session keeps its encoding
    key = mf._TS_TYPE_CONF
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        mf.manifest_upsert(spark, table, _rows(spark, 0, 3), ["k"])
        assert spark.conf.get(key) == "INT96"
    finally:
        spark.conf.set(key, prev)
    m = mf.read_manifest(table)
    rewritten = {
        b for b, d in m["buckets"].items() if d != first["buckets"][b]
    }
    assert rewritten and rewritten != set(m["buckets"])
    assert all("ts" in m["stats"][b] for b in rewritten)
    carried = set(m["buckets"]) - rewritten
    assert all("ts" not in m["stats"][b] for b in carried)
    full = mf.read_manifest_table(spark, table).select(
        "k", "v", F.unix_micros("ts").alias("us")
    )
    assert sorted(tuple(r) for r in full.collect()) == [
        (k, 2 * k, k * 60_000_000) for k in range(400)
    ]
    # skips on ts stay exact; INT64 buckets prune on their bounds while
    # INT96 buckets (no bounds) are always opened
    cut = _EPOCH + dt.timedelta(minutes=300)
    got = mf.read_manifest_table(spark, table, skip=[("ts", ">=", cut)])
    assert sorted(r.k for r in got.collect()) == list(range(300, 400))
    none = mf.read_manifest_table(spark, table, skip=[("ts", "<", _EPOCH)])
    assert none.count() == 0
    opened = {os.path.dirname(urlparse(p).path) for p in none.inputFiles()}
    assert opened == {os.path.join(table, m["buckets"][b]) for b in carried}


def test_upsert_runs_no_spark_job_after_the_segment_write(
    spark, tmp_path, monkeypatch
):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None))

    marks: list[set[int]] = []
    real = mf._write_segment

    def write_then_mark(df, path):
        real(df, path)
        marks.append(jobs())

    monkeypatch.setattr(mf, "_write_segment", write_then_mark)
    table = str(tmp_path / "t")
    # every data commit shares the segment-write step: an upsert that
    # creates, one that rewrites, a bucket compaction, a plain and a
    # clustered optimize
    ops = [
        lambda: mf.manifest_upsert(
            spark, table, _rows(spark, 0, 300), ["k"], n_buckets=4
        ),
        lambda: mf.manifest_upsert(
            spark, table, _rows(spark, 100, 150), ["k"], n_buckets=4
        ),
        lambda: mf.compact_buckets(spark, table, bucket_ids=[0, 1]),
        lambda: mf.optimize_table(spark, table),
        lambda: mf.optimize_table(spark, table, cluster_by=["v", "ts"]),
    ]
    for op in ops:
        n_marks = len(marks)
        op()
        assert len(marks) == n_marks + 1
        assert jobs() == marks[-1]
    assert mf.read_manifest_table(spark, table).count() == 300
