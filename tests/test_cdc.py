"""Incremental CDC reader (streaming/cdc.py): persisted version cursor,
at-least-once replay on apply failure, bootstrap snapshot, and
downstream propagation equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trail_condition_etl_spark.sinks import manifest as mf
from trail_condition_etl_spark.streaming import cdc


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_cursor_advances_and_resumes_across_passes(spark, tmp_path):
    """The directive pin: pass 2 consumes ONLY versions committed after
    pass 1's cursor — not the whole history again."""
    src = str(tmp_path / "src")
    cursor = str(tmp_path / "cursor")
    mf.manifest_upsert(spark, src, _df(spark, [(1, "a"), (2, "b")]), ["k"])
    spans = []

    def apply(changes, frm, to):
        spans.append((frm, to, {(r.k, r.change_type) for r in changes.collect()}))

    assert cdc.consume_table_changes(spark, src, cursor, apply) == (0, 1)
    assert spans[-1] == (0, 1, {(1, "insert"), (2, "insert")})
    assert cdc.read_change_cursor(cursor) == 1
    # nothing new: no apply call, cursor unchanged
    assert cdc.consume_table_changes(spark, src, cursor, apply) == (1, 1)
    assert len(spans) == 1
    # two more commits; the next pass collapses both into one batch
    mf.manifest_upsert(spark, src, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    mf.manifest_upsert(spark, src, _df(spark, [(4, "d")]), ["k"])
    assert cdc.consume_table_changes(spark, src, cursor, apply) == (1, 3)
    assert spans[-1] == (
        1, 3, {(2, "update"), (3, "insert"), (4, "insert")}
    )
    assert cdc.read_change_cursor(cursor) == 3


def test_apply_failure_does_not_advance_cursor(spark, tmp_path):
    """At-least-once: a crash inside apply leaves the cursor pinned, so
    the retry replays the SAME span."""
    src = str(tmp_path / "src")
    cursor = str(tmp_path / "cursor")
    mf.manifest_upsert(spark, src, _df(spark, [(1, "a")]), ["k"])

    def boom(changes, frm, to):
        raise RuntimeError("sink died mid-apply")

    with pytest.raises(RuntimeError):
        cdc.consume_table_changes(spark, src, cursor, boom)
    assert cdc.read_change_cursor(cursor) == 0
    spans = []
    cdc.consume_table_changes(
        spark, src, cursor, lambda c, f, t: spans.append((f, t))
    )
    assert spans == [(0, 1)]


def test_propagate_reconstructs_source_through_deletes(spark, tmp_path):
    """Bootstrap + one incremental pass over updates/inserts/deletes
    leaves the downstream manifest table byte-equal to the source."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    cursor = str(tmp_path / "cursor")
    mf.manifest_upsert(
        spark, src, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), ["k"]
    )
    assert cdc.propagate_changes(spark, src, dst, cursor) == (0, 1)
    changes = spark.createDataFrame(
        [(2, "B2", False), (3, None, True), (4, "d", False)],
        "k int, v string, _deleted boolean",
    )
    mf.manifest_upsert(spark, src, changes, ["k"], tombstone_col="_deleted")
    assert cdc.propagate_changes(spark, src, dst, cursor) == (1, 2)

    def state(table):
        return {
            (r.k, r.v) for r in mf.read_manifest_table(spark, table).collect()
        }

    assert state(dst) == state(src) == {(1, "a"), (2, "B2"), (4, "d")}
    # replaying the same span (cursor rolled back by hand) converges —
    # the idempotence the at-least-once contract relies on
    cdc._write_change_cursor(cursor, 1)
    cdc.propagate_changes(spark, src, dst, cursor)
    assert state(dst) == state(src)


def test_vacuum_refuses_to_sweep_a_live_cursor_version(spark, tmp_path):
    """VERDICT r7 directive 6: the retention contract is enforced, not
    just documented. A cursor registered under `<table>/_cursors/` pins
    its version; vacuum past it raises VacuumRetentionError, and with
    force=True the lagging stream's NEXT pass fails loud with
    FileNotFoundError — never a silently partial diff."""
    src = str(tmp_path / "src")
    cursor = cdc.table_cursor_path(src, "downstream")
    mf.manifest_upsert(spark, src, _df(spark, [(1, "a")]), ["k"])
    seen = []
    cdc.consume_table_changes(
        spark, src, cursor, lambda c, f, t: seen.append((f, t))
    )
    assert cdc.read_change_cursor(cursor) == 1
    # the consumer falls behind: two more commits
    mf.manifest_upsert(spark, src, _df(spark, [(2, "b")]), ["k"])
    mf.manifest_upsert(spark, src, _df(spark, [(3, "c")]), ["k"])
    # keep_last=1 would unlink version 1, which the cursor pins
    with pytest.raises(mf.VacuumRetentionError, match="downstream"):
        mf.vacuum(src, keep_last=1)
    # nothing was swept by the refused call
    assert mf.read_manifest(src, 1) is not None
    # a horizon covering the lag sweeps fine (versions 1..3 kept)
    assert mf.vacuum(src, keep_last=3) >= 0
    assert mf.read_manifest(src, 1) is not None
    # force=True breaks the stream LOUDLY on its next pass
    mf.vacuum(src, keep_last=1, force=True)
    with pytest.raises(FileNotFoundError):
        cdc.consume_table_changes(
            spark, src, cursor, lambda c, f, t: c.count()
        )


def test_vacuum_ignores_bootstrap_and_current_cursors(spark, tmp_path):
    """Cursor 0 (never consumed) pins nothing; a cursor at the latest
    version is covered by any keep_last >= 1 — neither blocks vacuum."""
    src = str(tmp_path / "src")
    mf.manifest_upsert(spark, src, _df(spark, [(1, "a")]), ["k"])
    mf.manifest_upsert(spark, src, _df(spark, [(2, "b")]), ["k"])
    fresh = cdc.table_cursor_path(src, "fresh")
    cdc.consume_table_changes(spark, src, fresh, lambda c, f, t: None)
    # a never-run consumer: registered path exists only after first use,
    # simulate by writing 0 explicitly
    import os

    boot = cdc.table_cursor_path(src, "boot")
    os.makedirs(os.path.dirname(boot), exist_ok=True)
    with open(boot, "w") as fh:
        fh.write("0")
    assert mf.vacuum(src, keep_last=1) >= 0


def test_table_cursor_path_rejects_bad_names():
    with pytest.raises(ValueError):
        cdc.table_cursor_path("/t", "")
    with pytest.raises(ValueError):
        cdc.table_cursor_path("/t", "a/b")
    with pytest.raises(ValueError):
        cdc.table_cursor_path("/t", ".hidden")


def test_table_changes_reads_only_changed_buckets(spark, tmp_path):
    """r11: with the same bucket layout at both span ends, buckets
    carried by reference (same segment dir + same delete files)
    provably contribute no changes — the change-feed planner that
    `table_changes` reads through must plan ONLY the changed buckets'
    files on both sides, O(change) not O(table). Planning runs in a
    Python worker under Spark, so the plan is checked in-process."""
    import os

    from trail_condition_etl_spark.sources import manifest_source as ms

    t = str(tmp_path / "prune")
    base = spark.range(0, 200).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("string").alias("v"),
    )
    mf.manifest_upsert(spark, t, base, ["k"], n_buckets=8)
    mf.manifest_upsert(spark, t, _df(spark, [(7, "CHANGED")]), ["k"])
    m1, m2 = mf.read_manifest(t, 1), mf.read_manifest(t, 2)
    changed_dirs = {
        os.path.join(t, d)
        for ver in (m1, m2)
        for b, d in ver["buckets"].items()
        if m1["buckets"].get(b) != m2["buckets"].get(b)
    }
    schema = ms.cdc_schema(mf._data_schema(m2))
    parts = ms.ManifestCDCStreamReader(schema, {"path": t}).partitions(
        {"version": 1}, {"version": 2}
    )
    read = {f for p in parts for f in p.old_files + p.new_files}
    assert read, "diff read no files but emitted a change"
    for f in read:
        assert os.path.dirname(f) in changed_dirs, f
    rows = {
        (r.k, r.v, r.change_type)
        for r in mf.table_changes(spark, t, 1).collect()
    }
    assert rows == {(7, "CHANGED", "update")}
    # a rescale inside the span disables the pruning but stays exact
    mf.optimize_table(spark, t, n_buckets=6)
    mf.manifest_upsert(spark, t, _df(spark, [(9, "MOVED")]), ["k"])
    rows = {
        (r.k, r.change_type)
        for r in mf.table_changes(spark, t, 1).collect()
    }
    assert rows == {(7, "update"), (9, "update")}


def test_table_changes_registers_the_sources_once_per_session(
    spark, tmp_path, monkeypatch
):
    """`table_changes` reads through the Python data sources; a session
    that already has them does not register them again (each
    re-registration logs a Spark WARN)."""
    from pyspark.sql.datasource import DataSourceRegistration

    src = str(tmp_path / "src")
    mf.manifest_upsert(spark, src, _df(spark, [(1, "a")]), ["k"])
    mf.manifest_upsert(spark, src, _df(spark, [(1, "b"), (2, "c")]), ["k"])

    def changes():
        feed = mf.table_changes(spark, src, 1).collect()
        return {(r.k, r.change_type) for r in feed}

    first = changes()
    assert first == {(1, "update"), (2, "insert")}
    registered = []
    real = DataSourceRegistration.register

    def counting(self, source):
        registered.append(source.name())
        return real(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    assert changes() == first
    assert registered == []
