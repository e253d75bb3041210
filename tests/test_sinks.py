"""Sink tests: the manifest-table upsert contract the streaming sinks
rely on (redelivery safety, key-wise overwrite, retry and fencing
around the segment write), DLQ append + redrive filter, the
day-partitioned layout, and the writer lease + fencing protocol."""

from __future__ import annotations

from pyspark.sql import functions as F

import os

import pytest

from trail_condition_etl_spark import plans
from trail_condition_etl_spark.sinks import dlq, lease, manifest, partitioned


def _facts(spark, rows):
    return spark.createDataFrame(
        rows, "city_id INT, timestamp_utc STRING, temperature_deg_c DOUBLE"
    )


def _state(spark, path):
    return sorted(
        (r.city_id, r.timestamp_utc, r.temperature_deg_c)
        for r in manifest.read_manifest_table(spark, path).collect()
    )


def _no_sleep_retries(monkeypatch):
    """Keep the commit retry envelope but skip its backoff sleeps."""
    real = manifest.retry_with_backoff
    monkeypatch.setattr(
        manifest,
        "retry_with_backoff",
        lambda fn, **kw: real(fn, sleep=lambda _s: None, **kw),
    )


class TestUpsert:
    def test_create_then_idempotent_redelivery(self, spark, tmp_path):
        path = str(tmp_path / "weather")
        batch = _facts(spark, [(1, "2024-01-01", 5.0), (2, "2024-01-01", 7.0)])
        keys = ["city_id", "timestamp_utc"]
        manifest.manifest_upsert(spark, path, batch, keys)
        first = _state(spark, path)
        # redelivery of the identical batch (at-least-once) -> same state
        manifest.manifest_upsert(spark, path, batch, keys)
        assert _state(spark, path) == first
        assert len(first) == 2

    def test_update_wins_and_insert_coexists(self, spark, tmp_path):
        path = str(tmp_path / "weather")
        keys = ["city_id", "timestamp_utc"]
        manifest.manifest_upsert(
            spark, path, _facts(spark, [(1, "2024-01-01", 5.0)]), keys
        )
        manifest.manifest_upsert(
            spark,
            path,
            _facts(spark, [(1, "2024-01-01", 9.9), (3, "2024-01-02", 1.1)]),
            keys,
        )
        assert _state(spark, path) == [
            (1, "2024-01-01", 9.9),
            (3, "2024-01-02", 1.1),
        ]

    def test_untouched_keys_survive(self, spark, tmp_path):
        path = str(tmp_path / "weather")
        keys = ["city_id", "timestamp_utc"]
        manifest.manifest_upsert(
            spark,
            path,
            _facts(spark, [(i, "2024-01-01", float(i)) for i in range(20)]),
            keys,
        )
        manifest.manifest_upsert(
            spark, path, _facts(spark, [(5, "2024-01-01", -1.0)]), keys
        )
        state = dict(
            ((c, t), v) for c, t, v in _state(spark, path)
        )
        assert state[(5, "2024-01-01")] == -1.0
        assert len(state) == 20
        assert state[(7, "2024-01-01")] == 7.0

    def test_within_batch_duplicates_collapse(self, spark, tmp_path):
        path = str(tmp_path / "weather")
        keys = ["city_id", "timestamp_utc"]
        manifest.manifest_upsert(
            spark,
            path,
            _facts(spark, [(1, "2024-01-01", 5.0), (1, "2024-01-01", 5.0)]),
            keys,
        )
        assert len(_state(spark, path)) == 1


class TestRetry:
    def test_backoff_schedule_and_success(self):
        calls, delays = [], []
        def flaky():
            calls.append(1)
            if len(calls) < 3:
                raise OSError("transient fs error")
            return "ok"
        out = lease.retry_with_backoff(flaky, sleep=delays.append)
        assert out == "ok"
        assert len(calls) == 3
        assert delays == [0.5, 1.0]  # exponential, no sleep after success

    def test_exhausted_reraises(self):
        delays = []
        def always():
            raise OSError("down")
        try:
            lease.retry_with_backoff(always, sleep=delays.append)
            raise AssertionError("should have raised")
        except OSError:
            pass
        assert delays == [0.5, 1.0]  # no sleep after the final attempt

    def test_transient_commit_failure_leaves_table_consistent(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit whose segment write fails twice must (a) retry and
        land the update, (b) never expose a partial table to readers
        between attempts (a failed attempt publishes no manifest)."""
        path = str(tmp_path / "weather")
        keys = ["city_id", "timestamp_utc"]
        manifest.manifest_upsert(
            spark,
            path,
            _facts(spark, [(i, "2024-01-01", float(i)) for i in range(10)]),
            keys,
        )
        before = _state(spark, path)
        real_write = manifest._write_segment
        fails = {"n": 0}
        observed_states = []
        def flaky_write(df, seg_abs):
            if fails["n"] < 2:
                fails["n"] += 1
                # table must still be in its pre-commit state when the
                # write attempt starts
                observed_states.append(_state(spark, path))
                raise OSError("simulated transient fs failure")
            real_write(df, seg_abs)
        monkeypatch.setattr(manifest, "_write_segment", flaky_write)
        _no_sleep_retries(monkeypatch)
        manifest.manifest_upsert(
            spark, path, _facts(spark, [(5, "2024-01-01", -1.0)]), keys
        )
        assert fails["n"] == 2
        assert observed_states == [before, before]
        state = dict(((c, t), v) for c, t, v in _state(spark, path))
        assert state[(5, "2024-01-01")] == -1.0
        assert len(state) == 10
        # the failed attempts published nothing: one version per commit
        assert manifest.list_versions(path) == [1, 2]

    def test_crash_mid_bucket_swap_stays_consistent_and_converges(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash partway through a segment write: the first attempt
        writes only SOME touched buckets, then dies. Readers between
        attempts must see exactly the pre-commit table (the partial
        segment is referenced by no manifest), the retry must converge
        to the exact post-commit table, and vacuum reclaims the orphan
        without touching live data."""
        path = str(tmp_path / "weather")
        keys = ["city_id", "timestamp_utc"]
        manifest.manifest_upsert(
            spark,
            path,
            _facts(spark, [(i, "2024-01-01", float(i)) for i in range(40)]),
            keys,
        )
        pre = _state(spark, path)
        updates = _facts(
            spark, [(i, "2024-01-01", -float(i) - 1.0) for i in range(40)]
        )
        post = {(i, "2024-01-01"): -float(i) - 1.0 for i in range(40)}
        real_write = manifest._write_segment
        crash = {"done": False}
        mid_states = []

        def partial_then_crash(df, seg_abs):
            if crash["done"]:
                real_write(df, seg_abs)
                return
            crash["done"] = True
            buckets = sorted(
                r.pk_bucket for r in df.select("pk_bucket").distinct().collect()
            )
            half = set(buckets[: len(buckets) // 2])
            # write HALF the touched buckets, then die — the state a job
            # killed mid-write leaves behind
            real_write(df.filter(F.col("pk_bucket").isin(half)), seg_abs)
            mid_states.append(_state(spark, path))
            raise OSError("simulated crash mid segment write")

        monkeypatch.setattr(manifest, "_write_segment", partial_then_crash)
        _no_sleep_retries(monkeypatch)
        manifest.manifest_upsert(spark, path, updates, keys)
        assert mid_states == [pre]
        assert dict(((c, t), v) for c, t, v in _state(spark, path)) == post
        monkeypatch.undo()
        assert manifest.vacuum(path) >= 1
        assert dict(((c, t), v) for c, t, v in _state(spark, path)) == post


class TestDlq:
    def test_append_and_redrive_filter(self, spark, tmp_path):
        path = str(tmp_path / "dlq")
        rejects = spark.createDataFrame(
            [
                (1, "{bad", ("MalformedPayloadError", "nope", None, False)),
                (2, "{}", ("CircuitBreakerError", "open", None, True)),
            ],
            "city_id INT, raw_payload STRING, "
            "error STRUCT<exception_type STRING, message STRING, "
            "traceback STRING, safe_to_retry BOOLEAN>",
        )
        dlq.append_dlq(spark, path, rejects)
        dlq.append_dlq(spark, path, rejects)  # appends accumulate
        all_rows = spark.read.parquet(path)
        assert all_rows.count() == 4
        redrive = dlq.redrive_candidates(spark, path)
        assert redrive.count() == 2
        assert {r.error.exception_type for r in redrive.collect()} == {
            "CircuitBreakerError"
        }

    def _rejects(self, spark, ids, retryable=True):
        return spark.createDataFrame(
            [
                (i, "{}", ("CircuitBreakerError", "open", None, retryable))
                for i in ids
            ],
            "city_id INT, raw_payload STRING, "
            "error STRUCT<exception_type STRING, message STRING, "
            "traceback STRING, safe_to_retry BOOLEAN>",
        )

    def test_trim_caps_rows_and_redrive_survives(self, spark, tmp_path):
        path = str(tmp_path / "dlq")
        for batch in range(4):
            dlq.append_dlq(
                spark, path, self._rejects(spark, range(batch * 5, batch * 5 + 5))
            )
        assert spark.read.parquet(path).count() == 20
        kept = dlq.trim_dlq(spark, path, max_rows=8)
        assert kept == 8
        assert spark.read.parquet(path).count() == 8
        # redrive-after-compaction: the surviving entries still route
        assert dlq.redrive_candidates(spark, path).count() == 8

    def test_trim_by_age_drops_expired(self, spark, tmp_path):
        path = str(tmp_path / "dlq")
        dlq.append_dlq(spark, path, self._rejects(spark, range(6)))
        # anchor far in the future: everything is expired
        kept = dlq.trim_dlq(
            spark, path, max_age_s=3600, now="2099-01-01 00:00:00"
        )
        assert kept == 0
        assert spark.read.parquet(path).count() == 0
        # the path still works for future appends after full expiry
        dlq.append_dlq(spark, path, self._rejects(spark, range(3)))
        assert spark.read.parquet(path).count() == 3


class TestDayPartitioned:
    def _days(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_date STRING, event_type STRING, user_id LONG, value DOUBLE"
        )

    def _state(self, spark, path):
        # the partition column round-trips as DATE (partition-value
        # type inference); normalize to the string form for comparison
        return sorted(
            (str(r.event_date), r.event_type, r.user_id, r.value)
            for r in spark.read.parquet(path).collect()
        )

    def test_backfill_overwrites_only_carried_days(self, spark, tmp_path):
        path = str(tmp_path / "by_day")
        full = self._days(
            spark,
            [
                ("2024-01-01", "view", 1, 1.0),
                ("2024-01-02", "view", 2, 2.0),
                ("2024-01-03", "view", 3, 3.0),
            ],
        )
        partitioned.write_day_partitioned(full, path)
        before = self._state(spark, path)
        # re-backfill ONLY day 2 with corrected rows: days 1/3 untouched
        fix = self._days(spark, [("2024-01-02", "purchase", 9, 9.0)])
        partitioned.write_day_partitioned(fix, path)
        after = self._state(spark, path)
        assert ("2024-01-02", "purchase", 9, 9.0) in after
        assert ("2024-01-02", "view", 2, 2.0) not in after
        assert [r for r in before if r[0] != "2024-01-02"] == [
            r for r in after if r[0] != "2024-01-02"
        ]
        # idempotent: the same backfill twice is byte-identical state
        partitioned.write_day_partitioned(fix, path)
        assert self._state(spark, path) == after

    def test_day_range_read_prunes_and_filters(self, spark, tmp_path):
        path = str(tmp_path / "by_day")
        partitioned.write_day_partitioned(
            self._days(
                spark,
                [(f"2024-01-{d:02d}", "view", d, float(d)) for d in range(1, 11)],
            ),
            path,
        )
        week = partitioned.read_day_range(spark, path, "2024-01-03", "2024-01-05")
        assert plans.has_partition_filters(week)
        assert sorted(str(r.event_date) for r in week.collect()) == [
            "2024-01-03",
            "2024-01-04",
            "2024-01-05",
        ]

    def test_compaction_shrinks_files_and_preserves_content(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "by_day")
        frag = self._days(
            spark,
            [
                (f"2024-01-{d:02d}", "view", u, float(u))
                for d in (1, 2)
                for u in range(40)
            ],
        ).repartition(8)
        partitioned.write_day_partitioned(frag, path)
        n_before = sum(
            1
            for _root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        before = self._state(spark, path)
        n_after = partitioned.compact_day_partitions(spark, path)
        assert n_after < n_before
        assert n_after == 2  # one file per day
        assert self._state(spark, path) == before

    def test_incremental_rollup_processes_only_new_days(self, spark, tmp_path):
        src = str(tmp_path / "src")
        agg = str(tmp_path / "agg")
        wave1 = self._days(
            spark,
            [("2024-01-01", "view", 1, 1.0), ("2024-01-02", "view", 2, 2.0)],
        )
        partitioned.write_day_partitioned(wave1, src)
        assert partitioned.rollup_new_days(spark, src, agg) == 2
        # nothing new -> no work, table unchanged
        before = self._rollup_state(spark, agg)
        assert partitioned.rollup_new_days(spark, src, agg) == 0
        assert self._rollup_state(spark, agg) == before
        # a third day arrives -> exactly one day processed, old days kept
        partitioned.write_day_partitioned(
            self._days(spark, [("2024-01-03", "purchase", 3, 3.0)]), src
        )
        assert partitioned.rollup_new_days(spark, src, agg) == 1
        after = self._rollup_state(spark, agg)
        assert [r for r in after if r[0] != "2024-01-03"] == before
        assert ("2024-01-03", "purchase", 1, 1, 3.0) in after

    def _rollup_state(self, spark, path):
        return sorted(
            (str(r.event_date), r.event_type, r.n_events, r.n_users, r.value_sum)
            for r in spark.read.parquet(path).collect()
        )


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, _deleted boolean")


def _kv_state(spark, path):
    return {r.k: r.v for r in manifest.read_manifest_table(spark, path).collect()}


def test_upsert_with_deletes_tombstone_beats_upsert_same_key(spark, tmp_path):
    """A key both upserted and tombstoned in one batch ends deleted."""
    path = str(tmp_path / "cdc_table2")
    manifest.manifest_upsert(
        spark, path, _kv(spark, [(1, "a", False)]), ["k"],
        n_buckets=4, tombstone_col="_deleted",
    )
    both = _kv(spark, [(1, "a2", False), (1, None, True)])
    manifest.manifest_upsert(
        spark, path, both, ["k"], tombstone_col="_deleted"
    )
    assert manifest.read_manifest_table(spark, path).count() == 0


def test_upsert_insert_after_delete_all_rebuilds_clean_layout(
    spark, tmp_path
):
    """Delete-all leaves a version with no buckets; the NEXT upserts
    must land on it as on any table, schema intact."""
    path = str(tmp_path / "cdc_table3")

    def merge(rows):
        manifest.manifest_upsert(
            spark, path, _kv(spark, rows), ["k"],
            n_buckets=4, tombstone_col="_deleted",
        )

    merge([(1, "a", False), (2, "b", False)])
    merge([(1, None, True), (2, None, True)])  # delete everything
    empty = manifest.read_manifest_table(spark, path)
    assert empty.columns == ["k", "v"] and empty.count() == 0
    # insert again: only the new rows read back
    merge([(2, "b2", False), (5, "e", False)])
    assert _kv_state(spark, path) == {2: "b2", 5: "e"}
    # and a further incremental merge over the rebuilt table still works
    merge([(5, None, True), (6, "f", False)])
    assert _kv_state(spark, path) == {2: "b2", 6: "f"}


# ---------------------------------------------------------------------------
# concurrent-writer lease + fencing protocol
# ---------------------------------------------------------------------------


def test_lease_tokens_increase_and_commit_records_last(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    manifest.manifest_upsert(spark, table, df, ["k"])
    first = lease.last_committed_token(table)
    manifest.manifest_upsert(
        spark, table, spark.createDataFrame([(2, "b")], "k int, v string"), ["k"]
    )
    assert first is not None and lease.last_committed_token(table) == first + 1
    # lease is released after each commit
    assert not os.path.exists(lease._lock_dir(table))


def test_contending_writer_times_out_while_lease_held(tmp_path):
    table = str(tmp_path / "t")
    lease.acquire_table_lease(table)
    try:
        with pytest.raises(TimeoutError):
            lease.acquire_table_lease(table, wait_s=0.2, sleep=lambda s: None)
    finally:
        lease.release_table_lease(table)


def test_expired_lease_is_stolen_and_stale_writer_is_fenced(tmp_path):
    """Crash recovery + last-writer-wins detection: writer A acquires
    and 'crashes' (lease expires); writer B steals the claim, commits;
    A's late commit must raise WriterFencedError, not clobber B."""
    import time

    table = str(tmp_path / "t")
    token_a = lease.acquire_table_lease(table)
    # age the claim past the TTL (simulated crash of writer A)
    lock = lease._lock_dir(table)
    old = time.time() - 2 * lease.LOCK_LEASE_TTL_S
    os.utime(lock, (old, old))
    token_b = lease.acquire_table_lease(table)  # steals, no timeout
    assert token_b == token_a + 1
    lease.record_commit(table, token_b)
    lease.release_table_lease(table)
    with pytest.raises(lease.WriterFencedError):
        lease.record_commit(table, token_a)
    assert lease.last_committed_token(table) == token_b


def test_serialized_writers_converge(spark, tmp_path):
    """Two writers upserting overlapping keys through the lease end with
    the union, the later writer winning the shared key."""
    table = str(tmp_path / "t")
    manifest.manifest_upsert(
        spark,
        table,
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        ["k"],
    )
    manifest.manifest_upsert(
        spark,
        table,
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"),
        ["k"],
    )
    rows = {
        (r.k, r.v)
        for r in manifest.read_manifest_table(spark, table).collect()
    }
    assert rows == {(1, "a"), (2, "B"), (3, "c")}


def test_racing_writers_serialize_through_lease(tmp_path):
    """Two THREADS race for one table's lease: the lease must serialize
    their critical sections (never both inside at once) and both
    commits must land in token order."""
    import threading

    table = str(tmp_path / "t")
    inside, overlaps, errs = [], [], []

    def write():
        try:
            token = lease.acquire_table_lease(table)
            try:
                inside.append(token)
                if len(inside) > 1:
                    overlaps.append(list(inside))
                lease.check_fence(table, token)
                lease.record_commit(table, token)
                inside.remove(token)
            finally:
                lease.release_table_lease(table, token)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=write) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert not overlaps, overlaps
    assert lease.last_committed_token(table) == 2


def test_stale_writer_cannot_release_thiefs_lock(tmp_path):
    """Ownership-checked release: writer A (lease stolen) must not
    delete writer B's lock — otherwise a third writer C could acquire
    and interleave with B."""
    import time

    table = str(tmp_path / "t")
    token_a = lease.acquire_table_lease(table)
    lock = lease._lock_dir(table)
    old = time.time() - 2 * lease.LOCK_LEASE_TTL_S
    os.utime(lock, (old, old))
    token_b = lease.acquire_table_lease(table)  # B steals
    lease.release_table_lease(table, token_a)  # A's release is a no-op
    assert os.path.isdir(lock)
    with pytest.raises(TimeoutError):  # C cannot sneak in past B's lock
        lease.acquire_table_lease(table, wait_s=0.1, sleep=lambda s: None)
    lease.release_table_lease(table, token_b)  # B's own release works
    assert not os.path.exists(lock)


#: rounds of the expired-lease race; a lost race shows only in some
#: interleavings, so one round is not a gate
_STEAL_ROUNDS = 50


def test_expired_lease_steal_has_single_winner(tmp_path):
    """N contenders racing one expired lease: the steal claims only the
    lock incarnation each contender judged stale, so exactly ONE wins;
    the rest observe a live fresh lock and time out rather than
    double-holding. Runs entirely on a FAKE clock (VERDICT r9 directive
    5): the crashed holder is forged with no heartbeat, `now` is frozen
    so only the backdated lock ever looks expired, and the contenders'
    deadline ticks on a shared fake monotonic — zero sleeps. More
    contenders than cores and a short thread switch interval widen the
    interleavings each round explores."""
    import sys

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for rnd in range(_STEAL_ROUNDS):
            _race_expired_lease(str(tmp_path / f"t{rnd}"))
    finally:
        sys.setswitchinterval(switch)


def _race_expired_lease(table: str) -> None:
    import threading

    lock = lease._lock_dir(table)
    # forge what a crashed writer leaves: lock dir + owner stamp, NO
    # heartbeat thread (a live acquire_table_lease would keep
    # refreshing the mtime we are about to backdate)
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    os.mkdir(lock)
    with open(os.path.join(lock, "owner"), "w") as f:
        f.write("0")
    NOW0 = 1_000_000.0  # frozen "wall clock" the contenders see
    old = NOW0 - 2 * lease.LOCK_LEASE_TTL_S
    os.utime(lock, (old, old))

    tick_lock = threading.Lock()
    ticks = [0.0]

    def fake_monotonic() -> float:
        with tick_lock:
            ticks[0] += 0.001
            return ticks[0]

    wins, losses = [], []

    def contend():
        try:
            wins.append(
                lease.acquire_table_lease(
                    table,
                    wait_s=1.0,
                    sleep=lambda s: None,
                    # frozen: the winner's FRESH lock has a real (much
                    # later) mtime, so its age is negative and the
                    # losers can never steal it — they exhaust the
                    # fake-monotonic deadline instead
                    now=lambda: NOW0,
                    monotonic=fake_monotonic,
                )
            )
        except TimeoutError:
            losses.append(1)

    threads = [threading.Thread(target=contend) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert len(wins) == 1 and len(losses) == 7
    assert lease._lease_owner(table) == str(wins[0])
    # the winner's heartbeat is live; release to stop it
    lease.release_table_lease(table, wins[0])


def test_crashed_stealer_marker_does_not_wedge_the_lease(tmp_path):
    """A stealer that died after claiming (its `steal.<gen>` marker is
    left inside the expired lock) blocks other stealers only while the
    marker is younger than the TTL; after that the next generation is
    claimed and the lease is stolen."""
    import time

    table = str(tmp_path / "t")
    lock = lease._lock_dir(table)
    os.mkdir(lock)
    marker = os.path.join(lock, "steal.0")
    open(marker, "w").close()
    old = time.time() - 2 * lease.LOCK_LEASE_TTL_S
    os.utime(lock, (old, old))
    # marker still fresh: a live steal is in progress, so wait it out
    with pytest.raises(TimeoutError):
        lease.acquire_table_lease(table, wait_s=0.1, sleep=lambda s: None)
    os.utime(marker, (old, old))
    os.utime(lock, (old, old))
    token = lease.acquire_table_lease(table, wait_s=0.1, sleep=lambda s: None)
    assert lease._lease_owner(table) == str(token)
    assert not os.path.exists(marker)  # the stale incarnation is gone
    lease.release_table_lease(table, token)


def test_fenced_writer_aborts_before_destructive_write(spark, tmp_path, monkeypatch):
    """The fence is checked BEFORE each attempt's write: a writer whose
    token is older than the last commit must abort without writing any
    segment at all."""
    table = str(tmp_path / "t")
    manifest.manifest_upsert(
        spark, table, spark.createDataFrame([(1, "a")], "k int, v string"), ["k"]
    )
    segments = set(os.listdir(os.path.join(table, "data")))
    # a newer writer committed out-of-band (simulates the stolen-lease
    # interleaving: our next token will be older than this commit)
    lease.record_commit(table, 99)
    writes = []
    monkeypatch.setattr(
        manifest, "_write_segment", lambda df, p: writes.append(p)
    )
    with pytest.raises(lease.WriterFencedError):
        manifest.manifest_upsert(
            spark,
            table,
            spark.createDataFrame([(2, "b")], "k int, v string"),
            ["k"],
        )
    assert writes == []  # aborted pre-write
    assert set(os.listdir(os.path.join(table, "data"))) == segments
    rows = manifest.read_manifest_table(spark, table).collect()
    assert {r.k for r in rows} == {1}
    # and the fencing abort was NOT retried into more attempts
    assert lease.last_committed_token(table) == 99


def test_steal_mid_merge_fences_the_retry(spark, tmp_path, monkeypatch):
    """End-to-end stolen-lease interleaving: writer A's segment write
    fails mid-flight while writer B steals the expired lease, completes
    a full commit and records it. A's RETRY must hit the pre-write fence
    check and abort with WriterFencedError — never publishing over B —
    and the final table is exactly B's outcome."""
    import time

    table = str(tmp_path / "t")
    manifest.manifest_upsert(
        spark, table, spark.createDataFrame([(0, "seed")], "k int, v string"), ["k"]
    )
    real_write = manifest._write_segment
    state = {"stolen": False}

    def hijack(df, seg_abs):
        if not state["stolen"]:
            state["stolen"] = True
            # age A's lease past TTL and run B's complete commit inline
            lock = lease._lock_dir(table)
            old = time.time() - 2 * lease.LOCK_LEASE_TTL_S
            os.utime(lock, (old, old))
            manifest.manifest_upsert(
                spark,
                table,
                spark.createDataFrame([(2, "from_b")], "k int, v string"),
                ["k"],
            )
            raise IOError("A's write died under the concurrent commit")
        real_write(df, seg_abs)

    monkeypatch.setattr(manifest, "_write_segment", hijack)
    _no_sleep_retries(monkeypatch)
    with pytest.raises(lease.WriterFencedError):
        manifest.manifest_upsert(
            spark,
            table,
            spark.createDataFrame([(1, "from_a")], "k int, v string"),
            ["k"],
        )
    rows = {
        (r.k, r.v) for r in manifest.read_manifest_table(spark, table).collect()
    }
    assert rows == {(0, "seed"), (2, "from_b")}  # A never published
    # tokens: seed=1, A=2 (fenced), B=3 (committed); versions: seed, B
    assert lease.last_committed_token(table) == 3
    assert manifest.list_versions(table) == [1, 2]


def test_ownership_check_fences_before_thief_commits(tmp_path):
    """check_fence detects a stolen lease from the lock's OWNER token
    alone — the stale writer aborts pre-write even when the thief has
    not committed yet (earlier than commit-token fencing can catch)."""
    import time

    table = str(tmp_path / "t")
    token_a = lease.acquire_table_lease(table)
    lock = lease._lock_dir(table)
    old = time.time() - 2 * lease.LOCK_LEASE_TTL_S
    os.utime(lock, (old, old))
    token_b = lease.acquire_table_lease(table)  # B steals, commits NOTHING
    lease.check_fence(table, token_b)  # B itself is fine
    with pytest.raises(lease.WriterFencedError):
        lease.check_fence(table, token_a)  # A is fenced by ownership alone
    lease.release_table_lease(table, token_b)


def test_marker_files_are_written_atomically(tmp_path):
    """fence/commit markers go through temp + os.replace: after any
    number of commits no .tmp litter remains and both files parse."""
    table = str(tmp_path / "t")
    for _ in range(3):
        token = lease.acquire_table_lease(table)
        lease.record_commit(table, token)
        lease.release_table_lease(table, token)
    parent = os.path.dirname(lease._fence_path(table))
    assert not [e for e in os.listdir(parent) if ".tmp." in e]
    assert lease.last_committed_token(table) == 3


def test_live_slow_holder_heartbeats_and_is_not_stolen(tmp_path):
    """ADVICE r4 (medium): a healthy writer whose merge outlives the
    lease TTL heartbeats the lock's mtime, so a contender sees a fresh
    lease and times out instead of stealing from a live holder. Once
    released, the next acquire succeeds immediately."""
    import time

    table = str(tmp_path / "t")
    token_a = lease.acquire_table_lease(table, ttl_s=1.0)
    try:
        time.sleep(2.5)  # far past the TTL; heartbeat refreshes at ttl/4
        with pytest.raises(TimeoutError):
            lease.acquire_table_lease(table, ttl_s=1.0, wait_s=0.6)
    finally:
        lease.release_table_lease(table, token_a)
    token_b = lease.acquire_table_lease(table, ttl_s=1.0)
    assert token_b == token_a + 1
    lease.release_table_lease(table, token_b)


def test_heartbeat_never_refreshes_a_foreign_lock(tmp_path):
    """The heartbeat checks ownership before each touch: a thread whose
    token no longer matches the lock's owner (lease stolen) must stop
    without touching — otherwise a loser would keep a thief's lock
    fresh forever."""
    import time

    table = str(tmp_path / "t")
    lock = lease._lock_dir(table)
    os.mkdir(lock)
    lease._atomic_write_text(os.path.join(lock, "owner"), "8")
    old = time.time() - 100.0
    os.utime(lock, (old, old))
    lease._start_lease_heartbeat(table, 7, ttl_s=1.0)  # 0.25s interval
    time.sleep(1.0)
    # several intervals elapsed; the foreign-owned lock was never touched
    assert os.stat(lock).st_mtime == pytest.approx(old, abs=1.0)
    lease._stop_lease_heartbeat(table, 7)


def test_steal_surfaces_stolen_owner_and_heartbeat_age(tmp_path, caplog):
    """VERDICT r5 directive 7: a steal (incl. vacuum's, which acquires
    through the same path) logs WHOSE token was displaced and how stale
    its last heartbeat was, so operators can tell crashed-holder cleanup
    from a clock problem."""
    import logging
    import time

    from trail_condition_etl_spark.sinks import manifest as mf

    table = str(tmp_path / "t")
    token_a = lease.acquire_table_lease(table)
    lease._stop_lease_heartbeat(table, token_a)  # simulate holder death
    lock = lease._lock_dir(table)
    old = time.time() - 2 * lease.LOCK_LEASE_TTL_S
    os.utime(lock, (old, old))
    with caplog.at_level(logging.WARNING, logger=lease.__name__):
        mf.vacuum(table, keep_last=1)  # steals the expired lease
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        f"from token {token_a}" in m and "last heartbeat" in m for m in msgs
    ), msgs


def test_heartbeat_self_exit_clears_registry_entry(tmp_path):
    """ADVICE r5 (low): a heartbeat thread that stops itself on a stolen
    lease must remove its _HEARTBEATS entry rather than leak it until
    release."""
    import time

    table = str(tmp_path / "t")
    lock = lease._lock_dir(table)
    os.mkdir(lock)
    lease._atomic_write_text(os.path.join(lock, "owner"), "99")  # foreign
    lease._start_lease_heartbeat(table, 7, ttl_s=1.0)  # 0.25s interval
    deadline = time.time() + 5.0
    while time.time() < deadline and (table, 7) in lease._HEARTBEATS:
        time.sleep(0.1)
    assert (table, 7) not in lease._HEARTBEATS
