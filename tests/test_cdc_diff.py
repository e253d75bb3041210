"""Differential test of the change feed: for random commit histories,
every change-feed surface — `table_changes` (plain and with
preimages), the batch `readChangeFeed` read and a collapsed
`manifest_cdc` AvailableNow span — must equal a pure-Python diff of
the two snapshots `read_manifest_table` returns, and replaying the feed
onto the older snapshot must reproduce the newer one.

The model compares values the way the change feed promises to: NaN
equals NaN and null equals null at any nesting depth, -0.0 equals 0.0
(as in Spark's `<=>`), and columns align by identity, so a rename is
no change and a dropped-then-re-added column is a new column."""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from trail_condition_etl_spark.sinks import manifest as mfm
from trail_condition_etl_spark.sources.manifest_source import (
    register_manifest_sources,
)

#: column kind -> Spark DDL type
TYPES = {
    "int": "int",
    "string": "string",
    "double": "double",
    "array": "array<int>",
    "struct": "struct<x:int,y:double>",
    "ts": "timestamp",
}
_T0 = dt.datetime(2026, 3, 1, 6, 0, 0)
_doubles = st.sampled_from([0.0, -0.0, 1.5, math.nan, None])
VALUES = {
    "int": st.one_of(st.none(), st.integers(-2, 2)),
    "string": st.one_of(st.none(), st.sampled_from(["", "a", "b"])),
    "double": _doubles,
    "array": st.one_of(
        st.none(),
        st.lists(st.one_of(st.none(), st.integers(0, 3)), max_size=3),
    ),
    "struct": st.one_of(
        st.none(), st.tuples(st.one_of(st.none(), st.integers(0, 1)), _doubles)
    ),
    "ts": st.one_of(
        st.none(),
        st.sampled_from([_T0, _T0 + dt.timedelta(hours=1, microseconds=7)]),
    ),
}
#: one generated row: a value for every kind, projected onto the
#: table's current columns when the op runs. Keys are never null: the
#: upsert refuses them (test_upsert_refuses_null_merge_keys below).
_row = st.fixed_dictionaries(VALUES)
_rows = st.dictionaries(st.integers(0, 9), _row, min_size=1, max_size=5)
_keys = st.lists(st.integers(0, 9), min_size=1, max_size=3)
_ops = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"), _rows),
        st.tuples(st.just("delete"), _keys),
        st.tuples(st.just("mor_delete"), _keys),
        # new bucket count: a multiple of the current one, or coprime
        st.tuples(st.just("rescale"), st.sampled_from(["aligned", "unaligned"])),
        st.tuples(st.just("add"), st.tuples(st.sampled_from(sorted(TYPES)), _rows)),
        st.tuples(st.just("rename"), st.integers(0, 10)),
        st.tuples(st.just("drop"), st.integers(0, 10)),
    ),
    min_size=1,
    max_size=5,
)
#: span picks (a, b): from = versions[a % n] (0 is the empty table),
#: to = versions[1 + b % (n - 1)], swapped if from > to
_spans = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=1, max_size=2
)

_NAN = "NaN"


def _norm(v):
    """A collected value made hashable, with the feed's equality."""
    if isinstance(v, float) and math.isnan(v):
        return _NAN
    if isinstance(v, dict):
        return tuple(sorted((_norm(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):  # arrays, and structs (Row)
        return tuple(_norm(x) for x in v)
    return v


class _History:
    """Drives the table and records, per committed version, each
    logical column's identity (rename keeps it, drop + re-add makes a
    new one) — what the model needs to align two snapshots."""

    def __init__(self, spark, table: str):
        self.spark, self.table = spark, table
        self.cols: list[tuple[str, str]] = []  # (logical name, kind)
        self.ident: dict[str, int] = {}  # logical name -> identity
        self.fresh = itertools.count()
        self.idents: dict[int, dict[str, int]] = {}  # version -> ident
        self.n_buckets = 2

    def _frame(self, rows: dict, cols):
        ddl = ", ".join(["k int"] + [f"{c} {TYPES[t]}" for c, t in cols])
        data = [(k, *(r[t] for _, t in cols)) for k, r in rows.items()]
        return self.spark.createDataFrame(data, ddl)

    def _record(self):
        self.idents[mfm.list_versions(self.table)[-1]] = dict(self.ident)

    def start(self, rows: dict):
        for kind in TYPES:
            self.cols.append((f"c_{kind}", kind))
            self.ident[f"c_{kind}"] = next(self.fresh)
        mfm.manifest_upsert(
            self.spark, self.table, self._frame(rows, self.cols), ["k"],
            n_buckets=self.n_buckets,
        )
        self._record()

    def apply(self, kind: str, arg):
        spark, t = self.spark, self.table
        if kind == "upsert":
            mfm.manifest_upsert(spark, t, self._frame(arg, self.cols), ["k"])
        elif kind == "delete":
            gone = spark.createDataFrame(
                [(k, True) for k in arg], "k int, _gone boolean"
            )
            mfm.manifest_upsert(spark, t, gone, ["k"], tombstone_col="_gone")
        elif kind == "mor_delete":
            mfm.delete_where(spark, t, F.col("k").isin(sorted(arg)))
        elif kind == "rescale":
            n = self.n_buckets
            if arg == "aligned":
                n = n * 2 if n < 8 else n // 2
            else:
                n = n + 1 if n < 8 else n - 1
            mfm.optimize_table(spark, t, n_buckets=n)
            self.n_buckets = n
        elif kind == "add":
            ctype, rows = arg
            names = {c for c, _ in self.cols}
            # re-adds a dropped name once one exists, else a new name
            name = next(
                f"a_{i}" for i in itertools.count() if f"a_{i}" not in names
            )
            self.cols.append((name, ctype))
            self.ident[name] = next(self.fresh)
            mfm.manifest_upsert(spark, t, self._frame(rows, self.cols), ["k"])
        elif kind == "rename":
            i = arg % len(self.cols)
            old, ctype = self.cols[i]
            new = f"{old}_r"
            mfm.rename_column(spark, t, old, new)
            self.cols[i] = (new, ctype)
            self.ident[new] = self.ident.pop(old)
        elif kind == "drop" and len(self.cols) > 1:
            name, _ = self.cols.pop(arg % len(self.cols))
            mfm.drop_column(spark, t, name)
            del self.ident[name]
        else:
            return
        self._record()


def _snapshot(spark, h: _History, version: int):
    """(non-key column identities in schema order, names, key -> row
    tuple) of one version; version 0 is the empty table."""
    if version == 0:
        return [], [], {}
    df = mfm.read_manifest_table(spark, h.table, version)
    names = [c for c in df.columns if c != "k"]
    ids = [h.idents[version][c] for c in names]
    return ids, names, {r.k: tuple(r[c] for c in names) for r in df.collect()}


def _model(old, new, preimages: bool = False) -> Counter:
    """The expected feed from two snapshots: (k, change_type, *values in
    the newer version's column order), normalized."""
    old_ids, _, old_rows = old
    new_ids, _, new_rows = new
    pos = {cid: i for i, cid in enumerate(old_ids)}

    def aligned(vals):  # an old row in the newer version's columns
        return tuple(vals[pos[c]] if c in pos else None for c in new_ids)

    out = Counter()
    for k, vals in new_rows.items():
        if k not in old_rows:
            out[_norm((k, "insert", *vals))] += 1
            continue
        before = aligned(old_rows[k])
        if _norm(before) == _norm(vals):
            continue
        if preimages:
            out[_norm((k, "update_preimage", *before))] += 1
            out[_norm((k, "update_postimage", *vals))] += 1
        else:
            out[_norm((k, "update", *vals))] += 1
    for k in old_rows:
        if k not in new_rows:
            out[_norm((k, "delete", *[None] * len(new_ids)))] += 1
    return out


def _feed(rows, names) -> Counter:
    return Counter(
        _norm((r.k, r.change_type, *(r[c] for c in names))) for r in rows
    )


def _replay(old, new, rows) -> None:
    """Applying the feed onto the older snapshot reproduces the newer."""
    old_ids, _, old_rows = old
    new_ids, new_names, new_rows = new
    pos = {cid: i for i, cid in enumerate(old_ids)}
    state = {
        k: tuple(v[pos[c]] if c in pos else None for c in new_ids)
        for k, v in old_rows.items()
    }
    for r in rows:
        if r.change_type == "delete":
            state.pop(r.k)
        else:
            state[r.k] = tuple(r[c] for c in new_names)
    assert _norm(sorted(state.items())) == _norm(sorted(new_rows.items()))


def _stream(spark, table: str, frm: int, name: str) -> list:
    """One AvailableNow run of `manifest_cdc` from `frm`: the whole span
    to the latest version as one collapsed batch."""
    q = (
        spark.readStream.format("manifest_cdc")
        .option("path", table)
        .option("startingVersion", frm)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
        return spark.table(name).collect()
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


_RUNS = itertools.count()


@given(first=_rows, ops=_ops, spans=_spans)
# two fixed cases: an array column (a pandas-based diff raised on
# `pd.isna` of a list cell) and an update to NaN (a diff that emits it
# as null makes a replay write null where the table holds NaN)
@example(
    first={1: {**{k: None for k in TYPES}, "array": [1, 2]}},
    ops=[("upsert", {1: {**{k: None for k in TYPES}, "array": [1, 9]}})],
    spans=[(1, 1)],  # from version 1 to version 2
)
@example(
    first={3: {**{k: None for k in TYPES}, "double": 1.0}},
    ops=[("upsert", {3: {**{k: None for k in TYPES}, "double": math.nan}})],
    spans=[(1, 1)],  # from version 1 to version 2
)
@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_change_feeds_equal_the_snapshot_diff(
    spark, tmp_path_factory, first, ops, spans
):
    table = str(tmp_path_factory.mktemp("cdc_diff") / "t")
    h = _History(spark, table)
    h.start(first)
    for kind, arg in ops:
        h.apply(kind, arg)
    versions = [0] + mfm.list_versions(table)
    register_manifest_sources(spark)
    snaps = {}

    def snap(v):
        if v not in snaps:
            snaps[v] = _snapshot(spark, h, v)
        return snaps[v]

    n = len(versions)
    for a, b in spans:
        frm, to = sorted((versions[a % n], versions[1 + b % (n - 1)]))
        old, new = snap(frm), snap(to)
        names = new[1]
        rows = mfm.table_changes(spark, table, frm, to).collect()
        assert _feed(rows, names) == _model(old, new), (frm, to)
        _replay(old, new, rows)
        pre = mfm.table_changes(spark, table, frm, to, include_preimages=True)
        assert _feed(pre.collect(), names) == _model(old, new, True), (frm, to)
        cdf = (
            spark.read.format("manifest")
            .option("path", table)
            .option("readChangeFeed", "true")
            .option("startingVersion", frm)
            .option("endingVersion", to)
            .load()
        )
        assert _feed(cdf.collect(), names) == _model(old, new), (frm, to)
    frm, latest = versions[spans[0][0] % n], versions[-1]
    streamed = _stream(spark, table, frm, f"cdc_diff_{next(_RUNS)}")
    assert _feed(streamed, snap(latest)[1]) == _model(snap(frm), snap(latest))


def test_upsert_refuses_null_merge_keys(spark, tmp_path):
    """A null key matches no row, so a second upsert of it would leave
    both rows live and every diff would misreport the key: the upsert,
    and `merge_into` through it, refuse the batch before publish and
    leave the table as it was."""
    table = str(tmp_path / "t")

    def batch(k, v):
        return spark.createDataFrame([(k, v)], "k int, v string")

    with pytest.raises(ValueError, match="null"):
        mfm.manifest_upsert(spark, table, batch(None, "x"), ["k"], n_buckets=2)
    assert mfm.list_versions(table) == []
    mfm.manifest_upsert(spark, table, batch(1, "a"), ["k"], n_buckets=2)
    segments = sorted(os.listdir(os.path.join(table, "data")))
    for write in (
        lambda: mfm.manifest_upsert(spark, table, batch(None, "y"), ["k"]),
        lambda: mfm.merge_into(spark, table, batch(None, "z")),
    ):
        with pytest.raises(ValueError, match="null"):
            write()
        assert mfm.list_versions(table) == [1]
        assert sorted(os.listdir(os.path.join(table, "data"))) == segments
        rows = mfm.read_manifest_table(spark, table).collect()
        assert [(r.k, r.v) for r in rows] == [(1, "a")]
