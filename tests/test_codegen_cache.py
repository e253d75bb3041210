"""The session's codegen cache holds the engine's compiled-class working
set: a repeated operation reuses its generated classes instead of
recompiling them (``session.CODEGEN_CACHE_ENTRIES``)."""

from __future__ import annotations

import warnings

import pytest

from trail_condition_etl_spark import registry, session
from conftest import SF_DIR

# queries whose plans embed no per-call literal and do not change from one
# call to the next; together they compile ~200 classes, more than Spark's
# default cache of 100 entries holds
REPEATED = (
    "window_kit",
    "setops_nations",
    "skew_join",
    "market_share",
    "waiting_suppliers",
    "gap_fill",
    "time_to_convert",
    "max_drawdown",
)


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_compiles_nothing(spark):
    qs = registry.queries()
    passes = []
    for _ in range(2):
        before = _compiles(spark)
        for name in REPEATED:
            qs[name](spark, SF_DIR).collect()
        passes.append(_compiles(spark) - before)
    assert passes[1] == 0, f"classes compiled per pass: {passes}"


def test_small_codegen_cache_warns_once(spark, monkeypatch):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session.ensure_engine_conf(spark)  # the engine's own session
    size = int(spark.conf.get(session.CODEGEN_CACHE_CONF))
    monkeypatch.setattr(session, "CODEGEN_CACHE_ENTRIES", size + 1)
    try:
        with pytest.warns(UserWarning) as caught:
            for _ in range(3):  # every registered query calls it
                session.ensure_engine_conf(spark)
    finally:
        spark.conf.unset(session._CACHE_WARNED)
    assert len(caught) == 1
    msg = str(caught[0].message)
    assert session.CODEGEN_CACHE_CONF in msg
    assert "session is built" in msg


def test_second_dlq_append_compiles_nothing(spark, tmp_path):
    """`dlq_ts` is data, not a literal inlined into the generated code, so
    a repeated append of the same schema reuses its classes; each append
    still stamps its own wall-clock time."""
    import datetime as dt

    from trail_condition_etl_spark.sinks import dlq

    rejects = spark.createDataFrame(
        [(1, "{}", ("CircuitBreakerError", "open", None, True))],
        "city_id INT, raw_payload STRING, "
        "error STRUCT<exception_type STRING, message STRING, "
        "traceback STRING, safe_to_retry BOOLEAN>",
    )
    path = str(tmp_path / "dlq")
    compiled, windows = [], []
    for _ in range(2):
        before, lo = _compiles(spark), dt.datetime.now()
        dlq.append_dlq(spark, path, rejects)
        compiled.append(_compiles(spark) - before)
        windows.append((lo, dt.datetime.now()))
    assert compiled[1] == 0, f"classes compiled per append: {compiled}"
    stamps = sorted(r.dlq_ts for r in spark.read.parquet(path).collect())
    assert stamps[0] < stamps[1]
    for (lo, hi), ts in zip(windows, stamps):
        assert lo <= ts <= hi
