"""SparkSession construction and session-level invariants.

The engine is designed for a large multi-executor cluster but is tested on
``local[N]``. Everything scale-sensitive is expressed via configuration:

* AQE on — runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace any hand-scheduled plan choice.
* ``spark.sql.shuffle.partitions`` — sized for the test box; on a real
  cluster AQE coalesces from a high initial number, so we set the initial
  number high-ish and let AQE shrink it.
* Session timezone pinned to UTC — the reference enforces tz-aware UTC
  timestamps at every boundary (fetch-weather/src/api.py:116-117); we pin
  the session so date_trunc/date arithmetic is engine-independent.
* ``spark.sql.codegen.cache.maxEntries`` sized to the engine's working
  set (``CODEGEN_CACHE_ENTRIES``) — the engine runs the same plan shapes
  round after round, and Spark's default cache of 100 compiled classes
  is smaller than one round needs: each operation would evict the classes
  the next one needs, and Janino would recompile them (and the JVM JIT
  them again) every time. The setting is a static SQL conf, read once
  per JVM, so it is set where the session is built;
  ``ensure_engine_conf`` can only warn when a caller's session was built
  with a smaller cache.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
# Compiled-class working sets, counted as Janino compilations under a
# cache that evicts nothing (perfbench seeds 41-44, local[2]):
#   etl_cycle  ~130 per round; warm-up, set-ups and 4 rounds 152-154
#   query_mix  ~134 per pass; warm-up, set-ups and 4 passes 134-138
#   one pass over all 205 registered queries at sf0.001: 2520
# 2000 leaves >10x headroom over one operation's set. A whole registry
# sweep does not fit, and need not: nothing repeats it back to back.
CODEGEN_CACHE_ENTRIES = 2000
_CACHE_WARNED = "trail_condition_etl_spark.codegenCacheWarned"


def get_spark(app_name: str = "trail-condition-etl-spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode testing entrypoint; on a cluster, submit with the same
    configs — nothing here is local-only.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r14 (guide §2.2): let AQE optimize CACHED plan execution too.
        # With the default (false), a .persist()-ed subplan executes with
        # AQE disabled so its output partitioning stays stable — meaning
        # the bounded-round operators' per-round cached label frames run
        # their shuffles at the full static partition count with no
        # coalescing, at ANY scale. The partitioning stability the
        # default buys is worthless here: an InMemoryRelation over an
        # AQE plan reports unknown partitioning anyway, so every
        # consumer already re-exchanges (plans/r14/*_before.txt show the
        # Exchange above each InMemoryTableScan). Measured (same-process
        # alternation, sf0.1): dedup_clusters 1.35->0.95s,
        # semantic_dedup ~-30%, canonical_docs ~-20%, value-identical;
        # wash on non-cached paths.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable invariants to an externally-provided session.

    The driver harness passes us its own SparkSession; timezone and AQE are
    runtime-mutable, so we pin them here rather than trusting the caller.
    The codegen cache size is static (read once per JVM), so a session
    built with a smaller cache gets one warning instead; the session's
    own conf records that it was warned.
    """
    cache = int(spark.conf.get(CODEGEN_CACHE_CONF))
    if cache < CODEGEN_CACHE_ENTRIES and not spark.conf.get(_CACHE_WARNED, ""):
        warnings.warn(
            f"{CODEGEN_CACHE_CONF}={cache} is below the engine's "
            f"{CODEGEN_CACHE_ENTRIES}: repeated operations will recompile "
            "their generated code. It is a static conf and must be set "
            "when the session is built.",
        )
        spark.conf.set(_CACHE_WARNED, "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # AQE inside cached-plan execution (see get_spark; runtime-settable)
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)
    )
    # the Python-DataSource manifest reader (sources/manifest_source.py)
    # maps pushed Catalyst filters onto manifest stats pruning; the
    # pushdown path is conf-gated and off by default in Spark 4.1
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark
