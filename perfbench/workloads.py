"""The benchmark workloads. Each is a closed loop with one client.

A workload object has, in the order the runner calls them:

* ``inputs(d)`` — write its seeded inputs under ``d`` (untimed; benchmark
  work, not engine work);
* ``warm()`` — untimed operations on scratch state, so the JVM's first
  compiles and lazy set-up finish before anything is timed;
* ``setup(d)`` — the engine's set-up for the workload under the fresh
  directory ``d``. It runs several times and the median is ``setup_s``;
  the last build is the one the timed loop uses;
* ``reset()`` — forget the timing samples taken so far (results kept
  for checking are not forgotten);
* ``step()`` — one timed operation (``etl_cycle``: one round;
  ``query_mix``: one whole pass);
* ``finish()`` — checks made outside the timed region;
* ``report(traced)`` — the workload's named wall-clock metrics for the
  report line, its work rate (``work_per_s``) and, when traced, the
  per-layer counts; ``op_ms`` holds the wall time of each operation.

``self.attempted`` / ``self.failed`` count operations and checks; a wrong
result counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import shutil
import sys
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from spans import median, tail


def _dir_bytes(path: str, only=None) -> tuple[int, int]:
    """(files, bytes) under ``path``; ``only`` filters top-level entries."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        rel = os.path.relpath(root, path).split(os.sep)[0]
        if only is not None and not only(rel):
            continue
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _is_meta(top: str) -> bool:
    return top in ("_manifests", "_meta")


def _is_data(top: str) -> bool:
    return not _is_meta(top)


class Workload:
    name = ""
    #: operations every timed loop runs, however short ``--seconds`` is
    MIN_OPS = 1

    def __init__(self, ctx):
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed
        self.attempted = 0
        self.failed = 0
        self.op_ms: list[float] = []

    def fail(self, why: str) -> None:
        self.failed += 1
        print(f"[{self.name}] FAILED: {why}", file=sys.stderr)

    def guarded(self, fn) -> None:
        """Run one operation; an exception counts it failed."""
        self.attempted += 1
        try:
            fn()
        except Exception:
            self.fail(traceback.format_exc(limit=4))


# ---------------------------------------------------------------------------
# etl_cycle
# ---------------------------------------------------------------------------


def _anchor():
    """The pipeline's "now" as a Spark column, independent of the python
    process's time zone."""
    from pyspark.sql import functions as F

    return F.timestamp_seconds(F.lit(gen.ANCHOR_EPOCH))


class EtlCycle(Workload):
    """The paper's pipeline, one round per operation:

    1. schedule — drain the round's staged task envelopes with an
       AvailableNow stream into the task table plus DLQ (``stream``);
    2. fetch-weather — ingest one city shard's day_summary + onecall
       payloads, DLQ-split them (``ingestion``) and upsert the accepted
       facts into the weather-fact table (``manifest``);
    3. categorize — read back the windows of Zipf-drawn cities
       (``manifest`` lookups) and classify them (``weather``).

    ``maintain_table`` runs on the fact table every ``MAINTAIN_EVERY``
    rounds, timed on its own as background work."""

    name = "etl_cycle"
    CITIES, SHARD, LOOKUPS, MAINTAIN_EVERY = 200, 16, 1, 2
    TASK_FILES, TASKS_PER_FILE = 1, 200
    FACT_KEYS = ["city_id", "hour"]
    #: a city's window: the hours of its daily and its hourly facts
    HOURS = [-24 * d for d in range(gen.HIST_DAYS, 0, -1)] + list(range(gen.FORECAST_HOURS))
    ROUTES = ("process", "dlq_poison", "dlq_expired")
    _ITER = re.compile(r"^s-?\d+-i(\d+)-")

    # -- inputs ------------------------------------------------------------

    def inputs(self, d: str) -> None:
        self.dir = d
        self.checks: list[tuple] = []  # (round, truth, rows, rejects)
        self.label_checks: list[tuple] = []  # (facts, labels)
        self.drained: list[tuple] = []  # (round, staged rows)
        truth = gen.owm_batch(self.seed, 0, self.CITIES)
        self.init_facts = {r[:2]: r for r in map(self._fact, truth["facts"])}
        self.init_path = os.path.join(d, "facts.parquet")
        pq.write_table(self._fact_table(truth["facts"]), self.init_path)

    @staticmethod
    def _hour(ts) -> int:
        return int((ts - gen.ANCHOR).total_seconds()) // 3600

    def _fact(self, f: tuple) -> tuple:
        """A generated fact as the lookup returns it: (city_id, hour,
        temperature, rain, source)."""
        return (f[0], self._hour(f[1]), f[2], f[3], f[4])

    @staticmethod
    def _fact_table(facts: list[tuple]) -> pa.Table:
        c = list(zip(*facts))
        return pa.table(
            {
                "city_id": pa.array(c[0], pa.int32()),
                "timestamp_utc": pa.array(c[1], pa.timestamp("us", tz="UTC")),
                "temperature_deg_c": pa.array(c[2], pa.float64()),
                "rain_fall_total_mm": pa.array(c[3], pa.float64()),
                "wind_speed_mps": pa.array([0.0] * len(facts), pa.float64()),
                "data_source": pa.array(c[4], pa.string()),
                "hour": pa.array([EtlCycle._hour(t) for t in c[1]], pa.int32()),
            }
        )

    @staticmethod
    def _envelopes(cols) -> pa.Table:
        return pa.table(
            {
                "task_id": pa.array(cols[0], pa.string()),
                "city_id": pa.array(cols[1], pa.int32()),
                # zoned, so Spark reads it as TIMESTAMP like the stream does
                "_enqueued_ts": pa.array(cols[2], pa.timestamp("us", tz="UTC")),
                "_delivery_count": pa.array(cols[3], pa.int32()),
            }
        )

    def _stage(self, rnd: int, first: int) -> dict:
        """Write round ``rnd``'s task files and payloads (untimed)."""
        root = os.path.join(self.dir, f"round{rnd:04d}")
        os.makedirs(os.path.join(root, "staging"))
        staged = []
        for i, rows in enumerate(
            gen.task_envelopes(self.seed, rnd, self.TASK_FILES, self.TASKS_PER_FILE)
        ):
            pq.write_table(
                self._envelopes(list(zip(*rows))),
                os.path.join(root, "staging", f"part-{i:03d}.parquet"),
            )
            staged.extend(rows)
        truth = gen.owm_batch(self.seed, rnd, self.SHARD, first)
        for kind in ("daily", "onecall"):
            cities, payloads = zip(*truth[kind])
            pq.write_table(
                pa.table(
                    {
                        "city_id": pa.array(cities, pa.int32()),
                        "payload": pa.array(payloads, pa.string()),
                    }
                ),
                os.path.join(root, f"{kind}.parquet"),
            )
        return {"round": rnd, "root": root, "staged": staged, "truth": truth}

    # -- set-up --------------------------------------------------------------

    def setup(self, d: str) -> None:
        """A weather-fact table holding an earlier fetch of every city."""
        from trail_condition_etl_spark.sinks import manifest

        self.facts = os.path.join(d, "facts")
        manifest.manifest_upsert(
            self.spark, self.facts, self.spark.read.parquet(self.init_path), self.FACT_KEYS,
            n_buckets=16,
        )
        self.model = dict(self.init_facts)
        self.commits = 0

    def warm(self) -> None:
        # one untimed round against a scratch fact table. Its drain
        # creates the task table and DLQ the timed rounds drain into;
        # its results are checked with theirs
        self.tasks = os.path.join(self.dir, "tasks")
        self.dlq = os.path.join(self.dir, "dlq")
        d = os.path.join(self.dir, "warm")
        os.makedirs(d)
        self.setup(d)
        self.plan = gen.etl_rounds(self.seed, self.CITIES, self.SHARD, self.LOOKUPS)
        self.round = 0
        first, cities = next(self.plan)
        self._round(self._stage(0, first), cities, record=False)

    def reset(self) -> None:
        self.op_ms: list[float] = []  # one whole round each
        self.stage_ms: dict[str, list[float]] = {
            k: [] for k in ("drain", "ingest", "commit", "lookup", "classify")
        }
        self.maintain_s: list[float] = []
        self.maintain_runs = 0
        self.rows = self.rejects = self.tasks_in = 0
        self.classified_rows = self.classified_cities = 0
        self.exchanges = 0
        self.progress: list[dict] = []
        self.files_opened: list[int] = []
        self.rows_examined = self.rows_returned = 0
        self.batch_bytes = self.written_bytes = self.written_files = self.meta_bytes = 0
        self.measured_commits = 0

    # -- one round -------------------------------------------------------------

    def _timed(self, stage: str, record: bool, fn):
        t0 = time.perf_counter()
        out = fn()
        if record:
            self.stage_ms[stage].append((time.perf_counter() - t0) * 1000)
        return out

    def _drain(self, staged: dict, record: bool) -> None:
        from trail_condition_etl_spark.streaming import pipeline

        def run():
            with self.tr.span("stream.drain"):
                q = pipeline.run_pipeline_available_now(
                    self.spark,
                    os.path.join(staged["root"], "staging"),
                    self.tasks,
                    self.dlq,
                    os.path.join(staged["root"], "ckpt"),
                    now=_anchor(),
                    max_files_per_trigger=1,
                    table_format="manifest",
                )
                q.awaitTermination()
            return q

        q = self._timed("drain", record, run)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.drained.append((staged["round"], staged["staged"]))
        if record:
            self.progress.extend(p for p in q.recentProgress if p["numInputRows"] > 0)
            self.tasks_in += len(staged["staged"])

    def _ingest(self, staged: dict, record: bool):
        """Parse, flatten and DLQ-split the shard's payloads; returns the
        persisted window of accepted facts."""
        from pyspark.sql import functions as F

        from trail_condition_etl_spark.operators import ingestion

        spark, root = self.spark, staged["root"]

        def run():
            with self.tr.span("ingestion.parse_flatten"):
                pd_ = ingestion.parse_daily(spark.read.parquet(os.path.join(root, "daily.parquet")))
                ph = ingestion.parse_onecall(
                    spark.read.parquet(os.path.join(root, "onecall.parquet"))
                )
                hour = (F.unix_timestamp("timestamp_utc") - gen.ANCHOR_EPOCH) / 3600
                window = (
                    ingestion.combine_window(
                        ingestion.flatten_daily(pd_), ingestion.flatten_hourly(ph)
                    )
                    .withColumn("hour", hour.cast("int"))
                    .persist()
                )
                rows = window.count()
            with self.tr.span("ingestion.rejects"):
                ingestion.daily_rejects(pd_).unionByName(ingestion.hourly_rejects(ph)).write.parquet(
                    os.path.join(root, "rejects")
                )
            return window, rows

        window, rows = self._timed("ingest", record, run)
        rejects = pq.ParquetDataset(os.path.join(root, "rejects")).read(columns=[]).num_rows
        self.checks.append((staged["round"], staged["truth"], rows, rejects))
        if record:
            self.rows += rows
            self.rejects += rejects
        return window

    def _commit(self, window, staged: dict, record: bool) -> None:
        from trail_condition_etl_spark.sinks import manifest

        measure = record and self.tr.enabled
        if measure:
            f0, b0 = _dir_bytes(self.facts, _is_data)
            m0 = _dir_bytes(self.facts, _is_meta)[1]
        # spanned as manifest.commit when traced (see run.py)
        self._timed(
            "commit",
            record,
            lambda: manifest.manifest_upsert(self.spark, self.facts, window, self.FACT_KEYS),
        )
        window.unpersist()
        for r in map(self._fact, staged["truth"]["facts"]):
            self.model[r[:2]] = r
        self.commits += 1
        if measure:
            self.measured_commits += 1
            f1, b1 = _dir_bytes(self.facts, _is_data)
            self.written_files += f1 - f0
            self.written_bytes += b1 - b0
            self.meta_bytes += _dir_bytes(self.facts, _is_meta)[1] - m0
            self.batch_bytes += self._fact_table(staged["truth"]["facts"]).nbytes
        if self.commits % self.MAINTAIN_EVERY == 0:
            # background work in a real deployment: timed on its own,
            # not as part of the round that triggered it
            t0 = time.perf_counter()
            with self.tr.span("manifest.maintain"):
                ran = manifest.maintain_table(self.spark, self.facts)
            if record:
                self.maintain_s.append(time.perf_counter() - t0)
                self.maintain_runs += ran is not None

    def _lookup(self, city: int, record: bool):
        """Read back one city's window and check it against the model."""
        from trail_condition_etl_spark.sinks import manifest

        def run():
            with self.tr.span("manifest.lookup"):
                df = manifest.read_manifest_lookup(
                    self.spark, self.facts, [{"city_id": city, "hour": h} for h in self.HOURS]
                )
                got = df.select(
                    "city_id", "hour", "temperature_deg_c", "rain_fall_total_mm", "data_source"
                ).collect()
            return df, sorted(tuple(r) for r in got)

        df, got = self._timed("lookup", record, run)
        want = sorted(self.model[(city, h)] for h in self.HOURS if (city, h) in self.model)
        if got != want:
            raise AssertionError(f"lookup city {city}: {len(got)} rows, model has {len(want)}")
        if record and self.tr.enabled:
            files = df.inputFiles()
            self.files_opened.append(len(files))
            self.rows_examined += sum(
                pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows for f in files
            )
            self.rows_returned += len(got)
        return df, want

    def _categorize(self, cities: list[int], record: bool) -> None:
        from functools import reduce

        from trail_condition_etl_spark.operators import weather

        found = [self._lookup(c, record) for c in cities]
        frames = [df for df, _ in found]
        facts = [f for _, want in found for f in want]

        def run():
            with self.tr.span("weather.classify"):
                labels = weather.classify_trail_conditions(
                    reduce(lambda a, b: a.unionByName(b), frames).withColumn(
                        "anchor_ts", _anchor()
                    )
                )
                return labels, labels.select("city_id", "labels").collect()

        labels, out = self._timed("classify", record, run)
        self.label_checks.append((facts, {r["city_id"]: r["labels"] for r in out}))
        if record:
            self.classified_rows += len(facts)
            self.classified_cities += len(out)
            if self.tr.enabled and not self.exchanges:
                from trail_condition_etl_spark import plans

                self.exchanges = plans.count_exchanges(labels)

    def _round(self, staged: dict, cities: list[int], record: bool) -> None:
        """One round; its time is the sum of its stages' times (staging
        and maintenance left out)."""
        before = {k: len(v) for k, v in self.stage_ms.items()} if record else {}
        self._drain(staged, record)
        self._commit(self._ingest(staged, record), staged, record)
        self._categorize(sorted(set(cities)), record)
        if record:
            self.op_ms.append(sum(sum(v[before[k] :]) for k, v in self.stage_ms.items()))

    def step(self) -> None:
        def op():
            self.round += 1
            first, cities = next(self.plan)
            self._round(self._stage(self.round, first), cities, record=True)

        self.guarded(op)

    # -- checks ------------------------------------------------------------------

    def _landed(self) -> dict[tuple[int, str], int]:
        """(round, route) -> rows in the task table and the DLQ."""
        from pyspark.sql import functions as F

        from trail_condition_etl_spark.sinks import manifest

        it = F.regexp_extract("task_id", self._ITER.pattern, 1).try_cast("int")
        out = manifest.read_manifest_table(self.spark, self.tasks).select(
            it.alias("it"), F.lit("process").alias("route")
        )
        if os.path.isdir(self.dlq):
            out = out.unionByName(
                self.spark.read.parquet(self.dlq).select(
                    it.alias("it"), F.col("error.exception_type").alias("route")
                )
            )
        return {
            (r["it"], r["route"]): r["count"]
            for r in out.where(F.col("it").isNotNull()).groupBy("it", "route").count().collect()
        }

    def finish(self) -> None:
        for rnd, truth, rows, rejects in self.checks:
            self.attempted += 1
            if rows != len(truth["facts"]) or rejects != truth["rejects"]:
                self.fail(
                    f"round {rnd}: accepted {rows} + rejected {rejects} != expected "
                    f"{len(truth['facts'])} + {truth['rejects']}"
                )
        for facts, got in self.label_checks:
            self.attempted += 1
            want = oracle.expected_labels(
                [(c, gen.ANCHOR + dt.timedelta(hours=h), t, r, s) for c, h, t, r, s in facts],
                gen.ANCHOR,
            )
            if got != want:
                bad = sorted(c for c in want if got.get(c) != want[c])[:5]
                self.fail(f"labels differ from DuckDB for cities {bad}")
        landed = self._landed()
        self.processed = self.dlq_rows = self.dups = 0
        for rnd, staged in self.drained:
            self.attempted += 1
            staged_n = dict.fromkeys(self.ROUTES, 0)
            unique: dict[str, str] = {}
            for row in staged:
                staged_n[row[4]] += 1
                unique[row[0]] = row[4]
            uniq_n = dict.fromkeys(self.ROUTES, 0)
            for route in unique.values():
                uniq_n[route] += 1
            got = {k: landed.get((rnd, k), 0) for k in self.ROUTES}
            dups = {k: staged_n[k] - uniq_n[k] for k in self.ROUTES}
            bad = [k for k in self.ROUTES if got[k] + dups[k] != staged_n[k]]
            if bad:
                self.fail(f"round {rnd} routes {bad}: got {got} + dedup {dups} != staged {staged_n}")
            self.processed += got["process"]
            self.dlq_rows += got["dlq_poison"] + got["dlq_expired"]
            self.dups += sum(dups.values())

    # -- report ------------------------------------------------------------------

    def report(self, traced: bool) -> dict:
        sm = self.stage_ms
        busy = sum(self.op_ms) / 1000
        named = {
            "cycle_s_p50": (median(self.op_ms) / 1000, "s"),
            "etl_rows_per_s": (self.rows / busy if busy else 0.0, "1/s"),
            "commit_ms_p50": (median(sm["commit"]), "ms"),
            "lookup_ms_p50": (median(sm["lookup"]), "ms"),
            "drain_ms_p50": (median(sm["drain"]), "ms"),
            "stream_tasks_per_s": (
                self.tasks_in / sum(sm["drain"]) * 1000 if sm["drain"] else 0.0,
                "1/s",
            ),
            "epoch_ms_p50": (
                median([p["durationMs"]["triggerExecution"] for p in self.progress]),
                "ms",
            ),
        }
        p90 = tail(sm["lookup"], 0.9)
        if p90 is not None:
            named["lookup_ms_p90"] = (p90, "ms")
        out = {"named": named, "work_per_s": named["etl_rows_per_s"][0]}
        if not traced:
            return out
        tr = self.tr
        ing = tr.busy("ingestion.parse_flatten") + tr.busy("ingestion.rejects")
        rows, rej = self.rows, self.rejects
        n = max(self.measured_commits, 1)
        files, size = _dir_bytes(self.facts, _is_data)
        pg = self.progress or [{}]

        def dur(key):
            return median([p.get("durationMs", {}).get(key, 0) for p in pg])

        def state(key):
            return median([sum(s.get(key, 0) for s in p.get("stateOperators", [])) for p in pg])

        out["layer"] = {
            "ingestion.busy_s": ing,
            "ingestion.payloads_in": len(self.op_ms) * self.SHARD * (gen.HIST_DAYS + 1),
            "ingestion.rows_out": rows,
            "ingestion.rejects": rej,
            "ingestion.accept_ratio": rows / (rows + rej) if rows + rej else 0.0,
            "ingestion.rows_per_s": rows / ing if ing else 0.0,
            "weather.busy_s": tr.busy("weather.classify"),
            "weather.rows_in": self.classified_rows,
            "weather.cities_out": self.classified_cities,
            "weather.exchanges": self.exchanges,
            "manifest.bytes_written_per_commit": self.written_bytes / n,
            "manifest.files_written_per_commit": self.written_files / n,
            "manifest.metadata_bytes_per_commit": self.meta_bytes / n,
            "manifest.write_amp": self.written_bytes / self.batch_bytes if self.batch_bytes else 0.0,
            "manifest.table_files": files,
            "manifest.table_bytes": size,
            "manifest.maintain_s": sum(self.maintain_s),
            "manifest.maintain_runs": self.maintain_runs,
            "manifest.lookup_s": sum(sm["lookup"]) / 1000,
            "manifest.files_opened_per_lookup": median(self.files_opened),
            "manifest.rows_examined_per_row_returned": (
                self.rows_examined / self.rows_returned if self.rows_returned else 0.0
            ),
            "stream.trigger_ms": dur("triggerExecution"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.epochs": len(self.progress),
            "stream.input_rows_per_epoch": median([p.get("numInputRows", 0) for p in pg]),
            "stream.state_rows": state("numRowsTotal"),
            "stream.state_bytes": state("memoryUsedBytes"),
            # counted over every drained round, the warm-up's and the untraced half's included
            "stream.processed": self.processed,
            "stream.dlq_rows": self.dlq_rows,
            "stream.dedup_dropped": self.dups,
            "stream.useful_ratio": (
                self.processed / (self.processed + self.dlq_rows + self.dups)
                if self.processed
                else 0.0
            ),
        }
        return out


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class QueryMix(Workload):
    """Seed-ordered whole passes over registered analytic queries."""

    name = "query_mix"
    SCALE = 0.01
    #: relational, timeseries/behavior and dedup/similarity families,
    #: few enough that a fresh process warms and times them in a minute
    QUERIES = (
        "trail_classifier",
        "pricing_summary",
        "revenue_share",
        "gap_fill",
        "sessionize",
        "minhash_near_dup",
    )
    WARM_PASSES, MIN_OPS = 2, 2
    #: the queries whose set-up builds an artifact (the MinHash pair graph)
    ARTIFACT_QUERIES = ("minhash_near_dup",)
    TABLES = (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split()

    def inputs(self, d: str) -> None:
        from trail_condition_etl_spark import schemas

        self.src = d
        tables = gen.analytic_tables(self.seed, self.SCALE)
        for name in self.TABLES:
            pq.write_table(
                pa.table(tables[name], schema=_arrow_schema(schemas.TESTDATA_SCHEMAS[name])),
                os.path.join(d, f"{name}.parquet"),
            )

    def warm(self) -> None:
        # untimed passes over the generated tables; the first also builds
        # their artifacts. The timed passes run on these same tables: the
        # first pass over a fresh copy is seconds slower than later ones.
        # After one pass the JIT still compiles through the next, which
        # costs the next pass a varying share of its CPU time
        from trail_condition_etl_spark import registry

        self.qs = registry.queries()
        self.order = list(self.QUERIES)
        random.Random(f"{self.seed}-mix").shuffle(self.order)
        for _ in range(self.WARM_PASSES):
            for name in self.order:
                self.qs[name](self.spark, self.src).collect()
        self.last: dict[str, tuple] = {}

    def setup(self, d: str) -> None:
        # a fresh copy is a new corpus snapshot: its artifacts are built anew
        for name in self.TABLES:
            shutil.copyfile(
                os.path.join(self.src, f"{name}.parquet"), os.path.join(d, f"{name}.parquet")
            )
        for name in self.ARTIFACT_QUERIES:
            self.qs[name](self.spark, d).collect()

    def reset(self) -> None:
        from trail_condition_etl_spark.operators import artifacts

        self.builds0 = artifacts.build_count()
        self.op_ms: list[float] = []  # one whole pass each
        self.query_s: dict[str, list[float]] = {n: [] for n in self.order}
        self.exchanges: dict[str, int] = {}

    def _query(self, name: str) -> float:
        t0 = time.perf_counter()
        with self.tr.span(f"query.{name}"):
            df = self.qs[name](self.spark, self.src)
            rows = df.collect()
        s = time.perf_counter() - t0
        self.last[name] = (df.columns, rows)
        if self.tr.enabled and name not in self.exchanges:
            from trail_condition_etl_spark import plans

            self.exchanges[name] = plans.count_exchanges(df)
        return s

    def step(self) -> None:
        """One whole pass, so every run times each query equally often."""
        done = 0.0
        for name in self.order:
            s = []
            self.guarded(lambda: s.append(self._query(name)))
            if s:
                self.query_s[name].append(s[0])
                done += s[0]
        self.op_ms.append(done * 1000)

    def finish(self) -> None:
        from trail_condition_etl_spark import registry
        from trail_condition_etl_spark.operators import artifacts

        self.builds_in_timed = artifacts.build_count() - self.builds0
        sqls = registry.oracle_sql()
        ora = oracle.QueryOracle(self.src, self.TABLES)
        try:
            for name, (cols, rows) in self.last.items():
                self.attempted += 1
                if not oracle.same(oracle.canonical(cols, rows), ora.run(sqls[name])):
                    self.fail(f"{name} differs from its DuckDB oracle")
        finally:
            ora.close()

    def report(self, traced: bool) -> dict:
        named = {"mix_pass_s": (median(self.op_ms) / 1000, "s")}
        query_s = [s for per in self.query_s.values() for s in per]
        p90 = tail(query_s, 0.9)
        if p90 is not None:
            named["query_s_p90"] = (p90, "s")
        busy = sum(query_s)
        out = {"named": named, "work_per_s": len(query_s) / busy if busy else 0.0}
        if traced:
            layer = {"artifacts.builds_in_timed": self.builds_in_timed}
            for name in self.QUERIES:
                layer[f"query.{name}.busy_s"] = sum(self.query_s.get(name, []))
                layer[f"query.{name}.exchanges"] = self.exchanges.get(name, 0)
            out["layer"] = layer
        return out


def _arrow_schema(struct) -> pa.Schema:
    m = {
        "IntegerType": pa.int32(),
        "LongType": pa.int64(),
        "DoubleType": pa.float64(),
        "StringType": pa.string(),
        "TimestampType": pa.timestamp("us"),
    }
    fields = []
    for f in struct.fields:
        t = type(f.dataType).__name__
        typ = pa.list_(pa.float32()) if t == "ArrayType" else m[t]
        fields.append(pa.field(f.name, typ))
    return pa.schema(fields)


WORKLOADS = {w.name: w for w in (EtlCycle, QueryMix)}

LAYERS = ("session", "catalog", "ingestion", "weather", "manifest", "stream", "query", "bench")

#: every per-layer metric with its unit; a traced run reports all of them,
#: 0 where the workload does not exercise the layer
LAYER_METRICS = {
    "session.start_s": "s",
    "catalog.warm_s": "s",
    "ingestion.busy_s": "s",
    "ingestion.payloads_in": "count",
    "ingestion.rows_out": "count",
    "ingestion.rejects": "count",
    "ingestion.accept_ratio": "ratio",
    "ingestion.rows_per_s": "1/s",
    "weather.busy_s": "s",
    "weather.rows_in": "count",
    "weather.cities_out": "count",
    "weather.exchanges": "count",
    "manifest.commit_s": "s",
    "manifest.commits": "count",
    "manifest.bytes_written_per_commit": "B",
    "manifest.files_written_per_commit": "count",
    "manifest.metadata_bytes_per_commit": "B",
    "manifest.write_amp": "ratio",
    "manifest.failed_commits": "count",
    "manifest.table_files": "count",
    "manifest.table_bytes": "B",
    "manifest.maintain_s": "s",
    "manifest.maintain_runs": "count",
    "manifest.lookup_s": "s",
    "manifest.files_opened_per_lookup": "count",
    "manifest.rows_examined_per_row_returned": "ratio",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.epochs": "count",
    "stream.input_rows_per_epoch": "count",
    "stream.state_rows": "count",
    "stream.state_bytes": "B",
    "stream.processed": "count",
    "stream.dlq_rows": "count",
    "stream.dedup_dropped": "count",
    "stream.useful_ratio": "ratio",
    **{f"query.{q}.busy_s": "s" for q in QueryMix.QUERIES},
    **{f"query.{q}.exchanges": "count" for q in QueryMix.QUERIES},
    "artifacts.builds_in_timed": "count",
    **{f"{layer}.self_share": "ratio" for layer in LAYERS},
    "trace.spans": "count",
    "trace.span_cost_us": "us",
    "trace.op_ms_p50": "ms",
    "trace.overhead_ms_p50": "ms",
}
