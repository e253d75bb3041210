"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 5 --trace 0

Builds nothing: it imports the engine from the checkout it lives in
(the parent of this directory) and drives it on ``local[N]`` in this one
process, N = min(2, nproc). Inputs are generated from ``--seed``; every
table, checkpoint and staging directory lives under ``.perfbench_tmp/``
in the checkout and is removed before exit. With ``--trace 1`` the spans
are written to ``.perfbench_traces/``.

The last line of stdout is the result JSON: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the
per-layer metrics traced). The line before it names every workload
metric with its unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


class Ctx:
    def __init__(self, spark, tracer, seed):
        self.spark, self.tracer, self.seed = spark, tracer, seed


def _environment(tmp: str) -> int:
    """Point every scratch location of Spark and Python at ``tmp``;
    returns N for local[N]."""
    # two task threads leave the other cores to the JIT, the collector
    # and the python driver, so they contend less with the tasks
    cpus = min(2, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            # a fixed, pre-touched heap: the resident set does not follow
            # the collector's resizing and touching from run to run. A
            # fixed set of JIT compiler threads: one that exits takes its
            # CPU time out of the per-thread sums op_jit_cpu_s adds up
            "--driver-java-options '"
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch"
            " -XX:-UseDynamicNumberOfCompilerThreads'",
            "pyspark-shell",
        ]
    )
    sys.path.insert(0, ROOT)
    return cpus


def _phase(*pairs) -> None:
    """Log phase wall times to stderr."""
    it = iter(pairs)
    print("phases " + " ".join(f"{k}={v:.2f}s" for k, v in zip(it, it)), file=sys.stderr)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _measure(wl, tracer, seconds: float) -> int:
    """Closed loop: the next operation starts when the last one ends,
    for ``seconds`` and at least ``wl.MIN_OPS`` operations; returns the
    number run. A fixed count keeps the JIT state the timed work sees the
    same from run to run: each operation after a warm-up costs less CPU
    than the one before, so a count that follows the host's speed would
    move the figures with it.
    Each operation runs inside a ``bench.step`` span, so time no layer
    span covers counts as the benchmark's own; spans opened during one
    operation share its request id."""
    deadline = time.perf_counter() + seconds
    n = 0
    while n < wl.MIN_OPS or time.perf_counter() < deadline:
        tracer.request = f"{wl.name}-{n}"
        with tracer.span("bench.step"):
            wl.step()
        n += 1
    tracer.request = None
    return n


def _span_cost_us() -> float:
    """Cost of recording one span, in microseconds."""
    from spans import Tracer

    probe = Tracer(True)
    n = 20000
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("bench.probe"):
            pass
    return (time.perf_counter() - t0) / n * 1e6


def run(args) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import workloads
    from spans import RssSampler, Tracer, median, tree_cpu_s

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(tmp)
    cpus = _environment(tmp)
    tracer = Tracer(False)
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            from trail_condition_etl_spark import catalog, session

            spark = session.get_spark(f"perfbench-{args.workload}")
            session.ensure_engine_conf(spark)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            cat = os.path.join(tmp, "catalog")
            os.makedirs(cat)
            pq.write_table(
                pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list("abcde")}),
                os.path.join(cat, "region.parquet"),
            )
            catalog.load_table(spark, cat, "region").count()
            catalog_s = time.perf_counter() - t0

            wl = workloads.WORKLOADS[args.workload](Ctx(spark, tracer, args.seed))
            inputs = os.path.join(tmp, "inputs")
            os.makedirs(inputs)
            t0 = time.perf_counter()
            wl.inputs(inputs)
            inputs_s = time.perf_counter() - t0
            # the untimed warm-up runs before the set-ups, so the set-ups
            # and the timed loop both run after the JVM's first compiles
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
            # set-up is timed in CPU seconds, less the JIT compilers', which
            # are still compiling warm-up code in the background; wall time
            # followed the host's load (up to 2x) more than the set-up's work
            setup_s, setup_wall_s = [], []
            for rep in range(SETUP_REPS):
                d = os.path.join(tmp, f"setup{rep}")
                os.makedirs(d)
                t0, (cpu0, jit0) = time.perf_counter(), tree_cpu_s()
                wl.setup(d)
                cpu1, jit1 = tree_cpu_s()
                setup_wall_s.append(time.perf_counter() - t0)
                setup_s.append(cpu1 - cpu0 - (jit1 - jit0))
            _phase(
                "session", session_s, "catalog", catalog_s, "inputs", inputs_s,
                "warm", warm_s, "setup", sum(setup_wall_s),
            )

            untraced_p50 = None
            if args.trace:
                # the first half untraced, the second traced: the
                # difference of their medians is the tracing overhead
                wl.reset()
                _measure(wl, tracer, args.seconds / 2)
                untraced_p50 = median(wl.op_ms)
                from trail_condition_etl_spark.sinks import manifest

                # epochs commit inside the stream; route every commit
                # through one span so all workloads count them alike
                restore = tracer.wrap(manifest, "manifest_upsert", "manifest.commit")
                tracer.enabled = True
                wl.reset()
                try:
                    _measure(wl, tracer, args.seconds / 2)
                finally:
                    tracer.enabled = False
                    restore()
            else:
                wl.reset()
                cpu0, jit0 = tree_cpu_s()
                steps = _measure(wl, tracer, args.seconds)
                cpu1, jit1 = tree_cpu_s()
                op_cpu_s = (cpu1 - cpu0) / steps
                jit_cpu_s = (jit1 - jit0) / steps
            t0 = time.perf_counter()
            wl.finish()
            _phase("finish", time.perf_counter() - t0)
            rep = wl.report(bool(args.trace))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    ops = wl.op_ms
    named = {"op_ms_p50": (median(ops), "ms"), "work_per_s": (rep["work_per_s"], "1/s")}
    named.update(rep["named"])
    named["setup_wall_s"] = (median(setup_wall_s), "s")
    if not args.trace:
        named["op_cpu_s"] = (op_cpu_s, "s")
        named["op_jit_cpu_s"] = (jit_cpu_s, "s")
    named["failed_ratio"] = (wl.failed / wl.attempted if wl.attempted else 1.0, "failed/attempted")
    print(
        "report "
        + json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "local": f"local[{cpus}]",
                "samples": len(ops),
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            }
        )
    )
    if not args.trace:
        metrics = {
            "setup_s": (median(setup_s), "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
            "op_cpu_s": (op_cpu_s, "s"),
        }
    else:
        layer = {k: 0.0 for k in workloads.LAYER_METRICS}
        layer.update(rep.get("layer", {}))
        commits = [s for s in tracer.spans if s["name"] == "manifest.commit"]
        layer["manifest.commit_s"] = sum(s["end"] - s["start"] for s in commits)
        layer["manifest.commits"] = len(commits)
        layer["manifest.failed_commits"] = sum(1 for s in commits if s.get("error"))
        layer["session.start_s"] = session_s
        layer["catalog.warm_s"] = catalog_s
        self_t = tracer.self_times()
        total = sum(self_t.values())
        for name in workloads.LAYERS:
            layer[f"{name}.self_share"] = self_t.get(name, 0.0) / total if total else 0.0
        layer["trace.spans"] = len(tracer.spans)
        layer["trace.span_cost_us"] = _span_cost_us()
        layer["trace.op_ms_p50"] = median(ops)
        layer["trace.overhead_ms_p50"] = median(ops) - untraced_p50
        trace_dir = os.path.join(ROOT, ".perfbench_traces")
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"))
        units = workloads.LAYER_METRICS
        metrics = {k: (v, units.get(k, "")) for k, v in layer.items()}
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "trail_condition_etl_spark", "__init__.py")):
        print(f"no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
