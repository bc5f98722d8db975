#!/usr/bin/env python3
"""Benchmark of the rsgislib_spark engine: one closed-loop workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 20 --trace 0

Workloads: decoded_zonal, catalog_mix, tile_manifest (see workloads.py).
A run generates (or reuses) the seeded inputs under ``perfbench/.data``,
starts Spark sized to the host, sets up three times (session start and
input load; the first also launches the JVM), runs the checked first
operation(s), which also warm the Python workers and code paths, then
measures as many whole units of the closed loop as fit in ``--seconds`` (at
least one; a catalog_mix unit is a round of its 13 queries, a tile_manifest
unit one write-verify-kill-resume cycle). The last line of
standard output is one JSON object {correct, attempted, failed, metrics};
the line before it carries the run's context (host, versions, confs,
loadavg, CPU seconds, walls, tail latency, per-workload figures).

``--trace 1`` alternates untraced and traced units and reports the per-layer
metrics of BENCHMARK.json from the traced ones (Spark SQL metrics through
the ``perfbench/listener`` query-execution listener, status-store task
metrics, span self times, and the tracing overhead). Spans are written to
``perfbench/.work/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SETUPS = 3

#: The per-layer metrics a traced run reports, with units (BENCHMARK.json
#: "per_layer"). Times and byte counts are means per traced operation.
PER_LAYER = {
    "session.start_s": "s", "driver.build_s": "s", "driver.analysis_ms": "ms",
    "driver.optimization_ms": "ms", "driver.planning_ms": "ms", "driver.jobs_per_op": "count",
    "scan.ms": "ms", "scan.bytes": "bytes", "python.total_ms": "ms", "python.boot_ms": "ms",
    "python.init_ms": "ms", "arrow.bytes_sent": "bytes", "arrow.bytes_received": "bytes",
    "codecs.decode_mpx_per_s": "Mpx/s", "zone_index.match_per_s": "1/s",
    **{f"query.{q}_s": "s" for q in (
        "q01_pricing_summary q10_cell_assign q11_spatial_join_intersects "
        "q14_zonal_point_stats q16_knn_zone_centers q19_tile_grid q20_tile_cells "
        "q25_focal_mean q31_token_stats q35_minhash_bands q40_ann_cosine_topk "
        "q55_salted_cell_join q64_north_star").split()},
    "shuffle.bytes_written": "bytes", "shuffle.write_ms": "ms", "shuffle.fetch_wait_ms": "ms",
    "agg.ms": "ms", "agg.spill_bytes": "bytes", "agg.peak_memory_bytes": "bytes",
    "task.run_ms": "ms", "task.jvm_cpu_ms": "ms", "task.gc_ms": "ms", "stage.skew": "ratio",
    "manifest.write_s": "s", "manifest.completed_buckets_s": "s", "manifest.verify_s": "s",
    "manifest.resume_s": "s", "manifest.jobs": "count", "manifest.producer_passes": "ratio",
    "span.op.self_ms": "ms", "span.driver.build.self_ms": "ms",
    "span.spark.action.self_ms": "ms", "span.trace.readback.self_ms": "ms",
    "trace.overhead_ms": "ms",
}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "work_per_s": "1/s", "peak_rss_mb": "MB"}


class Run:
    """What one benchmark run shares with its workload."""

    def __init__(self, args):
        from perfbench import host
        from perfbench.trace import Tracer
        from perfbench.workloads import _canon

        self.seed, self.trace = args.seed, bool(args.trace)
        self.cores = host.nproc()
        self.mem_total = host.mem_total_bytes()
        self.driver_mem_mb = self.mem_total // 8 // 2**20
        self.data_dir = os.path.join(ROOT, "perfbench", ".data")
        self.work_dir = os.path.join(ROOT, "perfbench", ".work")
        self.tmp_dir = os.path.join(self.work_dir, "tmp")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.tmp_dir, exist_ok=True)
        self.canon = _canon()
        self.tracer = Tracer()
        self.spark = None

    def conf(self, workload) -> dict:
        c = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            # a fixed-size heap: no heap resizing to vary from run to run
            "spark.driver.extraJavaOptions": f"-Xms{self.driver_mem_mb}m",
        }
        if self.trace:
            c["spark.driver.extraClassPath"] = build_listener(self.work_dir)
            c["spark.sql.queryExecutionListeners"] = "perfbench.QeSink"
        c.update(workload.conf)
        return c


def build_listener(work_dir: str) -> str:
    """Compile the query-execution listener when its class is missing or older
    than its source; return the class directory."""
    src = os.path.join(ROOT, "perfbench", "listener", "QeSink.java")
    out = os.path.join(work_dir, "listener-classes")
    cls = os.path.join(out, "perfbench", "QeSink.class")
    if not os.path.exists(cls) or os.path.getmtime(cls) < os.path.getmtime(src):
        subprocess.run(["bash", os.path.join(ROOT, "perfbench", "listener", "build.sh"), out],
                       check=True, timeout=300)
    return out


def _versions() -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "pandas": pandas.__version__, "duckdb": duckdb.__version__,
            "java": next((ln for ln in java.splitlines() if "version" in ln), "")}


def per_layer(run, wl, traced_ops, session_starts, unit_walls, kernel) -> dict:
    from perfbench.trace import median, self_times, sql_layers, stage_layers, input_rows_of

    spans = run.tracer.spans
    selfs = self_times(spans)
    rows = []
    for op in traced_ops:
        ss = [s for s in spans if s.op == op]
        sql = [e for s in ss for e in s.sql]
        row = sql_layers(sql)
        row.update(stage_layers([st for s in ss for st in s.stages]))
        row["driver.jobs_per_op"] = sum(s.jobs for s in ss)

        def dur(name):
            return sum(s.dur for s in ss if s.name == name)

        row["driver.build_s"] = dur("driver.build")
        row["manifest.write_s"] = dur("manifest.resumable_write")
        row["manifest.verify_s"] = dur("manifest.verify_against_manifest")
        row["manifest.completed_buckets_s"] = dur("manifest.completed_buckets")
        row["manifest.resume_s"] = dur("manifest.resume")
        writes = [s for s in ss if s.name == "manifest.resumable_write"]
        row["manifest.jobs"] = sum(s.jobs for s in writes)
        tiler_rows = sum(input_rows_of(e["nodes"], "MapInArrowExec") for s in writes for e in s.sql)
        row["manifest.producer_passes"] = tiler_rows / wl.n_images if writes else 0.0
        for name in ("op", "driver.build", "spark.action", "trace.readback"):
            row[f"span.{name}.self_ms"] = 1000 * sum(selfs[s.id] for s in ss if s.name == name)
        rows.append(row)
    out = {k: sum(r[k] for r in rows) / len(rows) for k in rows[0]}
    out["stage.skew"] = median(r["stage.skew"] for r in rows)
    out["session.start_s"] = median(session_starts)
    out.update(kernel)
    out.update(wl.per_query() if hasattr(wl, "per_query") else {})
    traced = [w / len(ops) for t, w, ops in unit_walls if t]
    plain = [w / len(ops) for t, w, ops in unit_walls if not t]
    out["trace.overhead_ms"] = 1000 * (median(traced) - median(plain))
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def _stop_jvm() -> None:
    """End the gateway JVM and wait for it: it exits at EOF on its stdin."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rsgislib_spark", "__init__.py")):
        print(f"perfbench: no rsgislib_spark package under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import host
    from perfbench.trace import SparkProbe, median, tail
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run = Run(args)
    wl = WORKLOADS[args.workload]()
    # everything Spark, the JVM and Python workers write stays in the checkout
    os.environ["TMPDIR"] = run.tmp_dir
    tempfile.tempdir = run.tmp_dir
    # every JVM (the launcher's too): temp files in the checkout, no
    # hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run.tmp_dir}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{run.driver_mem_mb}m"

    from rsgislib_spark.session import get_spark

    load_before = os.getloadavg()
    cpu0, t_run0 = host.tree_cpu_s(), time.perf_counter()
    t = time.perf_counter()
    wl.make_inputs(run)
    gen_s = time.perf_counter() - t
    conf = run.conf(wl)

    def start():
        return get_spark(master=f"local[{run.cores}]", app_name="perfbench", extra_conf=conf)

    # the first set-up also launches the JVM; the median is a warm one
    spark, setups, session_starts = None, [], []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = start()
        session_starts.append(time.perf_counter() - t)
        wl.load(spark)
        setups.append(time.perf_counter() - t)
    run.spark = spark
    probe = SparkProbe(spark) if run.trace else None

    t = time.perf_counter()
    try:
        attempted, failed = wl.first(run)
    except Exception:  # a failing operation is counted, not fatal
        import traceback

        traceback.print_exc()
        attempted, failed = 1, 1
    first_s = time.perf_counter() - t

    # peak_rss_mb is the measured loop's: set-up, the first operations and
    # their oracles leave their own peaks behind
    gc.collect()
    rss_reset = host.reset_peak_rss()
    unit_walls, traced_ops = [], []  # (traced, unit wall, op walls)
    cpu1, steal1, t_meas0 = host.tree_cpu_s(), host.steal_s(), time.perf_counter()
    i = 0
    while True:
        # traced and untraced units alternate; the seed picks which comes
        # first, so later units' extra warmth does not bias the overhead
        traced = run.trace and (i + run.seed) % 2 == 1
        if probe is not None:
            probe.enable(traced)
        run.tracer.probe = probe if traced else None
        first_op = run.tracer.op + 1
        t = time.perf_counter()
        try:
            results = wl.unit(run)
        except Exception:
            import traceback

            traceback.print_exc()
            results = [(time.perf_counter() - t, False)]
        unit_walls.append((traced, time.perf_counter() - t, [w for w, _ in results]))
        if traced:
            traced_ops.extend(range(first_op, run.tracer.op + 1))
        attempted += len(results)
        failed += sum(1 for _, ok in results if not ok)
        i += 1
        # whole units only, as many as fit in --seconds: stop when the next
        # one (as long as the median unit so far) would end past the window
        typical = median(w for _, w, _ in unit_walls)
        if i >= (2 if run.trace else 1) and time.perf_counter() - t_meas0 + typical > args.seconds:
            break
    measure_s = time.perf_counter() - t_meas0
    cpu2, steal2 = host.tree_cpu_s(), host.steal_s()
    rss = host.peak_rss_mb()
    peak_rss_mb = sum(rss.values())
    if probe is not None:
        probe.enable(False)
    run.tracer.probe = None

    kernel = {}
    if run.trace:
        with run.tracer.span("kernel_rates"):
            kernel = wl.kernel_rates(run)
    spark.stop()
    _stop_jvm()
    load_after = os.getloadavg()

    plain_walls = [w for traced, _, ops in unit_walls if not traced for w in ops]
    e2e = {"setup_s": median(setups), "op_p50_s": median(plain_walls),
           "work_per_s": wl.e2e(plain_walls)["work_per_s"], "peak_rss_mb": peak_rss_mb}
    tl = tail(plain_walls)
    info = {
        "workload": wl.name, "seed": run.seed, "seconds": args.seconds, "trace": run.trace,
        "host": {"nproc": run.cores, "mem_total_mb": run.mem_total // 2**20,
                 "driver_memory_mb": run.driver_mem_mb, "versions": _versions()},
        "conf": conf, "loadavg_before": load_before, "loadavg_after": load_after,
        "measure_wall_s": measure_s, "measure_cpu_s": cpu2 - cpu1,
        "measure_steal_s": steal2 - steal1,
        "run_wall_s": time.perf_counter() - t_run0, "run_cpu_s": host.tree_cpu_s() - cpu0,
        "gen_s": gen_s, "setups_s": setups,
        "session_start_s": session_starts, "first_s": first_s,
        "ops": len(plain_walls), "op_walls_s": plain_walls,
        "tail": {"percentile": tl[0], "value_s": tl[1], "samples": len(plain_walls)} if tl
        else {"percentile": None, "value_s": None, "samples": len(plain_walls)},
        "failed_ratio": failed / attempted,
        "peak_rss_mb_by_process": sorted(rss.values(), reverse=True),
        "peak_rss_reset_processes": rss_reset,
        **wl.info(),
    }
    if run.trace:
        metrics = per_layer(run, wl, traced_ops, session_starts, unit_walls, kernel)
        units = PER_LAYER
        path = os.path.join(run.work_dir, f"spans-{wl.name}-{run.seed}.json")
        with open(path, "w") as f:
            json.dump(run.tracer.to_json(), f)
        info["spans_file"] = os.path.relpath(path, ROOT)
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
