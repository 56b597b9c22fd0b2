"""Benchmark of the icecube_spark engine: two closed-loop workloads,
every op's output checked, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/NOTES.md for why each exists):

- ``registry_mix``: six registry query keys over generated tables; four
  build a lazy plan, one runs ``materialize`` barriers while it builds and
  one reads a session-staged table;
- ``grd_cube_export``: the one-shot GRD cube CLI, raster stack to netCDF-3.

One client per workload, closed loop, no think time. Inputs are generated
from ``--seed`` into a scratch directory under the checkout; the engine sees
only those. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
the loop untraced, traced and untraced again and prints the per-layer
metrics.
Every op is timed fresh; a mismatched or failed op counts in ``failed`` and
makes the command exit 1.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Registry inputs: the generated star schema at this scale factor
# (60k lineitems). The registry is overhead-bound on a few cores, so a
# larger scale buys little signal and costs run time.
REGISTRY_SF = 0.01
# GRD stack: rasters x (size x size) float32 pixels, 19 MiB in all; an
# export writes ~33 MB. With one JVM on four cores, warm, an export of
# 48 rasters took 4.1 s at 16x16 pixels and 6.4 s at 320x320, so at
# this size over a third of an op grows with the pixels (decode, cube
# assembly, driver materialization, netCDF write), not per-job cost.
GRD_RASTERS, GRD_SIZE = 48, 320
# setup_s is the median (so the mean) of two set-ups: the first starts
# the JVM and warms up cold, the second is warm. A third would push a
# run past a minute on four cores.
SETUP_REPEATS = 2
# The timed loop makes at least this many passes (a pass is the six
# registry ops or one cube export). On four cores these passes take
# longer than the 8 s of BENCHMARK.json, so every run there times the
# same passes of the JIT warm-up curve: three registry passes (18 ops)
# or two exports. ops_per_s is the rate of the median pass.
TIMED_PASSES = {"registry_mix": 3, "grd_cube_export": 2}
# The session's default driver heap (16g) exceeds a small shared host.
DRIVER_MEMORY = "2g"

# Registry keys, one pass in this order. The first four build a lazy plan;
# cube_hist_match runs materialize barriers while it builds and
# text_features reads a session-staged table. Together they cover the
# five families.
REGISTRY_KEYS = (
    "q1_pricing_summary", "sessionize", "cube_config_filter", "length_histogram",
    "cube_hist_match", "text_features",
)
WORKLOADS = ("registry_mix", "grd_cube_export")
FAMILIES = (
    "datacube_queries", "analytics", "timeseries_queries", "llm_queries",
    "pipeline_queries",
)
SPAN_NAMES = (
    "setup", "session.get_spark", "llm_queries.staging",
    "analytics.staging", "warm_up", "op", "queries.build", "spark.action",
    "catalog.scan", "sources.decode", "cube.build", "netcdf3.write",
)

END_TO_END_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark_s": "s",
        "llm_queries.staging_s": "s", "llm_queries.staging_jobs": "count",
        "analytics.staging_s": "s", "dedup.pair_yield": "ratio",
        "catalog.scan_s": "s", "catalog.scan_tasks": "count",
        "queries.build_s": "s", "queries.build_jobs": "count",
    }
    for fam in FAMILIES:
        units[f"queries.{fam}.build_s"] = "s"
        units[f"queries.{fam}.build_jobs"] = "count"
    units.update({
        "spark.action_s": "s", "spark.action_jobs": "count",
        "spark.action_stages": "count", "spark.action_tasks": "count",
        "spark.task_cpu_s": "s", "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
        "spark.scheduler_delay_s": "s", "spark.gc_s": "s",
        "sources.decode_s": "s", "sources.mb_read": "MB",
        "cube.build_s": "s", "cube.layers_kept": "count", "cube.slots": "count",
        "netcdf3.write_s": "s", "netcdf3.mb_written": "MB",
    })
    for name in SPAN_NAMES:
        units[f"self.{name}_s"] = "s"
    units["trace.overhead_pct"] = "%"
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("icecube_spark/session.py", "__spark_entry__.py", "scripts/driver_verify.py")
    )


def configure_env(work: str, trace: bool) -> None:
    """Everything the engine writes goes under ``work``; Arrow workers
    import the package from the checkout; stdout stays clean; a traced
    run has Spark's event log on."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # no hsperfdata file is written outside the checkout
    jvm = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.driver.extraJavaOptions={jvm}",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true", "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            f"spark.eventLog.dir=file://{work}/eventlog",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_CONF=";".join(conf),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        TMPDIR=f"{work}/tmp",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_cpu() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (steal is index 7)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the op latency tail: the
    highest percentile with at least ten samples beyond it, but not below
    p90. A run times tens of ops, where ten samples beyond would put the
    percentile near the median, so p90 (nearest rank) is reported then."""
    xs = sorted(latencies)
    n = len(xs)
    pct = max(90.0, 100.0 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return xs[rank - 1], pct, n - rank


def pass_rate(passes: list[list[float]]) -> float:
    """Ops per second of the median pass: each pass's op count over its
    summed op latency. A burst of load from outside that slows one pass
    does not move it."""
    return statistics.median(len(p) / sum(p) for p in passes)


def load_compare():
    spec = importlib.util.spec_from_file_location(
        "driver_verify", os.path.join(ROOT, "scripts", "driver_verify.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class Bench:
    """One workload run: inputs, session, setup, timed loop, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.spark = None
        self.tracer = Tracer(trace)
        self.layer: dict[str, list[float]] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.files = 0
        self.oracle_out: dict = {}
        self.heap_committed_mb = 0.0

    # -- inputs --------------------------------------------------------
    def make_inputs(self) -> None:
        if self.workload == "grd_cube_export":
            import grd

            self.grd_dir = os.path.join(self.work, "grd")
            products = grd.write_stack(self.grd_dir, self.seed, GRD_RASTERS, GRD_SIZE)
            self.want_cube = grd.expected_cube(products)
        else:
            import tables

            self.sf_dir = os.path.join(self.work, "tables")
            tables.write_tables(self.sf_dir, self.seed, REGISTRY_SF)
            import __spark_entry__ as entry

            registry = entry.queries()
            self.keys = [(k, registry[k]) for k in REGISTRY_KEYS]

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    # -- session and setup ---------------------------------------------
    def stop_session(self) -> None:
        if self.spark is None:
            return
        from icecube_spark.queries.llm_queries import clear_staging

        self.note_heap_committed()
        clear_staging()
        self.spark.stop()
        self.spark = self.tracer.sc = None

    def setup(self) -> float:
        """Session start, session staging and one warm-up pass over the
        op list; for the cube workload the pass is the session's first,
        cold build. Returns its wall time; the warm-up outputs are
        checked after it."""
        from icecube_spark.session import get_spark

        self.stop_session()
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.get_spark") as rec:
                self.spark = get_spark(f"perfbench-{self.workload}")
            self.note("session.get_spark_s", rec["dur"])
            sc = tr.sc = self.spark.sparkContext
            sc.setLogLevel("ERROR")
            self.jvm_pid = sc._gateway.proc.pid
            if self.workload != "grd_cube_export":
                self.stage()
            with tr.span("warm_up"), tr.paused():
                outputs = self.loop(0)[1]
        dur = time.perf_counter() - t0
        self.check(outputs)
        return dur

    def stage(self) -> None:
        """Build the session-staged TF-IDF fit that text_features reads.
        Its jobs also warm the engine up before the timed loop."""
        from icecube_spark.queries import llm_queries as lq

        tr = self.tracer
        with tr.span("llm_queries.staging") as rec:
            lq.staged_tfidf_fit(self.spark, self.sf_dir)
        self.note("llm_queries.staging_s", rec["dur"])
        self.note("llm_queries.staging_jobs", rec.get("jobs", 0))

    # -- ops -------------------------------------------------------------
    def cube_op(self, out: str) -> None:
        from icecube_spark import generate_cube

        argv = [
            os.path.join(self.grd_dir, "rasters"),
            "--config", os.path.join(self.grd_dir, "config.json"),
            "--cube-save", out, "--format", "NETCDF3_CLASSIC",
        ]
        # the CLI reports progress on stdout, which carries our result
        with contextlib.redirect_stdout(sys.stderr):
            generate_cube.cli(argv, spark=self.spark)

    def loop(self, seconds: float, min_passes: int = 1) -> tuple[list[list[float]], list]:
        """Closed loop, one client, whole passes over the op list until
        ``seconds`` have passed and at least ``min_passes`` were made.
        Returns each pass's op latencies and what each op produced
        (checked after the loop)."""
        passes, outputs = [], []
        tr = self.tracer
        t_start = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - t_start < seconds:
            lat = []
            passes.append(lat)
            if self.workload == "grd_cube_export":
                n = len(outputs)
                self.files += 1  # a file per op, removed once checked
                out = os.path.join(self.work, f"cube{self.files}.nc")
                t0 = time.perf_counter()
                try:
                    with tr.span("op", op=n):
                        self.cube_op(out)
                    outputs.append(out)
                except Exception as e:  # noqa: BLE001 - counted, reported
                    self.failures.append(f"cube op {n}: {e!r}"[:300])
                    outputs.append(None)
                lat.append(time.perf_counter() - t0)
            else:
                for key, fn in self.keys:
                    n = len(outputs)
                    t0 = time.perf_counter()
                    try:
                        with tr.span("op", op=n):
                            with tr.span("queries.build", op=n) as b:
                                df = fn(self.spark, self.sf_dir)
                            with tr.span("spark.action", op=n) as a:
                                pdf = df.toPandas()
                        outputs.append((key, pdf, b, a))
                    except Exception as e:  # noqa: BLE001 - counted, reported
                        self.failures.append(f"{key}: {e!r}"[:300])
                        outputs.append(None)
                    lat.append(time.perf_counter() - t0)
        return passes, outputs

    def check(self, outputs: list) -> None:
        self.attempted += len(outputs)
        if self.workload == "grd_cube_export":
            import grd

            for out in outputs:
                if out is not None:
                    why = grd.check_netcdf(out, self.want_cube)
                    if why:
                        self.failures.append(f"{os.path.basename(out)}: {why}")
                    os.remove(out)
            return
        compare = load_compare()
        for item in outputs:
            if item is None:
                continue
            key, pdf = item[0], item[1]
            ok, why = compare(pdf.copy(), self.oracle(key).copy())
            if not ok:
                self.failures.append(f"{key}: output differs from oracle: {why}")

    def oracle(self, key: str):
        """The key's ``oracle_sql()`` DuckDB twin over the same parquet
        files, computed once per run."""
        if key not in self.oracle_out:
            import duckdb
            import tables

            import __spark_entry__ as entry

            con = duckdb.connect()
            for name in tables.TABLES:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.sf_dir}/{name}.parquet'")
            self.oracle_out[key] = con.sql(entry.oracle_sql()[key]).df()
            con.close()
        return self.oracle_out[key]

    # -- per-layer probes (traced run) -------------------------------------
    def layer_probes(self) -> None:
        tr, spark = self.tracer, self.spark
        if self.workload == "grd_cube_export":
            from pyspark.sql import functions as F

            from icecube_spark.cube import create_cube_from_rasters
            from icecube_spark.sources.netcdf3 import cube_to_file
            from icecube_spark.sources.raster import crawl_iceye_metadata, decode_rasters

            rasters = os.path.join(self.grd_dir, "rasters")
            with tr.span("sources.decode") as rec:
                bdf = spark.read.format("binaryFile").option("pathGlobFilter", "*.tif*").load(rasters)
                crawl_iceye_metadata(bdf).write.format("noop").mode("overwrite").save()
                decode_rasters(bdf).write.format("noop").mode("overwrite").save()
            self.note("sources.decode_s", rec["dur"])
            self.decode_group = rec["group"]
            with tr.span("cube.build") as rec:
                dc = create_cube_from_rasters(spark, rasters, os.path.join(self.grd_dir, "config.json"))
                row = dc.df.agg(F.count(F.lit(1)).alias("slots"), F.count(dc.key_col).alias("kept")).collect()[0]
            self.note("cube.build_s", rec["dur"])
            self.note("cube.slots", row.slots)
            self.note("cube.layers_kept", row.kept)
            out = os.path.join(self.work, "probe.nc")
            with tr.span("netcdf3.write") as rec:
                cube_to_file(dc, out, height=GRD_SIZE, width=GRD_SIZE, format="NETCDF3_CLASSIC")
            self.note("netcdf3.write_s", rec["dur"])
            self.note("netcdf3.mb_written", os.path.getsize(out) / 2**20)
            return
        import tables
        from icecube_spark import catalog
        from icecube_spark.queries import analytics
        from icecube_spark.queries import llm_queries as lq

        # the co-purchase tables (basket_pairs and its kin), built and
        # forced in the warm session
        with tr.span("analytics.staging") as rec:
            for df in analytics.staged_copurchase(spark, self.sf_dir):
                df.count()
        self.note("analytics.staging_s", rec["dur"])

        # verified 0.3-Jaccard pairs (dup_transitivity_audit's graph) per
        # staged candidate pair
        n_cands = lq.staged_candidates(spark, self.sf_dir).count()
        n_pairs = lq.staged_jaccard_pairs(spark, self.sf_dir, 0.3).count()
        self.note("dedup.pair_yield", n_pairs / n_cands if n_cands else 0.0)
        with tr.span("catalog.scan") as rec:
            for name in tables.TABLES:
                catalog.load(spark, self.sf_dir, name).write.format("noop").mode("overwrite").save()
        self.note("catalog.scan_s", rec["dur"])
        self.note("catalog.scan_tasks", rec["tasks"])

    # -- run ---------------------------------------------------------------
    def run(self) -> dict:
        self.make_inputs()
        if self.trace:
            return self.per_layer()
        setups = [self.setup() for _ in range(SETUP_REPEATS)]
        jvm0, cpu0 = self.jvm_times(), host_cpu()
        passes, outputs = self.loop(self.seconds, TIMED_PASSES[self.workload])
        jit, gc = (b - a for a, b in zip(jvm0, self.jvm_times()))
        cpu = [b - a for a, b in zip(cpu0, host_cpu())]
        print(f"# during the timed loop: JVM JIT compiling {jit:.2f} s, GC {gc:.2f} s;"
              f" host steal {cpu[7] / max(1, sum(cpu)):.1%} of CPU time")
        self.check(outputs)
        return self.end_to_end(setups, passes)

    def jvm_times(self) -> tuple[float, float]:
        """Seconds the JVM has spent JIT-compiling and collecting garbage."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3, gc_ms / 1e3

    def note_heap_committed(self) -> None:
        heap = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        committed = heap.getHeapMemoryUsage().getCommitted() / 2**20
        self.heap_committed_mb = max(self.heap_committed_mb, committed)

    def peak_rss_mb(self) -> float:
        """VmHWM of the Python driver and of the JVM, with the JVM heap
        counted at its live size (used after a full GC) instead of at
        the size G1 committed: the committed heap varies from run to run
        with G1's sizing, not with what the program keeps."""
        self.note_heap_committed()
        mem = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mem.gc()
        live = mem.getHeapMemoryUsage().getUsed() / 2**20
        py, jvm = vm_hwm_mb(os.getpid()), vm_hwm_mb(self.jvm_pid)
        print(f"# peak_rss_mb: Python VmHWM {py:.0f} MB + JVM VmHWM {jvm:.0f} MB"
              f" - committed heap {self.heap_committed_mb:.0f} MB + live heap {live:.0f} MB")
        return py + jvm - self.heap_committed_mb + live

    def end_to_end(self, setups: list[float], passes: list[list[float]]) -> dict:
        lat = [x for p in passes for x in p]
        t_val, t_pct, t_beyond = tail(lat)
        metrics = {
            "setup_s": statistics.median(setups),
            "ops_per_s": pass_rate(passes),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": t_val,
            "peak_rss_mb": self.peak_rss_mb(),
        }
        print(f"# setup_s samples: {', '.join(f'{s:.3f}' for s in setups)}")
        print(f"# ops: {len(lat)} in {len(passes)} passes over {sum(lat):.3f} s;"
              f" pass times {', '.join(f'{sum(p):.3f}' for p in passes)} s")
        print(f"# op_tail_s is p{t_pct:.1f} with {t_beyond} samples beyond it (n={len(lat)})")
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}

    def per_layer(self) -> dict:
        """A first, unrecorded set-up starts the JVM; a second one is
        traced, like the warm-JVM set-ups whose median is ``setup_s``.
        Then the loop runs untraced for a quarter of ``seconds``, traced
        for half (at least two passes) and untraced for a quarter again
        (the untraced loops bracket the traced one, so warming up does
        not read as tracing cost), then the layer probes. Per-layer numbers
        come from the traced calls only."""
        from spans import event_log_task_metrics

        tr = self.tracer
        with tr.paused():
            self.setup()
        self.layer.clear()
        self.setup()
        with tr.paused():
            plain_a, out_a = self.loop(self.seconds / 4)
        passes, outputs = self.loop(self.seconds / 2, 2)
        with tr.paused():
            plain_b, out_b = self.loop(self.seconds / 4)
        self.check(out_a + outputs + out_b)
        self.layer_probes()
        self.stop_session()  # flushes the event log
        spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tr.dump(os.path.join(spans_dir, f"{self.workload}-seed{self.seed}.jsonl"))
        task = event_log_task_metrics(os.path.join(self.work, "eventlog"))
        lat = [x for p in passes for x in p]

        units = per_layer_units()
        m = {name: 0.0 for name in units}
        for name, vals in self.layer.items():
            m[name] = statistics.median(vals)
        ops = [o for o in outputs if o is not None]
        n_ops = max(1, len(lat))
        if ops and self.workload != "grd_cube_export":
            m["queries.build_s"] = sum(o[2]["dur"] for o in ops) / n_ops
            m["queries.build_jobs"] = sum(o[2]["jobs"] for o in ops) / n_ops
            family = {k: fn.__module__.rsplit(".", 1)[-1] for k, fn in self.keys}
            for fam in FAMILIES:
                fam_ops = [o for o in ops if family[o[0]] == fam]
                if fam_ops:
                    m[f"queries.{fam}.build_s"] = statistics.mean(o[2]["dur"] for o in fam_ops)
                    m[f"queries.{fam}.build_jobs"] = statistics.mean(o[2]["jobs"] for o in fam_ops)
            for field in ("dur", "jobs", "stages", "tasks"):
                name = "spark.action_s" if field == "dur" else f"spark.action_{field}"
                m[name] = sum(o[3][field] for o in ops) / n_ops
        op_groups = {s["group"] for s in tr.spans if s["op"] is not None}
        totals: dict[str, float] = {}
        for group in op_groups:
            for k, v in task.get(group, {}).items():
                totals[k] = totals.get(k, 0.0) + v
        m["spark.task_cpu_s"] = totals.get("task_cpu_s", 0.0) / n_ops
        m["spark.gc_s"] = totals.get("gc_s", 0.0) / n_ops
        m["spark.scheduler_delay_s"] = totals.get("scheduler_delay_s", 0.0) / n_ops
        for k in ("shuffle_write", "shuffle_read", "spill"):
            m[f"spark.{k}_mb"] = totals.get(f"{k}_b", 0.0) / n_ops / 2**20
        if self.workload == "grd_cube_export":
            m["sources.mb_read"] = task.get(self.decode_group, {}).get("input_b", 0.0) / 2**20
        for name, secs in tr.self_times().items():
            m[f"self.{name}_s"] = secs
        plain, traced = pass_rate(plain_a + plain_b), pass_rate(passes)
        m["trace.overhead_pct"] = 100.0 * (plain / traced - 1.0)
        print(f"# untraced {plain:.4f} ops/s, traced {traced:.4f} ops/s; {len(tr.spans)} spans")
        return {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: the engine sources are missing under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    configure_env(work, bool(args.trace))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics = bench.run()
    finally:
        try:
            bench.stop_session()
            shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for f in bench.failures:
        print(f"# FAILED {f}")
    print(f"# fail_ratio {len(bench.failures) / max(1, bench.attempted):.4f} "
          f"({len(bench.failures)} of {bench.attempted})")
    for name, mv in metrics.items():
        print(f"{name} {mv['value']:.6g} {mv['unit']}")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": max(1, bench.attempted),
        "failed": len(bench.failures),
        "metrics": metrics,
    }))
    return 0 if not bench.failures else 1


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - last resort at exit
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    raise SystemExit(main())
