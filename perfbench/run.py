#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One closed-loop client submits one
statement at a time to a single ``get_spark()`` session on
``local[<cores>]``.  A run:

1. builds the workload's input layout from the fixtures in
   ``perfbench/fixtures/`` (cached under ``.perfbench_cache/``; its build
   time is reported, not timed as set-up).  ``--seed`` only draws the
   statement order, so every seed runs on the same inputs;
2. sets up the engine as a user would and runs the workload's prewarm
   passes over every statement (this is ``setup_s``);
3. records host context: load, a fixed CPU canary time and the share of
   CPU time the hypervisor gave to other guests while measuring;
4. runs measured passes, each over all statements in a seeded order,
   until ``--seconds`` have elapsed (at least two), then reads the memory
   the session retains.  A statement's latency is its best time over the
   passes, so that a burst of load from other guests of the host, which
   lasts seconds, is not read as the engine's cost;
5. checks every fetched result against the DuckDB oracle on the same
   files, outside any timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  Failed or wrong statements are
named on stderr and make the exit code 1.  Without the engine package
next to this directory the run exits 2 and prints no result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")

from probes import (  # noqa: E402
    STREAM_KEYS,
    JvmProbe,
    QueryListener,
    Tracer,
    make_stream_probe,
    scheduler_marks,
    stage_totals,
    process_peaks,
    retained_mb,
    tree_cpu_s,
)
from layouts import ensure_layout  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "suite_s": "s",
    "suite_cpu_s": "s",
    "latency_p50_s": "s",
    "retained_mb": "MB",
}

SETUP_LAYERS = (
    "session.get_spark_s",
    "functions.register_all_s",
    "queries.load_all_s",
    "catalog.register_tables_s",
)
PER_LAYER = {
    **dict.fromkeys(SETUP_LAYERS, "s"),
    "dialect.transpile_s": "s",
    "engine.sql_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "client.fetch_s": "s",
    "client.result_rows": "count",
    "queries.build_s": "s",
    "exec.sql_executions": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_busy_frac": "ratio",
    "exec.scan_rows": "count",
    "exec.scan_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.peak_exec_mem_mb": "MB",
    "operators.py_bytes_sent": "bytes",
    "operators.py_bytes_received": "bytes",
    "operators.py_rows_received": "count",
    **{k: ("count" if k.endswith(("batches", "rows")) else "MB" if k.endswith("_mb") else "s")
       for k in STREAM_KEYS},
    "jvm.gc_s": "s",
    "jvm.heap_used_peak_mb": "MB",
    "process.peak_rss_mb": "MB",
    "trace.suite_s": "s",
    "trace.untraced_suite_s": "s",
    "trace.overhead_frac": "ratio",
}

MIN_PASSES = 2


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Environment for the session and its Python workers: workers must
    import the engine package however the benchmark was launched.  All
    else is ``get_spark()``'s own default."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores()))


def steal_jiffies() -> int:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def canary(spark) -> dict:
    """Fixed CPU-bound job (xxhash over 25M ids per core): min of 3 after
    one warm-up, with the host's 1-minute load average."""
    n = cores()
    df = spark.range(0, 25_000_000 * n, 1, 2 * n).selectExpr("bit_xor(xxhash64(id)) AS h")
    df.write.format("noop").mode("overwrite").save()
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return {"canary_s": min(samples), "load1": os.getloadavg()[0], "cores": n}


class Run:
    """One benchmark process: set-up, passes, checks, report."""

    def __init__(self, args, wl, layout_name: str, layout: str):
        self.args = args
        self.wl = wl
        self.layout_name = layout_name
        self.layout = layout
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.fps: dict[str, list[tuple[str, int]]] = {}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """Engine set-up as a user does it."""
        span = self.tracer.span
        from presto_copy_spark import engine as engine_mod
        from presto_copy_spark.catalog import register_tables
        from presto_copy_spark.functions import register_all
        from presto_copy_spark.queries import registry, sqltext
        from presto_copy_spark.session import get_spark

        with span("queries.load_all_s"):
            registry.load_all()
        self.registry = registry
        with span("session.get_spark_s"):
            self.spark = get_spark("perfbench")
        if self.trace:
            self._install_wrappers(engine_mod)
        if self.wl.path == "sql":
            # Engine init registers the catalog and the compat functions
            self.engine = engine_mod.Engine(self.spark, self.layout)
        else:
            with span("functions.register_all_s"):
                register_all(self.spark)
            with span("catalog.register_tables_s"):
                register_tables(self.spark, self.layout)
        self.statements = self.wl.statements(registry, sqltext)
        if self.args.inject_failure:
            from workloads import Statement

            self.statements.append(
                Statement("injected_wrong_result", "SELECT 1 AS x",
                          sql="SELECT 2 AS x", builder="tpch_q06")
            )

    def _install_wrappers(self, engine_mod) -> None:
        """Spans around the module functions a statement calls into."""
        wrap = self.tracer.wrap
        engine_mod.register_all = wrap("functions.register_all_s", engine_mod.register_all)
        engine_mod.register_tables = wrap(
            "catalog.register_tables_s", engine_mod.register_tables
        )
        engine_mod.Engine.transpile = staticmethod(
            wrap("dialect.transpile_s", engine_mod.Engine.transpile)
        )

    # -- one statement -------------------------------------------------------
    def call(self, st, sink: str):
        """Timed region of one statement; returns (seconds, pandas result
        or None).  ``sink`` is "fetch" (toPandas) or "noop"."""
        span = self.tracer.span
        t0 = time.perf_counter()
        if st.sql is not None and self.wl.path == "sql":
            with span("engine.sql_s"):
                df = self.engine.sql(st.sql)
        else:
            with span("queries.build_s"):
                df = self.registry.QUERIES[st.builder](self.spark, self.layout)
        with span("client.action"):
            if sink == "fetch":
                pdf = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                pdf = None
        return time.perf_counter() - t0, pdf

    def attempt(self, st, sink: str, tag: str):
        """Run one statement; record failures; returns seconds or None."""
        from oracle import fingerprint

        self.attempted += 1
        self.tracer.statement = f"{tag}:{st.name}"
        try:
            with self.tracer.span(st.name, kind="statement"):
                secs, pdf = self.call(st, sink)
        except Exception as e:  # noqa: BLE001 — any failure is a counted error
            self.failed += 1
            self.errors.append(f"{st.name} [{tag}]: {type(e).__name__}: {str(e)[:300]}")
            log(f"FAILED {st.name} [{tag}]: {str(e)[:300]}")
            return None
        if pdf is not None:
            self.fps.setdefault(st.name, []).append(fingerprint(pdf))
        return secs

    # -- passes --------------------------------------------------------------
    def order(self, pass_no: int) -> list:
        sts = list(self.statements)
        random.Random(self.args.seed * 1000 + pass_no).shuffle(sts)
        return sts

    def prewarm(self) -> float:
        """The workload's prewarm passes, fetching every result (checked
        later); their statement time counts as set-up."""
        total = 0.0
        for n in range(1, self.wl.prewarm_passes + 1):
            for st in self.order(-n):
                secs = self.attempt(st, "fetch", f"prewarm{n}")
                total += secs or 0.0
        return total

    def sweep(self) -> None:
        """Release dead DataFrames' JVM blocks between passes."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def measure(self) -> list[dict]:
        sink = "fetch" if self.wl.path == "sql" else "noop"
        probes = self._layer_probes() if self.trace else None
        passes: list[dict] = []
        # a traced run alternates plain and traced passes after one more
        # plain warm-up pass, so the overhead compares equally warm passes:
        # it needs plain, traced, plain at least
        min_passes = 3 if self.trace else MIN_PASSES
        t0 = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - t0 < self.args.seconds:
            n = len(passes)
            traced = self.trace and n % 2 == 1
            self.sweep()
            rec = {"traced": traced, "lat": {}}
            cpu0 = tree_cpu_s()
            if traced:
                layers = self._traced_pass(n, sink, probes, rec)
                rec["layers"] = layers
            else:
                self.tracer.enabled = False
                for st in self.order(n):
                    secs = self.attempt(st, sink, f"pass{n}")
                    if secs is not None:
                        rec["lat"][st.name] = secs
            rec["suite_s"] = sum(rec["lat"].values())
            rec["cpu_s"] = tree_cpu_s() - cpu0
            passes.append(rec)
            log(f"pass {n}{' traced' if traced else ''}: {rec['suite_s']:.3f} s")
        self.tracer.enabled = self.trace
        return passes

    def _layer_probes(self):
        return {
            "query": QueryListener(self.spark),
            "stream": make_stream_probe(self.spark),
            "jvm": JvmProbe(self.spark),
        }

    def _traced_pass(self, n: int, sink: str, probes, rec: dict) -> dict:
        tr = self.tracer
        tr.enabled = True
        q, stream, jvm = probes["query"], probes["stream"], probes["jvm"]
        q.register()
        stream.on()
        stream.reset()
        q.collect()  # drop anything queued before the pass
        first_span = len(tr.spans)
        layers: dict[str, float] = {}
        fetch = 0.0
        rows = 0
        jvm.start()
        marks0 = scheduler_marks(self.spark)
        for st in self.order(n):
            before = len(tr.spans)
            secs = self.attempt(st, sink, f"pass{n}")
            ev = q.collect()
            if secs is None:
                continue
            rec["lat"][st.name] = secs
            action = tr.total("client.action", before)
            fetch += max(0.0, action - ev.pop("last_exec_s"))
            for k, v in ev.items():
                layers[k] = layers.get(k, 0.0) + v
            if sink == "fetch" and st.name in self.fps:
                rows += self.fps[st.name][-1][1]
        marks1 = scheduler_marks(self.spark)
        suite = sum(rec["lat"].values())
        layers.update(jvm.take())
        layers.update(stage_totals(self.spark, marks0, marks1))
        layers.update(stream.take())
        layers["client.fetch_s"] = fetch
        layers["client.result_rows"] = float(rows)
        for name in ("dialect.transpile_s", "engine.sql_s", "queries.build_s"):
            layers[name] = tr.total(name, first_span)
        layers["exec.cpu_busy_frac"] = layers["exec.task_cpu_s"] / max(suite * cores(), 1e-9)
        stream.off()
        q.unregister()
        tr.enabled = False
        return layers

    # -- checks --------------------------------------------------------------
    def check(self) -> dict:
        """Compare every recorded fingerprint with the DuckDB oracle."""
        from oracle import Oracle

        oracle = Oracle(self.layout, os.path.join(CACHE, "oracle", f"{self.layout_name}.json"))
        duck = {}
        try:
            for st in self.statements:
                exp = oracle.expected(st.oracle_sql)
                duck[st.name] = exp["duckdb_s"]
                got = self.fps.get(st.name, [])
                bad = [g for g in got if g[0] != exp["fp"]]
                if bad:
                    self.failed += len(bad)
                    self.errors.append(
                        f"{st.name}: {len(bad)} of {len(got)} results differ from"
                        f" the oracle (rows {bad[0][1]} vs {exp['rows']})"
                    )
                    log(f"WRONG {st.name}: {len(bad)}/{len(got)} results differ")
        finally:
            oracle.close()
        return duck

    def close(self) -> None:
        """Stop the session and wait for the JVM and its workers to end."""
        from probes import _descendants

        from pyspark import SparkContext

        try:
            from presto_copy_spark.streaming import jobs

            while jobs._PREVIOUS_OUT_DIRS:
                shutil.rmtree(jobs._PREVIOUS_OUT_DIRS.pop(), ignore_errors=True)
        except ImportError:
            pass
        children = [p for p in _descendants(os.getpid()) if p != os.getpid()]
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
            time.sleep(0.2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def best_latencies(passes: list[dict]) -> dict[str, float]:
    """Each statement's best time over the passes."""
    best: dict[str, float] = {}
    for p in passes:
        for name, secs in p["lat"].items():
            best[name] = min(secs, best.get(name, secs))
    return best


def summarize(run: Run, passes: list[dict], setup_s: float, memory: dict) -> dict:
    """The metrics of the result line."""
    plain = [p for p in passes if not p["traced"]]
    if not run.trace:
        best = best_latencies(plain)
        vals = {
            "setup_s": setup_s,
            "suite_s": sum(best.values()),
            "suite_cpu_s": median([p["cpu_s"] for p in plain]),
            "latency_p50_s": median(list(best.values())),
            "retained_mb": memory["retained_mb"],
        }
        units = END_TO_END
    else:
        traced = [p for p in passes if p["traced"]]
        vals = {k: run.tracer.total(k) if k in SETUP_LAYERS else None for k in PER_LAYER}
        vals["process.peak_rss_mb"] = memory["peak_rss_mb"]
        for k in PER_LAYER:
            if vals[k] is None:
                vals[k] = median([p["layers"].get(k, 0.0) for p in traced])
        vals["trace.suite_s"] = median([p["suite_s"] for p in traced])
        vals["trace.untraced_suite_s"] = median([p["suite_s"] for p in plain[1:]])
        vals["trace.overhead_frac"] = (
            vals["trace.suite_s"] / max(vals["trace.untraced_suite_s"], 1e-9) - 1.0
        )
        units = PER_LAYER
    return {k: {"value": float(vals[k]), "unit": u} for k, u in units.items()}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default=None,
                    help="fixture set to use instead of the workload's (self-test)")
    ap.add_argument("--inject-failure", action="store_true",
                    help="add a statement whose result is wrong (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import presto_copy_spark  # noqa: F401
    except ImportError as e:
        log(f"engine package presto_copy_spark not found next to {HERE}: {e}")
        return 2
    wl = WORKLOADS[args.workload]
    configure_env()
    name, layout, build_s = ensure_layout(CACHE, args.base or wl.base, wl.copies)
    log(f"layout {layout} (built in {build_s:.2f} s)")

    run = Run(args, wl, name, layout)
    try:
        run.setup()
        # from process start, without the input layout's build
        t_boot = time.perf_counter() - T_START - build_s
        prewarm_s = run.prewarm()
        setup_s = t_boot + prewarm_s
        marks = {"setup": time.perf_counter()}
        context = canary(run.spark)
        marks["canary"] = time.perf_counter()
        log(f"setup {setup_s:.2f} s; {json.dumps(context)}")
        steal0, t_meas = steal_jiffies(), time.perf_counter()
        passes = run.measure()
        marks["measure"] = time.perf_counter()
        # share of this guest's CPU time taken by other guests while measuring
        context["steal_frac"] = (steal_jiffies() - steal0) / (
            os.sysconf("SC_CLK_TCK") * os.cpu_count() * (time.perf_counter() - t_meas))
        # the driver and its JVM; the JVM's Python workers come and go, and
        # their forked pages would be counted once per worker
        peaks = process_peaks()
        memory = {
            "peak_rss_mb": sum(
                kb for proc, kb in peaks.items()
                if int(proc.split()[0]) == os.getpid() or proc.split()[1] == "java"
            ) / 1024,
            **retained_mb(run.spark),
        }
        memory["retained_mb"] = memory["jvm_heap_mb"] + memory["driver_rss_mb"]
        marks["memory"] = time.perf_counter()
        duck = run.check()
        marks["check"] = time.perf_counter()
        conf = dict(run.spark.sparkContext.getConf().getAll())
        conf["spark.sql.shuffle.partitions"] = run.spark.conf.get("spark.sql.shuffle.partitions")
        metrics = summarize(run, passes, setup_s, memory)
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "layout": name,
            "input_build_s": build_s,
            "setup_boot_s": t_boot,
            "setup_prewarm_s": prewarm_s,
            # process clock at the end of each phase (build and set-up included)
            "phase_end_s": {k: t - T_START for k, t in marks.items()},
            "prewarm_passes": wl.prewarm_passes,
            "context": context,
            "peak_rss_kb": peaks,
            "memory_mb": memory,
            "passes": [{k: p[k] for k in ("traced", "suite_s", "cpu_s", "lat")}
                       for p in passes],
            "duckdb_s": duck,
            "errors": run.errors,
            "spark_conf": conf,
            "spans": len(run.tracer.spans),
            "metrics": metrics,
        }
        os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
        stem = f"{wl.name}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(CACHE, "results", f"{stem}.json"), "w") as f:
            json.dump(detail, f, indent=1)
        if run.trace:
            os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
            with open(os.path.join(CACHE, "traces", f"{stem}.json"), "w") as f:
                json.dump(run.tracer.spans, f)
    finally:
        if hasattr(run, "spark"):
            run.close()
            log(f"stopped at {time.perf_counter() - T_START:.1f} s")
    for e in run.errors:
        log(f"error: {e}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
