"""Pipeline-level benchmark for orientdb_etl_spark.

Runs one seeded pipeline-config workload through the public API
(``Pipeline(cfg, spark, variables=...).register_table(...).run()``) in a
closed loop: one run at a time, back to back, on ``local[N]`` with N the
number of usable cores. Every run starts with the cache cleared and a fresh
output path, and its output is checked. The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload upsert --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout; inputs, outputs and Spark scratch go to
``.perfbench_work/`` there, and spans and per-run records to
``perfbench-out/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

# untimed runs before the timed ones: runs keep getting faster while the
# JIT compiles the planner and code-generation paths. curate's times fall
# for about six runs; over ten seeds, its timed median after three
# warm-ups read 4% above the one after five (cpu_s 13%). Two more
# warm-ups narrowed curate's run_s spread between seeds but not its cpu_s
# spread, and would cost about 14 s per invocation, which the time budget
# for all runs cannot spare on a slow host.
# upsert levels off from about its fourth pass through the merge sink,
# the first of which is the target build; its first timed run is still
# about 10% slower, which the median of three leaves out
WARMUP_RUNS = {"curate": 3, "upsert": 2}
MIN_RUNS = 3
MIN_TRACE_PAIRS = 2
JVM_HEAP = "2g"
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def _median(xs):
    return statistics.median(xs) if xs else 0.0


_T_START = time.perf_counter()


def _log(msg: str) -> None:
    elapsed = time.perf_counter() - _T_START
    print(f"perfbench [{elapsed:6.1f} s]: {msg}", file=sys.stderr, flush=True)


def _configure_env(work: Path) -> None:
    """Must run before pyspark or the engine is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _start_spark(work: Path):
    from orientdb_etl_spark import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no perf-data file in /tmp
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} "
                f"-Dderby.system.home={work}"
            ),
            "spark.ui.showConsoleProgress": "false",
            # sample the memory manager every 50 ms while tasks run, so each
            # stage records its peak execution and storage memory
            "spark.executor.metrics.pollingInterval": "50ms",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited.
    The Python workers it forked are left to ``_reap_descendants``."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
        gw.shutdown()
    finally:
        gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _become_subreaper() -> None:
    """Have processes orphaned under this one (the JVM's Python workers,
    once the JVM has exited) re-parented to this process instead of to
    init, so that ``_reap_descendants`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_descendants(timeout: float) -> None:
    """Wait until every descendant of this process has ended and been
    reaped; kill those still running after ``timeout`` seconds."""
    import proctree

    deadline, killed = time.monotonic() + timeout, False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left, running or not yet reaped
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            stray = [p for p in proctree.tree() if p != os.getpid()]
            _log(f"killing {len(stray)} processes still running: {stray}")
            for p in stray:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


def _managed_memory_peak(spark, group: str) -> int:
    """Peak bytes of Spark-managed on-heap memory (execution plus storage,
    i.e. cached blocks) over the stages of ``group``'s jobs."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, peak = jsc.statusStore(), 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            metrics = store.lastStageAttempt(sid).peakExecutorMetrics()
            if metrics.isDefined():
                peak = max(peak, metrics.get().getMetricValue("OnHeapUnifiedMemory"))
    return peak


def _warm_up(spark) -> None:
    """Input-independent warm-up: one small shuffle and aggregate, so the
    session's first job is paid in set-up."""
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def _plan_cost(df) -> tuple[float, int]:
    """Catalyst analysis+optimization+planning seconds of ``df``'s lineage
    and the number of operators in its optimized logical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    ms = 0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            ms += opt.get().durationMs()
    nodes, stack = 0, [qe.optimizedPlan()]
    while stack:
        node = stack.pop()
        nodes += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return ms / 1e3, nodes


def _instrument(tracer):
    """Wrap the module entry points a pipeline run passes through; returns
    a function that undoes the wrapping."""
    import orientdb_etl_spark.context as context
    import orientdb_etl_spark.functions.dedup as dedup
    import orientdb_etl_spark.functions.text as text
    import orientdb_etl_spark.operators as operators
    import orientdb_etl_spark.operators.core as core
    import orientdb_etl_spark.operators.relational as relational
    import orientdb_etl_spark.pipeline as pipeline
    import orientdb_etl_spark.streaming.ops as ops

    saved = []

    def patch(owner, attr, wrapped):
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapped)

    patch(pipeline, "resolve_source", tracer.wrap("sources", pipeline.resolve_source))
    patch(pipeline, "render_value", tracer.wrap("exprs", pipeline.render_value))
    patch(pipeline, "run_loader", tracer.wrap("loaders", pipeline.run_loader))
    patch(pipeline.Pipeline, "compile", tracer.wrap("pipeline", pipeline.Pipeline.compile))
    patch(context.PipelineContext, "resolve_miss_checks",
          tracer.wrap("pipeline", context.PipelineContext.resolve_miss_checks))
    orig_apply = pipeline.apply_transformer

    def apply_transformer(ctx, df, name, cfg):
        with tracer.span("operators", name):
            return orig_apply(ctx, df, name, cfg)

    patch(pipeline, "apply_transformer", apply_transformer)
    for mod in (operators, core, relational):
        patch(mod, "translate_osql", tracer.wrap("exprs", mod.translate_osql))
    # operators import these inside their bodies, so module attributes are
    # looked up at call time
    patch(text, "add_text_metrics", tracer.wrap("functions", text.add_text_metrics))
    patch(dedup, "minhash_lsh_dedup", tracer.wrap("functions", dedup.minhash_lsh_dedup))
    orig_upsert = ops.foreach_batch_upsert

    def foreach_batch_upsert(*args, **kwargs):
        return tracer.wrap("streaming", orig_upsert(*args, **kwargs), "merge")

    patch(ops, "foreach_batch_upsert", foreach_batch_upsert)

    def undo():
        for owner, attr, value in reversed(saved):
            setattr(owner, attr, value)

    return undo


class Bench:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.records: list[dict] = []
        self.spans: list[dict] = []

    def run_pipeline(self, config: dict, tables: dict, variables: dict | None = None):
        from orientdb_etl_spark import Pipeline

        p = Pipeline(config, self.spark, variables=variables)
        for name, df in tables.items():
            p.register_table(name, df)
        return p.run()

    def check(self, out: Path) -> list[str]:
        a, c = self.args, self.checker
        c.stdin.write(json.dumps([a.workload, a.seed, str(self.wl.data), str(out)]) + "\n")
        c.stdin.flush()
        reply = c.stdout.readline()
        if not reply:
            raise RuntimeError(f"checker exited with code {c.wait()}")
        return json.loads(reply)

    def attempt(self, phase: str, tracer=None) -> dict:
        """One closed-loop pipeline run, its measurements and its check."""
        import proctree
        from spans import GROUP_PROPS, layer_metrics

        wl, i = self.wl, len(self.records)
        out = self.work / "out" / f"run{i}"
        wl.prepare(out)
        self.spark.catalog.clearCache()
        rec = {"run": i, "phase": phase}
        result = root = meter = None
        # the run's jobs form one group, whose stages give its memory peak
        sc, group = self.spark.sparkContext, f"perfbench-run-{i}"
        sc.setJobGroup(group, phase)
        try:
            with proctree.RunMeter(self.jvm_pid, self.exclude) as meter:
                t0 = time.perf_counter()
                if tracer is None:
                    result = self.run_pipeline(wl.config(out), self.tables, wl.variables(out))
                else:
                    with tracer.span("pipeline", "run") as root:
                        result = self.run_pipeline(
                            wl.config(out), self.tables, wl.variables(out)
                        )
                rec["run_s"] = time.perf_counter() - t0
            problems = self.check(out)
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            problems = [traceback.format_exc(limit=3)]
        finally:
            for key in GROUP_PROPS:
                sc.setLocalProperty(key, None)
        rec["ok"], rec["problems"] = not problems, problems
        if "run_s" in rec:
            rec.update(
                cpu_s=meter.cpu_s,
                external_busy_frac=meter.external_busy_frac,
                steal_frac=meter.steal_frac,
                contended=meter.contended,
            )
            if tracer is None:
                rec["python_peak_mb"] = meter.python_peak_bytes / 2**20
                rec["spark_managed_peak_mb"] = _managed_memory_peak(self.spark, group) / 2**20
                rec["peak_rss_mb"] = rec["python_peak_mb"] + rec["spark_managed_peak_mb"]
        if root is not None and result is not None:
            run_spans = [s for s in tracer.spans if s.id >= root.id]
            rec["layers"] = layer_metrics(
                run_spans, wl.input_rows, wl.input_bytes,
                result.stats.rows_loaded, *_plan_cost(result.df),
            )
            self.spans.extend(s.as_dict() for s in run_spans)
        shutil.rmtree(out, ignore_errors=True)
        self.records.append(rec)
        _log(
            f"{phase} run {i}: ok={rec['ok']} run_s={rec.get('run_s', 0):.3f} "
            f"cpu_s={rec.get('cpu_s', 0):.2f} py_mb={rec.get('python_peak_mb', 0):.0f} "
            f"spark_mb={rec.get('spark_managed_peak_mb', 0):.0f} "
            f"ext_busy={rec.get('external_busy_frac', 0):.2f}"
            + ("" if rec["ok"] else f" problems={problems}")
        )
        return rec

    def window(self, phase: str, seconds: float, min_runs: int) -> list[dict]:
        recs, t_end = [], time.perf_counter() + seconds
        while len(recs) < min_runs or time.perf_counter() < t_end:
            recs.append(self.attempt(phase))
        return recs

    def traced_window(self, seconds: float, min_pairs: int) -> tuple[list[dict], list[dict]]:
        """Alternate untraced and traced runs, so that the tracing overhead
        is not confounded with the runs still getting faster."""
        from spans import Tracer

        tracer = Tracer(self.spark)
        timed, traced, t_end = [], [], time.perf_counter() + seconds
        while len(traced) < min_pairs or time.perf_counter() < t_end:
            timed.append(self.attempt("timed"))
            undo = _instrument(tracer)
            try:
                traced.append(self.attempt("traced", tracer))
            finally:
                undo()
        return timed, traced

    def run(self) -> dict:
        import workloads

        args = self.args
        self.checker = checker = subprocess.Popen(
            [sys.executable, workloads.__file__],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.exclude = frozenset([checker.pid])
        self.spark = None
        try:
            t0 = time.perf_counter()
            self.spark = _start_spark(self.work)
            _warm_up(self.spark)
            setup_s = time.perf_counter() - t0
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
            _log(f"set-up {setup_s:.2f} s")
            self.wl = workloads.make(args.workload, args.seed, self.work / "data")
            self.wl.generate(self.spark)
            _log("inputs generated")
            if isinstance(self.wl, workloads.Upsert):
                self.wl.build_target(self.spark, self.run_pipeline)
            self.tables = self.wl.tables(self.spark)
            _log(f"inputs ready after {time.perf_counter() - t0:.2f} s")
            for _ in range(WARMUP_RUNS[args.workload]):
                self.attempt("warmup")
            if not args.trace:
                return self.summary(setup_s, self.window("timed", args.seconds, MIN_RUNS))
            return self.summary(setup_s, *self.traced_window(args.seconds, MIN_TRACE_PAIRS))
        finally:
            try:
                checker.stdin.close()  # end of requests
                checker.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                checker.kill()
                checker.wait()
            if self.spark is not None:
                t1 = time.perf_counter()
                _stop_spark(self.spark)
                _log(f"stopped in {time.perf_counter() - t1:.2f} s")

    def summary(self, setup_s: float, timed: list[dict], traced: list[dict] | None = None) -> dict:
        # runs keep getting faster while the JIT warms up; medians over the
        # first MIN_RUNS timed runs keep a faster host, which fits more runs
        # into the window, from also reporting later, warmer runs
        ok = [r for r in timed[:MIN_RUNS] if r["ok"]]

        def med(recs, key):
            return _median([r[key] for r in recs if key in r])

        run_s = med(ok, "run_s")
        if traced is None:
            metrics = {
                "run_s": (run_s, "s"),
                "rows_per_s": (self.wl.input_rows / run_s if run_s else 0.0, "1/s"),
                "cpu_s": (med(ok, "cpu_s"), "s"),
                "peak_rss_mb": (med(ok, "peak_rss_mb"), "MB"),
                "setup_s": (setup_s, "s"),
            }
        else:
            layered = [r["layers"] for r in traced if r["ok"] and "layers" in r]
            metrics = {
                k: (_median([lay[k] for lay in layered]), _unit(k))
                for k in (layered[0] if layered else {})
            }
            traced_s = med([r for r in traced if r["ok"]], "run_s")
            every = timed + traced
            metrics.update({
                "trace.run_s": (traced_s, "s"),
                "trace.overhead_s": (traced_s - run_s, "s"),
                "host.external_busy_frac": (med(every, "external_busy_frac"), "ratio"),
                "host.steal_frac": (med(every, "steal_frac"), "ratio"),
                "host.contended_runs": (float(sum(bool(r.get("contended")) for r in every)), "count"),
            })
        failed = sum(not r["ok"] for r in self.records)
        return {
            "correct": failed == 0,
            "attempted": len(self.records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _unit(metric: str) -> str:
    suffix = metric.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_bytes"):
        return "bytes"
    if suffix.endswith(("_frac", "_ratio", "amplification", "skew")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["curate", "upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "orientdb_etl_spark" / "__init__.py").is_file():
        _log(f"no orientdb_etl_spark package under {root}; run from a checkout root")
        return 2
    sys.path.insert(0, str(root))
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    _become_subreaper()
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        _reap_descendants(timeout=30)
        shutil.rmtree(work, ignore_errors=True)
    out = root / "perfbench-out"
    out.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out / f"{stem}.json").write_text(
        json.dumps({"result": result, "runs": bench.records, "spans": bench.spans})
    )
    _log("done")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
