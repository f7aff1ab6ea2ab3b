"""Benchmark of the dww_data_pipeline_spark engine.

    python3 perfbench/run.py --workload artifact|ingest|headline \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One Python process drives the engine
through its public entry points (``session.get_spark``, the
``plans.registry`` builders, ``sources.*`` and ``streaming.*``) on
``local[<cores>]``, where cores is the CPU count this process may use.
It generates its input tables (``datagen.py``), runs one untimed
warm-up pass of every operation, then complete timed passes until
``--seconds`` have passed (at least one), then checks the
outputs, and prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, untraced.  ``--trace 1``
alternates untraced passes with passes run under the layer wrappers of
``tracing.py`` and reports the per-layer metrics summed per traced pass,
plus the tracing overhead; its spans and per-operation records go to
``.perfbench_out/``.  The line before the result is a
``perfbench-summary`` JSON object with the run's details (cores, sf,
seed, fail_ratio, pass and op breakdowns).  Everything else the run
writes lives in a temporary directory under ``.perfbench_tmp/`` that is
removed at exit; DuckDB oracle answers are cached in
``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, tracing, workloads  # noqa: E402

SF = 0.01
DATA_SEED = 42
# a fixed heap near what the inputs need keeps the JVM's resident size,
# and so peak_rss_mb, from following the collector's whims up to 8g
DRIVER_MEM = "2g"
# passes every timed section runs at least: one keeps a run near a
# minute, as set-up (JVM start plus a cold warm-up pass) is two thirds
# of it on 4 cores
MIN_PASSES = 1


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"perfbench [{process_age():7.2f}s] {msg}", file=sys.stderr, flush=True)


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus its JVM, from /proc."""

    def __init__(self, period=0.1):
        super().__init__(daemon=True)
        self.period, self.pids, self.peak_kb = period, [os.getpid()], 0
        self._halt = threading.Event()

    @staticmethod
    def _rss_kb(pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self):
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))

    def run(self):
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self):
        self._halt.set()
        self.join()
        self.sample()


def percentile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_level(n: int) -> float:
    """Highest whole percentile with at least 10 of ``n`` samples
    beyond it.  Below 20 samples that percentile would sit under the
    median, so the tail is then the interpolated 90th percentile: in a
    closed loop of fixed operations it leans on the second slowest
    operation of the pass, so one stalled operation moves it less than
    it moves the slowest."""
    level = (100 * (n - 10)) // n
    return level / 100 if level >= 50 else 0.9


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale factor of the inputs")
    return ap.parse_args(argv)


def pin_run_dir(run_dir: str) -> None:
    """Send every temporary file of this process, its JVM and Spark into
    ``run_dir``, make it the working directory and fix the heap."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}" pyspark-shell')
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.chdir(run_dir)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    cwd = os.getcwd()
    pin_run_dir(run_dir)
    try:
        try:
            from dww_data_pipeline_spark.session import get_spark
            from tools import diffcheck  # noqa: F401 - the oracle helpers
        except ImportError as e:
            print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
            return 2
        return Run(args, run_dir).main(get_spark)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass


class Run:
    def __init__(self, args, run_dir):
        self.args, self.run_dir = args, run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def on_op(self, sink):
        """Count an operation; keep it in ``sink`` unless it failed."""
        def record(op):
            self.attempted += 1
            if op.error is not None or op.seconds > workloads.OP_TIMEOUT_S:
                self.failed += 1
                self.errors.append(f"{op.name}: {op.error or 'timeout'}")
            else:
                sink.append(op)
        return record

    def main(self, get_spark) -> int:
        args = self.args
        rss = RssSampler()
        rss.start()
        sf_dir = os.path.join(self.run_dir, "data")
        datagen.generate(sf_dir, args.sf, DATA_SEED)
        t = time.perf_counter()
        spark = get_spark("perfbench", cpus=str(self.cores))
        get_spark_s = time.perf_counter() - t
        try:
            rss.pids.append(int(spark.sparkContext._jvm.java.lang.ProcessHandle
                                .current().pid()))
            tracing.import_engine()
            workload = workloads.WORKLOADS[args.workload]()
            ctx = workloads.Ctx(spark, sf_dir, self.run_dir, args.seed, args.sf,
                                DATA_SEED, os.path.join(ROOT, ".perfbench_cache"))
            workload.setup(ctx)
            t = time.perf_counter()
            warm_ops = []
            workload.warmup(ctx, self.on_op(warm_ops))
            warmup_s = time.perf_counter() - t
            setup_s = process_age()
            log(f"set up: get_spark {get_spark_s:.2f}s, warm-up pass {warmup_s:.2f}s")
            if args.trace:
                metrics, extra = self.traced(spark, workload, ctx)
                metrics["session.get_spark_s"] = (get_spark_s, "s")
                metrics["session.warmup_s"] = (warmup_s, "s")
            else:
                metrics, extra = self.timed(workload, ctx)
                metrics["setup_s"] = (setup_s, "s")
            wrappers_left = tracing.installed_wrappers()
            log("timed passes done")
            try:
                checks = workload.check(ctx)
            except Exception as e:  # noqa: BLE001 - a failed check, not a crash
                checks = [("check", False, repr(e))]
            log("checks done")
        finally:
            stop_spark(spark)
            rss.stop()
            log("session stopped")
        for name, ok, why in checks:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(f"check {name}: {why}")
        if not args.trace:
            metrics["peak_rss_mb"] = (rss.peak_kb / 1024.0, "MB")
        summary = {
            "workload": args.workload, "seed": args.seed, "sf": args.sf,
            "cores": self.cores, "trace": args.trace,
            "fail_ratio": {"value": self.failed / self.attempted, "unit": "ratio"},
            "checks": {n: ok for n, ok, _ in checks},
            "errors": self.errors[:20], "wrappers_left": wrappers_left,
            "warmup_ops": {op.name: round(op.seconds, 3) for op in warm_ops}, **extra,
        }
        print("perfbench-summary " + json.dumps(summary), flush=True)
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0

    # ------------------------------------------------------------ timing

    def timed(self, workload, ctx):
        """Complete passes until --seconds have passed and at least
        MIN_PASSES ran; the end-to-end metrics other than set-up.  The
        tail is taken within each pass, whose sample count is fixed, and
        its median over passes is reported."""
        passes, pass_ops = [], []
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t0 < self.args.seconds:
            ops = []
            t = time.perf_counter()
            workload.run_pass(ctx, len(passes), self.on_op(ops),
                              lambda name: nullcontext())
            passes.append(time.perf_counter() - t)
            pass_ops.append(ops)
        ops = [op for p in pass_ops for op in p]
        level = tail_level(workload.ops_per_pass())
        metrics = {
            "pass_s": (statistics.median(passes), "s"),
            "op_p50_s": (statistics.median(op.seconds for op in ops), "s"),
            "op_tail_s": (statistics.median(
                percentile([op.seconds for op in p], level) for p in pass_ops if p), "s"),
        }
        by_name: dict[str, list] = {}
        for op in ops:
            by_name.setdefault(op.name, []).append(op.seconds)
        extra = {
            "passes": [round(p, 4) for p in passes],
            "ops": len(ops),
            "op_tail_percentile": round(100 * level),
            "op_tail_samples_per_pass": workload.ops_per_pass(),
            "op_median_s": {n: round(statistics.median(v), 4) for n, v in by_name.items()},
        }
        return metrics, extra

    def traced(self, spark, workload, ctx):
        """Untraced and traced passes in turn (at least untraced, traced,
        untraced); the traced ones run with every wrapper installed.
        Returns the per-layer metrics summed per traced pass."""
        untraced: dict[str, list] = {}

        @contextmanager
        def timing_scope(name):
            t = time.perf_counter()
            yield
            untraced.setdefault(name, []).append(time.perf_counter() - t)

        tracer = tracing.Tracer(spark)
        records = []

        @contextmanager
        def op_scope(name):
            tracer.collect_jobs()            # nothing from before leaks in
            tracer.op = len(records)
            first = len(tracer.spans)
            try:
                with tracer.span("op:" + name):
                    yield
            finally:
                tracer.collect_jobs()
                spans = tracer.spans[first:]
                records.append({"op": tracer.op, "name": name, "seconds": spans[0].dur,
                                **tracing.op_layers(spans, self.cores),
                                "operators": tracing.operator_breakdown(spans)})
                tracer.op = None

        untraced_passes, passes, pass_stats = [], [], []
        wrappers = None
        t0 = time.perf_counter()
        k = 0
        while k < 3 or time.perf_counter() - t0 < self.args.seconds:
            t = time.perf_counter()
            if k % 2 == 0:
                workload.run_pass(ctx, k, self.on_op([]), timing_scope)
                untraced_passes.append(time.perf_counter() - t)
            else:
                ctx.tracer = tracer
                wrappers = tracer.install()
                try:
                    pass_stats.append(workload.run_pass(ctx, k, self.on_op([]), op_scope))
                finally:
                    tracer.uninstall()
                    ctx.tracer = None
                passes.append(time.perf_counter() - t)
            k += 1
        untraced_pass = statistics.median(untraced_passes)
        n = len(passes)
        per_pass = {key: sum(r[key] for r in records) / n
                    for key in records[0] if "." in key}
        for stats in pass_stats:
            for key, v in stats.items():
                per_pass[key] = per_pass.get(key, 0.0) + v / n
        metrics = {key: (per_pass.get(key, 0.0), unit) for key, unit in _units().items()}
        lookups = per_pass["sources.tokenizer_store.lookups"]
        metrics["sources.tokenizer_store.hit_ratio"] = (
            per_pass["sources.tokenizer_store.hits"] / lookups if lookups else 0.0, "ratio")
        ex = per_pass["exec.exec_s"]
        metrics["exec.core_idle_ratio"] = (
            1 - per_pass["exec.task_run_s"] / (ex * self.cores) if ex else 0.0, "ratio")
        metrics["trace.overhead_s"] = (statistics.median(passes) - untraced_pass, "s")
        # build + plan + exec of each traced operation against the
        # untraced latency of the same operation
        for r in records:
            r["untraced_s"] = statistics.median(untraced[r["name"]])
        metrics["trace.accounted_ratio"] = (
            sum(r["plans.build_s"] + r["catalyst.plan_s"] + r["exec.exec_s"]
                for r in records) / sum(r["untraced_s"] for r in records), "ratio")
        path = os.path.join(
            ROOT, ".perfbench_out", f"trace-{self.args.workload}-seed{self.args.seed}.json")
        tracer.dump(path, {"workload": self.args.workload, "seed": self.args.seed,
                           "cores": self.cores, "untraced_pass_s": untraced_passes,
                           "traced_pass_s": passes, "wrappers": wrappers,
                           "ops": records})
        extra = {"trace_file": os.path.relpath(path, ROOT),
                 "untraced_pass_s": [round(p, 4) for p in untraced_passes],
                 "traced_pass_s": [round(p, 4) for p in passes],
                 "wrappers_bound_patched": [sum(b for b, _ in wrappers.values()),
                                            sum(p for _, p in wrappers.values())]}
        return metrics, extra


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
