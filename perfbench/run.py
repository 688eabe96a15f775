"""Repo benchmark: end-to-end rows/s of the point-in-time feature job on
production-shaped workloads, plus a per-layer trace.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``); the lines before it
are a human-readable report. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

# The engine and the job are imported first: outside a checkout of the
# repository this fails before any input is written or any result printed.
import workloads as W  # noqa: E402
from inputs import PARAMS, ROUTED, SEQ_BUCKETS, ensure_inputs  # noqa: E402
from spans import FIELDS, LAYERS, Tracer, median_of  # noqa: E402

from pyspark.sql import SparkSession  # noqa: E402

WORK = os.path.join(REPO, ".bench_work")
TMP = os.path.join(WORK, "tmp")
# bench.get_spark pins 128-wide shuffles for local[32]. At local[4] on these
# scaled inputs that made a flagship rep 12-16 s of mostly idle tasks, so the
# width is pinned lower; the sequences table keeps one bucket per shuffle
# partition, so the token join stays co-located as in the full-size job.
SHUFFLE_WIDTH = SEQ_BUCKETS
# A fixed heap and young generation: eden is fully touched within the first
# rep, so peak RSS tracks what the engine retains, not GC sizing decisions.
DRIVER_MEM = "4g"
YOUNG_GEN = "1g"
# Spark's generated-class cache holds 100 entries by default. The flagship
# compiles about 90 classes, and the cache evicted about half of them
# between reps: each steady rep compiled 48 classes again, and HotSpot then
# had to JIT-compile them afresh. Reps took 3.4-7.2 s, depending on how the
# evictions fell. With room for every class, steady reps compile none. The
# cold rep still compiles every class once, as each spark-submit does.
CODEGEN_CACHE = 2000
SETUPS = 5  # session restarts whose median is setup_s
# Steady reps whose median is rows_per_s: at least this many, and more
# while the --seconds budget lasts.
MIN_REPS = 3
# Untimed reps after the cold one, while HotSpot is still compiling the
# hot paths. On 4 cores the JIT spent 30, 14, 9, 7 and 4 s of compiler
# time in the first five flagship reps (15.5, 6.1, 5.0, 4.7, 4.1 s wall),
# and 48, 17, 10, 6 and 4 s in the first five featuregen reps (25.7, 13.3,
# 12.1, 9.1, 9.2 s). With one warm-up rep, the three steady reps of a run
# still fell from first to last in about half the runs of either workload
# (flagship 5.0, 4.7, 3.5 s; featuregen 9.8, 6.5, 6.6 s), and the median
# moved with how far the JIT had got. Two warm-up reps level that out.
WARMUP_REPS = {"flagship": 2, "flagship-skewed": 1, "featuregen": 2}
FG_KILL_AFTER = 1  # of the 2 chunks: half the pids stay pending


def cores() -> int:
    return len(os.sched_getaffinity(0))


def contain_writes() -> None:
    """Keep every file the run writes, temp files of Python, the JVM and
    DuckDB included, inside the checkout. Call before anything starts."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    tempfile.tempdir = TMP


def build_session(traced: bool = False) -> SparkSession:
    n = cores()
    b = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{n}]")
        .config("spark.driver.memory", DRIVER_MEM)
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -XX:ActiveProcessorCount={n} "
                f"-XX:-UsePerfData -Djava.io.tmpdir={TMP} -Dderby.system.home={WORK}/derby")
        .config("spark.local.dir", os.path.join(WORK, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_WIDTH))
        # The inputs are scaled down, so size-based join choices would flip
        # to broadcast where the full-size job sort-merge joins on the
        # bucketed table. Explicit broadcast hints still apply.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE))
    )
    # glibc's per-thread malloc arenas make the JVM's RSS vary run to run
    os.environ["MALLOC_ARENA_MAX"] = "2"
    if traced:
        b = b.config("spark.ui.retainedJobs", "100000").config("spark.ui.retainedStages", "100000")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def kill_leg(root: str, out_dir: str) -> int:
    """Run a featuregen job in a child process that the job kills after
    FG_KILL_AFTER chunks; wait for the child and its JVM. Returns pending pids."""
    W.fresh_dir(out_dir)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--kill-leg", root, out_dir],
        stdout=sys.stderr, start_new_session=True)
    try:
        rc = child.wait(timeout=150)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, 9)
        rc = child.wait()
    deadline = time.time() + 60
    while True:  # the JVM outlives its python parent by a moment
        try:
            os.killpg(child.pid, 0)
        except ProcessLookupError:
            break
        if time.time() > deadline:
            os.killpg(child.pid, 9)
        time.sleep(0.1)
    if rc != 42:
        raise RuntimeError(f"killed featuregen job exited {rc}, want 42")
    return len(W.CheckpointManager(W.ParquetJournalTableIO(out_dir), W.FG_PIDS).pending())


class Runner:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seconds, self.trace = workload, seconds, trace
        self.kind = PARAMS[workload]["kind"]
        self.routed = ROUTED[workload]
        self.root, self.ref, self.gen_s = ensure_inputs(WORK, workload, seed)
        self.out = os.path.join(WORK, "out", workload)
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def rep(self, spark, tr) -> float | None:
        """One timed rep from job entry to durable output, then its check.
        Returns the wall time, or None when the rep raised or its output
        did not check."""
        self.attempted += 1
        out = W.fresh_dir(os.path.join(self.out, "rep"))
        # start every rep from a collected heap, so one rep's garbage is
        # not paid for by the next
        spark.sparkContext._jvm.System.gc()
        try:
            t0 = time.perf_counter()
            if self.kind == "flagship":
                info = W.flagship_rep(spark, self.root, out, tr)
                wall = time.perf_counter() - t0
                errs = W.check_flagship(out, self.ref, info, self.routed)
            else:
                W.run_featuregen(self.root, out, tr)
                wall = time.perf_counter() - t0
                errs = W.check_featuregen(spark, out, self.ref, self.routed)
        except Exception:
            errs = [traceback.format_exc(limit=3)]
        if errs:
            self.failed += 1
            self.errors += errs
            return None
        return wall

    def _reps(self, spark):
        """Cold rep, the featuregen resume leg (traced runs), warm-up reps,
        then steady untraced reps; on traced runs, untraced and traced reps
        alternate, so both sample the same stretch of JIT warm-up."""
        off = Tracer(spark, False)
        cold = self.rep(spark, off)
        resume = self.resume_leg(spark) if self.kind == "events" and self.trace else None
        # the resumed job warms the JVM as a warm-up rep would
        for _ in range(0 if resume else WARMUP_REPS[self.workload]):
            self.rep(spark, off)
        steady, traced, layers = [], [], []
        tr = Tracer(spark, True)
        min_reps = 1 if self.trace else MIN_REPS
        t_start = time.perf_counter()
        while (len(steady) < min_reps or (self.trace and not traced)
               or time.perf_counter() - t_start < self.seconds):
            wall = self.rep(spark, off)
            if wall is not None:
                steady.append(wall)
            if self.trace:
                tr.reset()
                wall = self.rep(spark, tr)
                if wall is not None:
                    traced.append(wall)
                    layers.append(tr.layer_metrics(cores()))
            if self.attempted > 100:
                break
        return cold, resume, steady, traced, layers

    def resume_leg(self, spark) -> float | None:
        """Time the resumed invocation over a really killed job."""
        self.attempted += 1
        d = os.path.join(self.out, "resume")
        try:
            pending = kill_leg(self.root, d)
            t0 = time.perf_counter()
            W.run_featuregen(self.root, d)
            wall = time.perf_counter() - t0
            errs = W.check_featuregen(spark, d, self.ref, self.routed)
            if pending != W.FG_PIDS - W.FG_CHUNK * FG_KILL_AFTER:
                errs.append(f"pending after kill: {pending}")
        except Exception:
            errs = [traceback.format_exc(limit=3)]
        if errs:
            self.failed += 1
            self.errors += errs
            return None
        return wall

    def run(self) -> dict:
        n = cores()
        t0 = time.perf_counter()
        spark = build_session(self.trace)
        try:
            W.register_inputs(spark, self.root, self.kind)
            launch_s = time.perf_counter() - t0
            setups = []
            for _ in range(SETUPS):
                spark.stop()
                t0 = time.perf_counter()
                spark = build_session(self.trace)
                W.register_inputs(spark, self.root, self.kind)
                setups.append(time.perf_counter() - t0)
            cold, resume, steady, traced, layers = self._reps(spark)
            rss = jvm_peak_rss_mb(spark)
        finally:
            stop_jvm(spark)
        rows = self.ref["rows"]
        if cold is None or not steady or (self.trace and not traced):
            raise RuntimeError("no successful rep:\n" + "\n".join(self.errors))

        med = statistics.median(steady)
        e2e = {
            "rows_per_s": (rows / med, "rows/s"),
            "cold_rows_per_s": (rows / cold, "rows/s"),
            "setup_s": (statistics.median(setups), "s"),
            "peak_rss_mb": (rss, "MB"),
        }
        report = [
            f"perfbench workload={self.workload} cores={n} rows={rows} "
            f"gen_s={self.gen_s:.3f} jvm_launch_s={launch_s:.3f}",
            f"  rows_per_s       {rows / med:14.1f} rows/s  median of {len(steady)} steady reps "
            f"({', '.join(f'{w:.3f}' for w in steady)} s)",
            f"  cold_rows_per_s  {rows / cold:14.1f} rows/s  first rep of the session (n=1)",
            f"  setup_s          {statistics.median(setups):14.4f} s       median of {SETUPS} set-ups",
            f"  peak_rss_mb      {rss:14.1f} MB      JVM VmHWM",
            f"  error_rate       {self.failed / self.attempted:14.4f} fraction {self.failed}"
            f"/{self.attempted} reps",
        ]
        if resume is not None:
            report.append(f"  resume_s         {resume:14.4f} s       resumed featuregen invocation (n=1)")
        if not self.trace:
            metrics = e2e
        else:
            lm = median_of(layers)
            tmed = statistics.median(traced)
            metrics = {k: (lm.get(k, 0.0), _unit(k)) for k in per_layer_names()}
            metrics["checkpoint.resume_s"] = (resume or 0.0, "s")
            metrics["trace.overhead_pct"] = (100 * (tmed - med) / med, "%")
            self_sum = sum(lm[f"{layer}.wall_s"] for layer in LAYERS)
            metrics["trace.accounted_pct"] = (100 * self_sum / med, "%")
            report.append(f"  traced rep median {tmed:.3f} s (n={len(traced)}), "
                          f"untraced {med:.3f} s; layer self times:")
            report += [f"    {layer:<11} {lm[f'{layer}.wall_s']:8.3f} s" for layer in LAYERS]
        for line in report:
            print(line)
        for e in self.errors:
            print("ERROR " + e.replace("\n", " | ")[:2000], file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


_COUNTS = ("skew.hot_keys", "skew.rows_counted", "checkpoint.commits", "checkpoint.files_out",
           "checkpoint.write_s", "checkpoint.count_rows_s", "checkpoint.journal_s",
           "checkpoint.resume_s", "cache.frames_released", "trace.overhead_pct",
           "trace.accounted_pct")


def per_layer_names() -> list[str]:
    names = [f"{layer}.{f}" for layer in LAYERS if layer != "cache" for f in FIELDS]
    return names + ["cache.wall_s"] + list(_COUNTS)


def _unit(name: str) -> str:
    f = name.split(".", 1)[1]
    if f.endswith("_s"):
        return "s"
    if f.endswith("_mb"):
        return "MB"
    if f.endswith("_pct"):
        return "%"
    return {"busy": "fraction", "task_skew": "ratio"}.get(f, "count")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--kill-leg", nargs=2, metavar=("INPUT", "OUTPUT"), help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    contain_writes()
    if args.kill_leg:
        build_session()
        W.run_featuregen(*args.kill_leg, kill_after=FG_KILL_AFTER)
        return 1  # the job kills this process before returning
    if not args.workload:
        ap.error("--workload is required")
    result = Runner(args.workload, args.seed, args.seconds, bool(args.trace)).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
