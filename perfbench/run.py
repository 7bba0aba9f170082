"""Closed-loop benchmark of the tsv_utils_spark sketch engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload code_lang --seed 1 --seconds 15 --trace 0

One process, one Spark job at a time, on ``local[<cores>]``. A run:

1. sets up three times (session start, table generation from ``--seed``,
   load, one warm-up job) and reports the median as ``setup_s``;
2. computes the exact answers once with Spark's exact aggregates;
3. runs the workload's sketch job back to back for ``--seconds`` seconds,
   scoring every output against its published error bound outside the
   timed window;
4. prints human-readable lines, then as its last line one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced jobs, then times each layer on its own (see
``layers.py``) and reports the per-layer metrics instead.

The library only ever receives the generated table. All files the run
writes (tables, Spark scratch, traces) stay under ``.perfbench_work/`` in
the repository root, the parent of this package's directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUPS = 3     # set-ups per run; setup_s is their median
MIN_JOBS = 3   # a run always completes this many jobs, however slow


@dataclass(frozen=True)
class Workload:
    keys: tuple
    specs: tuple          # (op, col, out, params) per sketch
    rows: int
    n_repos: int | None   # None: the generator's default, rows // 1000


# Few groups against many skewed ones: group cardinality decides whether
# the level-1 stage or the level-2 merge carries the work. The sizes are
# the smallest at which the traced ledger shows that split clearly
# (level-1 about 60% of a code_lang job, merge about two thirds of a
# code_repo job) while a run with its three set-ups fits in about a
# minute. code_repo keeps the 600-repo cap of a 600k-row table.
WORKLOADS = {
    "code_lang": Workload(
        keys=("lang",),
        specs=(("hll", "path", "paths", {}),
               ("hll", "repo", "repos", {}),
               ("cm", "repo", "top_repo", {"finalize": "mode"}),
               ("kll", "size_chars", "sz", {"quantiles": [0.5, 0.99]})),
        rows=200_000, n_repos=None),
    "code_repo": Workload(
        keys=("repo",),
        specs=(("hll", "path", "paths", {}),
               ("cm", "lang", "top_lang", {"finalize": "mode"}),
               ("kll", "size_chars", "sz", {"quantiles": [0.5, 0.99]})),
        rows=100_000, n_repos=600),
}


def isolate_environment(run_dir: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside run_dir.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # A fixed, pre-touched 1 GB heap: the library's 24g default is sized
    # for big hosts, and a heap that grows with GC timing would make
    # peak_rss_mb vary run to run. What still moves peak_rss_mb is memory
    # outside the JVM heap: this process, the Python workers, off-heap.
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-Djava.net.preferIPv4Stack=true -Xms1g -XX:+AlwaysPreTouch "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


@dataclass
class Run:
    """State of one benchmark run."""
    name: str
    wl: Workload
    seed: int
    seconds: float
    trace: bool
    corrupt: bool
    run_dir: str
    conf: dict
    cores: int = field(default_factory=lambda: len(os.sched_getaffinity(0)))
    spark: object = None
    df: object = None
    specs: list = field(default_factory=list)
    exact: object = None
    tracer: object = None
    last_out: object = None   # DataFrame of the latest job
    profiles: list = field(default_factory=list)  # layers.job_profile per traced job
    attempted: int = 0
    failed: int = 0
    max_ratio: float = 0.0
    problems: list = field(default_factory=list)

    @property
    def table_path(self) -> str:
        return os.path.join(self.run_dir, "table")

    def load(self):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.table_path) \
            .withColumn("size_chars", F.length("content").cast("double"))

    def record(self, score, what: str) -> None:
        """Count one checked output."""
        self.max_ratio = max(self.max_ratio, score.max_ratio)
        self.count(score.ok, f"{what}: {'; '.join(score.problems)}")

    def count(self, ok: bool, problem: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 10:
                self.problems.append(problem)

    def job(self):
        """The workload's job: build the sketch plan, collect its result."""
        from tsv_utils_spark.plans import sketch_agg

        tr = self.tracer
        with tr.span("plans.build"):
            out = sketch_agg(self.df, list(self.wl.keys), self.specs)
        self.last_out = out
        with tr.span("spark.execute"):
            rows = out.collect()
        if self.corrupt:
            # smoke-test hook: a deliberately wrong estimate in every job
            hll = next(s.out for s in self.specs if s.op == "hll")
            rows = [r.asDict() for r in rows]
            rows[0][hll] = rows[0][hll] * 1.5 + 1000
        return rows


def set_up(run: Run) -> float:
    """Session start, table generation, load and one warm-up job."""
    from tsv_utils_spark.session import get_spark
    from tsv_utils_spark.sources.codegen import synthesize_source_code_table

    tr = run.tracer
    t0 = time.perf_counter()
    if run.spark is not None:
        run.spark.stop()
    with tr.span("session.start"):
        run.spark = get_spark("perfbench", cores=run.cores,
                              shuffle_partitions=run.cores,
                              extra_conf=run.conf)
    with tr.span("sources.gen"):
        synthesize_source_code_table(
            run.spark, run.wl.rows, n_repos=run.wl.n_repos, seed=run.seed,
            partitions=run.cores).write.mode("overwrite").parquet(run.table_path)
    with tr.span("sources.load"):
        run.df = run.load()
        run.df.count()
    with tr.span("warmup"), tr.paused():
        run.job()
    return time.perf_counter() - t0


def timed_loop(run: Run, traced_every: int) -> tuple[list, list]:
    """Jobs back to back for run.seconds; returns (untraced, traced) wall
    times. Every ``traced_every``-th job is traced (0: none): it runs in a
    Spark job group of its own, whose stages and plan metrics are read
    after the job (``layers.job_profile``)."""
    from contextlib import nullcontext

    tr = run.tracer
    sc = run.spark.sparkContext
    quiet, traced = [], []
    deadline = time.perf_counter() + run.seconds
    i = 0
    while time.perf_counter() < deadline or len(quiet) + len(traced) < MIN_JOBS:
        use_trace = bool(traced_every) and i % traced_every == 1
        times = traced if use_trace else quiet
        group = f"perfbench-job-{i}"
        tr.new_trace()
        with (nullcontext() if use_trace else tr.paused()):
            t0 = time.perf_counter()
            try:
                if use_trace:
                    sc.setJobGroup(group, "traced job")
                with tr.span("job"):
                    rows = run.job()
            except Exception as e:  # noqa: BLE001 — a failed job is counted, not fatal
                rows = None
                run.count(False, f"job {i} raised {type(e).__name__}: {e}")
            finally:
                if use_trace:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            times.append(time.perf_counter() - t0)
            if rows is not None:
                with tr.span("oracle.check"):
                    run.record(run.exact.score(rows), f"job {i}")
                if use_trace:
                    import layers

                    run.profiles.append(layers.job_profile(run, group))
        i += 1
    return quiet, traced


def shut_down(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    except Py4JError:
        pass  # the gateway connection broke (run interrupted); stop the JVM below
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's table size (smoke tests)")
    ap.add_argument("--corrupt", action="store_true",
                    help="falsify one estimate per job (smoke tests)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import tsv_utils_spark  # noqa: F401 — fail before any work if absent

    wl = WORKLOADS[args.workload]
    if args.rows:
        wl = Workload(wl.keys, wl.specs, args.rows,
                      wl.n_repos and max(10, wl.n_repos * args.rows // wl.rows))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    conf = isolate_environment(run_dir)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from observe import RssSampler, Tracer

    run = Run(args.workload, wl, args.seed, args.seconds, bool(args.trace),
              args.corrupt, run_dir, conf)
    run.tracer = Tracer(enabled=run.trace)
    try:
        with RssSampler() as rss:
            from tsv_utils_spark.plans import SketchSpec

            run.specs = [SketchSpec(op, col, out, dict(params))
                         for op, col, out, params in wl.specs]
            setups = []
            for _ in range(SETUPS):
                with run.tracer.span("setup"):
                    setups.append(set_up(run))

            from oracle import Exact

            run.exact = Exact(run.df, list(wl.keys), run.specs)
            quiet, traced = timed_loop(run, traced_every=2 if run.trace else 0)
            if run.trace:
                import layers

                metrics = layers.per_layer(run, quiet, traced)
            else:
                metrics = end_to_end(run, quiet, setups)
        if run.trace:
            run.tracer.dump(os.path.join(
                WORK, "traces", f"{run.name}-seed{run.seed}.json"))
        else:
            metrics["peak_rss_mb"] = (rss.peak_mb, "MB")
    finally:
        try:
            shut_down(run.spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    for p in run.problems:
        print(f"FAILED {p}")
    n = len(quiet) + len(traced)
    print(f"workload={run.name} seed={run.seed} cores={run.cores} "
          f"rows={wl.rows} jobs={n} setups={[round(s, 3) for s in setups]}")
    print(f"job_s={[round(t, 3) for t in quiet]}")
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def end_to_end(run: Run, times: list, setups: list) -> dict:
    from observe import median

    return {
        "setup_s": (median(setups), "s"),
        "rows_per_s": (run.wl.rows * len(times) / sum(times), "rows/s"),
        "job_p50_s": (median(times), "s"),
    }


if __name__ == "__main__":
    sys.exit(main())
