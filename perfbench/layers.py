"""Per-layer metrics for a traced run.

The engine's layers are its modules: ``session``, ``sources``, ``plans``,
``sketches`` and ``operators``. Nothing here reaches inside the library:
every number comes from a span around a call into a layer's public
functions, from Spark's own records of a job read after it finished
(stage times and shuffle traffic from the status store, operator metrics
from the executed plan), or from a layer run in this process on captured
inputs.

The ledger splits the workload's own traced jobs along their blocking
path. Its terms, each the median over the run's traced jobs:

    build    ``plans.build_s``: ``sketch_agg`` plan construction in this
             process
    level1   ``plans.level1_s``: the stages that read no shuffle: parquet
             scan, JVM projection and hashing, the level-1 kernel behind
             the Arrow boundary, and the shuffle write of its partials
    merge    ``plans.merge_s``: the stages that read a shuffle: blob
             shuffle read, level-2 merge and finalize
    driver   ``plans.driver_s``: the rest of the job's wall time:
             scheduling, adaptive re-planning and collecting the result

Their sum ``ledger.sum_s`` is compared with the untraced jobs' median
``trace.job_p50_s`` of the same run; the largest term is the dominant layer.
Within level1, ``plans.project_s`` (the stage of a noop write of the keys
and ``SketchSpec.input_expr`` columns) is the floor set by scan and
projection alone, and ``sources.scan_s`` (the raw columns) the floor below
that. The scan runs concurrently with the Python kernel, so the difference
to level1 only bounds, not measures, the kernel and boundary share.
"""

from __future__ import annotations

import os
import time

import numpy as np

from observe import jvm_old_gen_peak_mb, median, plan_nodes, stage_stats

REPS = 3        # repetitions of each layer probe; metrics are medians
CKPT_EPOCHS = 2
MAX_GROUPS = 100_000  # sketch_agg's default max_groups_per_partition


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _with_size_chars(df):
    from pyspark.sql import functions as F

    return df.withColumn("size_chars", F.length("content").cast("double"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _partial_schema(df, keys, n_specs):
    from pyspark.sql import types as T

    return T.StructType(
        [df.schema[k] for k in keys]
        + [T.StructField("__rows", T.LongType())]
        + [T.StructField(f"__blob_{i}", T.BinaryType()) for i in range(n_specs)])


def _stage_wall(spark, group: str, fn) -> float:
    """Summed stage wall time of the Spark jobs ``fn`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "perfbench probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sum(s["wall_s"] for s in stage_stats(spark, group))


def job_profile(run, group: str) -> dict:
    """One traced job of the timed loop, from Spark's records of it: the
    blocking-path terms, the Python operators' work on each side of the
    shuffle, and the level-1 output."""
    stages = stage_stats(run.spark, group)
    nodes = plan_nodes(run.last_out._jdf.queryExecution().executedPlan())
    level1 = [n for n in nodes if "pythonTotalTime" in n["metrics"]
              and n["below_exchange"]]
    final = [n for n in nodes if "pythonTotalTime" in n["metrics"]
             and not n["below_exchange"]]
    exec_s = run.tracer.last("spark.execute")
    level1_s = sum(s["wall_s"] for s in stages if s["shuffle_read_bytes"] == 0)
    merge_s = sum(s["wall_s"] for s in stages if s["shuffle_read_bytes"] > 0)
    return {
        "build_s": run.tracer.last("plans.build"),
        "level1_s": level1_s,
        "merge_s": merge_s,
        "driver_s": exec_s - level1_s - merge_s,
        "level1_python_s": sum(n["metrics"]["pythonTotalTime"] for n in level1) / 1e3,
        "merge_python_s": sum(n["metrics"]["pythonTotalTime"] for n in final) / 1e3,
        "partial_rows": sum(n["metrics"]["pythonNumRowsReceived"] for n in level1),
        "blob_mb": sum(n["metrics"]["pythonDataReceived"] for n in level1) / 2**20,
        "boundary_mb": sum(n["metrics"]["pythonDataSent"] for n in level1) / 2**20,
        "shuffle_mb": sum(s["shuffle_write_bytes"] for s in stages) / 2**20,
        "level1_ops": [(n["cls"], n["input_schema"]) for n in level1],
        "stages": len(stages),
    }


def per_layer(run, quiet: list, traced: list) -> dict:
    from tsv_utils_spark.plans.arrow_kernel import make_arrow_partial_fn
    from tsv_utils_spark.plans.quantiles import MIN_INPUT_BYTES, input_size_bytes
    from tsv_utils_spark.session import ship_package

    tr, spark, df = run.tracer, run.spark, run.df
    keys, specs = list(run.wl.keys), run.specs
    m: dict = {}

    # ---- session and sources: spans recorded during set-up
    for _ in range(REPS):
        with tr.span("session.ship"):
            ship_package(spark)

    # ---- sources and plans: stage walls of noop writes, the job's floors
    scan = df.select(*keys, *sorted({s.col for s in specs} - set(keys)))
    in_names = [f"__in_{i}" for i in range(len(specs))]
    proj = df.select(*keys, *[s.input_expr(i) for i, s in enumerate(specs)])
    scan_s, project_s = [], []
    for i in range(REPS):
        scan_s.append(_stage_wall(spark, f"perfbench-scan-{i}", lambda: _noop(scan)))
        project_s.append(_stage_wall(spark, f"perfbench-project-{i}",
                                     lambda: _noop(proj)))

    # ---- the workload's traced jobs, as Spark recorded them
    prof = run.profiles
    if not prof:
        raise RuntimeError("no traced job completed")

    def pmed(key):
        return median([p[key] for p in prof])

    # ---- plans.arrow_kernel in this process, single-threaded. The probe
    # stands in for the job's level-1 operator only while that operator
    # is a mapInArrow over exactly this projection.
    want = [("MapInArrowExec", proj._jdf.schema().simpleString())]
    for p in prof:
        if p["level1_ops"] != want:
            run.count(False, f"kernel probe does not match the job's level-1 "
                             f"plan: job has {p['level1_ops']}, probe {want}")
            break
    schema = _partial_schema(df, keys, len(specs))
    batches = proj.toArrow().to_batches(max_chunksize=65536)
    n_rows = sum(b.num_rows for b in batches)
    kernel = make_arrow_partial_fn(keys, in_names, specs, schema, MAX_GROUPS)
    for _ in range(REPS):
        with tr.span("plans.kernel"):
            for _out in kernel(iter(batches)):
                pass

    # ---- plans.checkpoint: epochs written, read back, merged
    from tsv_utils_spark.plans.checkpoint import read_metrics, sketch_agg_checkpointed

    raw = spark.read.parquet(run.table_path)
    ckpt = os.path.join(run.run_dir, "ckpt")
    with tr.span("plans.ckpt.epochs"):
        out = sketch_agg_checkpointed(raw, keys, specs, ckpt,
                                      epochs=CKPT_EPOCHS,
                                      transform=_with_size_chars)
    with tr.span("plans.ckpt.final"):
        rows = out.collect()
    run.record(run.exact.score(rows), "sketch_agg_checkpointed")
    epoch_s = sum(e["sec"] for e in read_metrics(ckpt))
    written = _dir_bytes(os.path.join(ckpt, "partials"))

    # ---- plans gate: the size estimate the 64 MB gates compare
    size = input_size_bytes(df) or 0
    prefilter = all(s.op in ("hll", "theta", "cm") for s in specs)
    print(f"gate: input estimate {size / 2**20:.1f} MB vs MIN_INPUT_BYTES "
          f"{MIN_INPUT_BYTES / 2**20:.0f} MB -> "
          f"{'on' if size >= MIN_INPUT_BYTES else 'off'}; sketch_agg "
          f"distinct prefilter {'eligible' if prefilter else 'not eligible (kll spec)'}")

    # ---- operators: the exact answer to the same question
    from tsv_utils_spark.operators import Op, summarize

    hll_col = next(s.col for s in specs if s.op == "hll")
    kll_col = next(s.col for s in specs if s.op == "kll")
    cm_col = next(s.col for s in specs if s.op == "cm")
    ops = [Op.unique_count(hll_col, header="u"), Op.median(kll_col, header="med"),
           Op.mode(cm_col, header="mode")]
    for _ in range(REPS):
        with tr.span("operators.summarize"):
            rows = summarize(df, keys, ops).collect()
    run.record(run.exact.score_summary(rows, {"u": hll_col}, {"med": kll_col},
                                       {"mode": cm_col}), "summarize")

    st = tr.self_times()

    def med(name):
        return median(st[name])

    m["session.launch_s"] = (st["session.start"][0], "s")
    m["session.start_s"] = (med("session.start"), "s")
    m["session.ship_s"] = (med("session.ship"), "s")
    m["session.jvm_old_gen_peak_mb"] = (jvm_old_gen_peak_mb(spark), "MB")
    m["sources.gen_s"] = (med("sources.gen"), "s")
    m["sources.load_s"] = (med("sources.load"), "s")
    m["sources.scan_s"] = (median(scan_s), "s")
    m["plans.build_s"] = (pmed("build_s"), "s")
    m["plans.project_s"] = (median(project_s), "s")
    m["plans.level1_s"] = (pmed("level1_s"), "s")
    m["plans.merge_s"] = (pmed("merge_s"), "s")
    m["plans.driver_s"] = (pmed("driver_s"), "s")
    m["plans.level1.python_s"] = (pmed("level1_python_s"), "s")
    m["plans.merge.python_s"] = (pmed("merge_python_s"), "s")
    m["plans.kernel_s"] = (med("plans.kernel"), "s")
    m["plans.kernel_rows_per_s"] = (n_rows / med("plans.kernel"), "rows/s")
    m["plans.partial_rows"] = (pmed("partial_rows"), "count")
    m["plans.blob_mb"] = (pmed("blob_mb"), "MB")
    m["plans.boundary_mb"] = (pmed("boundary_mb"), "MB")
    m["plans.shuffle_mb"] = (pmed("shuffle_mb"), "MB")
    m["plans.ckpt.epoch_s"] = (epoch_s, "s")
    m["plans.ckpt.final_s"] = (med("plans.ckpt.final"), "s")
    m["plans.ckpt.written_mb"] = (written / 2**20, "MB")
    m["plans.gate.input_mb"] = (size / 2**20, "MB")
    m["operators.summarize_s"] = (med("operators.summarize"), "s")
    m.update(sketch_microbench())

    # ---- the ledger: self times along the traced jobs' blocking path
    p50 = median(quiet)
    ledger = {name: m[f"plans.{name}_s"][0]
              for name in ("build", "level1", "merge", "driver")}
    total = sum(ledger.values())
    for name, v in ledger.items():
        print(f"ledger {name:8s} {v:8.3f} s  {100 * v / total:5.1f}%")
    dominant = max(ledger, key=ledger.get)
    print(f"ledger sum {total:.3f} s vs untraced job_p50_s {p50:.3f} s "
          f"({100 * (total / p50 - 1):+.0f}%); dominant layer: {dominant}; "
          f"level1 floor from scan and projection {m['plans.project_s'][0]:.3f} s; "
          f"{prof[-1]['stages']} stages, level-1 operators {prof[-1]['level1_ops']}")
    m["ledger.sum_s"] = (total, "s")
    m["trace.job_p50_s"] = (p50, "s")
    m["trace.overhead_ratio"] = (median(traced) / p50, "ratio")
    m["err_bound_ratio"] = (run.max_ratio, "ratio")
    return m


def _med_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def sketch_microbench() -> dict:
    """Update, merge and serde rates of the three sketches the workloads
    use, in this process on fixed inputs (seeded, independent of --seed)."""
    from tsv_utils_spark.sketches.countmin import CountMin
    from tsv_utils_spark.sketches.hll import HyperLogLog
    from tsv_utils_spark.sketches.kll import KLL

    rng = np.random.default_rng(7)
    n = 1 << 19
    hashes = rng.integers(1, 2 ** 63, n, dtype=np.int64).view(np.uint64)
    values = rng.normal(size=n)
    words = np.asarray([f"repo_{i}" for i in rng.zipf(1.3, n // 4) % 5000],
                       dtype=object)
    cases = {
        "hll": (lambda: HyperLogLog(p=12), lambda s, x: s.update_hashes(x),
                hashes, HyperLogLog),
        "kll": (lambda: KLL(k=200), lambda s, x: s.update(x), values, KLL),
        "cm": (lambda: CountMin(width=1 << 13), lambda s, x: s.update(x),
               words, CountMin),
    }
    m = {}
    for name, (make, update, data, cls) in cases.items():
        def build():
            s = make()
            update(s, data)
            return s

        t = _med_time(build, 5)
        a, b = build(), make()
        update(b, data[: len(data) // 2])
        blob_a, blob_b = a.serialize(), b.serialize()
        merge_t = []
        for _ in range(50):
            x, y = cls.deserialize(blob_a), cls.deserialize(blob_b)
            t0 = time.perf_counter()
            x.merge(y)
            merge_t.append(time.perf_counter() - t0)
        serde = _med_time(lambda: cls.deserialize(a.serialize()), 50)
        m[f"sketches.{name}.update_rows_per_s"] = (len(data) / t, "rows/s")
        m[f"sketches.{name}.merge_us"] = (median(merge_t) * 1e6, "us")
        m[f"sketches.{name}.serde_us"] = (serde * 1e6, "us")
        m[f"sketches.{name}.blob_bytes"] = (len(blob_a), "bytes")
    m["sketches.merge256_ms"] = (_merge256_ms(), "ms")
    return m


def _merge256_ms() -> float:
    """Deserialize and merge 256 (HLL, KLL, CM) partials: the per-group
    level-2 merge cost (the recipe of bench.py's merge-latency figure)."""
    from tsv_utils_spark.sketches.countmin import CountMin
    from tsv_utils_spark.sketches.hll import HyperLogLog
    from tsv_utils_spark.sketches.kll import KLL

    rng = np.random.default_rng(7)
    partials = []
    for _ in range(256):
        h = HyperLogLog(p=12)
        h.update_hashes(rng.integers(1, 2 ** 63, 4000).astype(np.uint64))
        k = KLL()
        k.update(rng.normal(size=4000))
        c = CountMin(width=1 << 13)
        c.update(rng.integers(0, 50, 4000))
        partials.append((h.serialize(), k.serialize(), c.serialize()))

    def merge_all():
        hm = HyperLogLog.deserialize(partials[0][0])
        km = KLL.deserialize(partials[0][1])
        cm = CountMin.deserialize(partials[0][2])
        for hb, kb, cb in partials[1:]:
            hm.merge(HyperLogLog.deserialize(hb))
            km.merge(KLL.deserialize(kb))
            cm.merge(CountMin.deserialize(cb))

    return _med_time(merge_all, 3) * 1000
