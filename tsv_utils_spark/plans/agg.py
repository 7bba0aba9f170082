"""Two-level partial+final mergeable sketch aggregation.

This is the engine the whole library revolves around: PySpark has no
native partial/final protocol for pandas UDAFs, so we build the classic
two-level plan explicitly (SURVEY.md §4 "what needs custom work"):

    level 1 (partial)  — mapInArrow over the scan, through ONE kernel
                         (plans/arrow_kernel.py) at any number of group
                         keys: per input partition, update one sketch set
                         per group per spec, fully vectorized (NumPy batch
                         updates, values pre-hashed JVM-side with xxhash64
                         where possible). Emits (group keys, blob per
                         spec) rows — the map-side combine.
                         Memory-bounded: when the per-partition group map
                         exceeds ``max_groups_per_partition``, partials
                         are flushed early (extra partial rows per group
                         are fine — merge absorbs them).
    level 2 (final)    — repartition(n, keys) + sortWithinPartitions(keys)
                         + mapInArrow, through ONE merge kernel: each run
                         of equal keys is a group; deserialize, merge
                         (associative, any order), finalize to estimate
                         columns. Shuffles only the tiny partial rows,
                         never the raw data.

Skew: the partial level eliminates hot-key shuffle skew for aggregation by
construction (each input partition contributes at most a handful of rows
per key, however hot). The explicit-salting variant of the same plan,
``mode='salt'``, adds ``salt = pmod(xxhash64(all cols), S)``, repartitions
on keys+salt and runs the same level-1 kernel per salted partition — two
shuffles, both on bounded fan-out keys.

Both modes produce identical estimates (tests permute modes and merge
orders).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.plans.arrow_kernel import (
    WEIGHT_COL,
    make_arrow_merge_fn,
    make_arrow_partial_fn,
)
from tsv_utils_spark.sketches.bloom import BloomFilter
from tsv_utils_spark.sketches.countmin import CountMin
from tsv_utils_spark.sketches.hll import HyperLogLog
from tsv_utils_spark.sketches.kll import KLL
from tsv_utils_spark.sketches.tdigest import TDigest
from tsv_utils_spark.sketches.theta import ThetaKMV


@dataclass(frozen=True)
class SketchSpec:
    """One sketch aggregation over one input column.

    op: 'hll' | 'kll' | 'tdigest' | 'cm' | 'bloom' | 'theta'
    finalize (op-dependent):
      hll     -> '{out}' double estimate (+ '{out}_exactish' long rounded)
      kll     -> one double col per q in params['quantiles']
      tdigest -> same
      cm      -> params['finalize'] in {'mode','mode_count','topk_json'}
      bloom   -> '{out}_blob' binary (a queryable filter, not a scalar)
    """

    op: str
    col: str
    out: str
    params: dict = field(default_factory=dict)

    # ---- sketch construction ------------------------------------------
    def make(self):
        if self.op == "hll":
            # p=12 default for PER-GROUP sketches: 4KB dense registers,
            # 1.6% std error — the blob volume of (groups x partitions)
            # partials is the binding constraint, not single-sketch error.
            # Standalone HyperLogLog keeps p=14.
            return HyperLogLog(p=self.params.get("p", 12),
                               sparse_limit=self.params.get("sparse_limit"))
        if self.op == "kll":
            return KLL(k=self.params.get("k", 200))
        if self.op == "tdigest":
            return TDigest(delta=self.params.get("delta", 200))
        if self.op == "cm":
            # width 2^13 for PER-GROUP sketches: serialize() scans the
            # table (depth x width x 8B); at 2^16 that scan dominated the
            # partial stage (profiled ~1s/task). eps = e/8192 of the
            # group's N is ample for group-local heavy hitters.
            return CountMin(depth=self.params.get("depth", 5),
                            width=self.params.get("width", 1 << 13),
                            max_candidates=self.params.get("max_candidates", 256))
        if self.op == "bloom":
            return BloomFilter(m=self.params.get("m", 1 << 20),
                               k=self.params.get("k", 7))
        if self.op == "theta":
            # KMV theta: distinct count + set operations; exact below
            # capacity k (the oracle-exactness regime, like HLL sparse)
            return ThetaKMV(k=self.params.get("k", 4096))
        raise ValueError(f"bad sketch op {self.op!r}")

    def deserialize(self, blob: bytes):
        out = {"hll": HyperLogLog, "kll": KLL, "tdigest": TDigest,
               "cm": CountMin, "bloom": BloomFilter,
               "theta": ThetaKMV}[self.op].deserialize(blob)
        if self.op == "hll" and self.params.get("sparse_limit") is not None:
            # the blob doesn't carry the limit; restore the spec's so
            # sparse-exact unions during merge keep the requested range
            out.sparse_limit = self.params["sparse_limit"]
        return out

    # ---- input column expression (JVM-side prep) ----------------------
    def input_expr(self, idx: int):
        name = f"__in_{idx}"
        c = F.col(self.col)
        if self.op in ("hll", "theta"):
            # hash JVM-side; NULL -> sentinel 0 (dropped in update) so
            # distinct-count semantics match countDistinct. The sentinel —
            # not SQL NULL — keeps the Arrow column non-null int64: a
            # nullable long becomes float64 in pandas, which cannot hold
            # all 64-bit hash values (2^53 mantissa) and would silently
            # corrupt them. P(real hash == 0) = 2^-64: negligible.
            return F.when(c.isNotNull(), F.xxhash64(c)) \
                    .otherwise(F.lit(0)).alias(name)
        if self.op in ("kll", "tdigest"):
            return c.try_cast("double").alias(name)
        if self.op in ("cm", "bloom"):
            # typed=True keeps the NATIVE column type (date/timestamp/int)
            # through the kernel — CountMin's candidate serde carries
            # typed tags and hash64 canonicalizes datetimes to epoch-ns,
            # so e.g. mode-over-a-day-column finalizes as a real DATE
            # without a string pre-cast. Default stays the string cast.
            if self.params.get("typed"):
                return c.alias(name)
            return c.cast("string").alias(name)
        raise AssertionError(self.op)

    def update(self, sketch, series: pd.Series) -> None:
        self.update_array(sketch, series.to_numpy())

    def update_array(self, sketch, arr: np.ndarray) -> None:
        """Vectorized update from a raw numpy slice of the input column."""
        if arr.size == 0:
            return
        if self.op in ("hll", "theta"):
            if arr.dtype != np.int64:
                # guard: a float64-converted hash column would be corrupt
                arr = pd.Series(arr).dropna().to_numpy()
                if arr.dtype != np.int64:
                    raise TypeError(
                        f"hll input must be int64 hashes, got {arr.dtype}")
            h = arr.view(np.uint64)
            h = h[h != 0]  # drop the NULL sentinel (it would also
            # pollute theta's k-MINIMUM set as a fake smallest hash)
            sketch.update_hashes(h)
        elif self.op in ("kll", "tdigest"):
            vals = arr.astype(np.float64, copy=False)
            sketch.update(vals)  # update() drops NaN
        else:
            vals = pd.Series(arr).dropna().to_numpy(dtype=object)
            sketch.update(vals)

    # ---- output schema / finalize --------------------------------------
    def output_fields(self) -> list[tuple[str, str]]:
        if self.op in ("hll", "theta"):
            return [(self.out, "double")]
        if self.op in ("kll", "tdigest"):
            qs = self.params.get("quantiles", [0.5])
            if len(qs) == 1:
                return [(self.out, "double")]
            return [(f"{self.out}_q{_qname(q)}", "double") for q in qs]
        if self.op == "cm":
            fin = self.params.get("finalize", "mode")
            if fin == "mode":
                # typed mode: caller declares the finalized key type
                # (must match the input column, e.g. 'date' for a
                # to_date-derived day column)
                if self.params.get("typed"):
                    out_type = self.params.get("out_type")
                    if out_type not in _TYPE_MAP:
                        raise ValueError(
                            f"SketchSpec(cm, typed=True, finalize='mode') "
                            f"needs params['out_type'] in "
                            f"{sorted(_TYPE_MAP)}; got {out_type!r}")
                    return [(self.out, out_type)]
                return [(self.out, "string")]
            if fin == "mode_count":
                return [(self.out, "long")]
            return [(self.out, "string")]  # topk_json
        if self.op == "bloom":
            return [(f"{self.out}_blob", "binary")]
        raise AssertionError(self.op)

    def finalize(self, sketch) -> list:
        if self.op in ("hll", "theta"):
            return [float(sketch.estimate())]
        if self.op in ("kll", "tdigest"):
            qs = self.params.get("quantiles", [0.5])
            vals = [float(sketch.quantile(q)) for q in qs]
            # no values (all NULL) -> NULL, as SQL's percentile gives
            return [None if v != v else v for v in vals]
        if self.op == "cm":
            fin = self.params.get("finalize", "mode")
            m = sketch.mode()
            if fin == "mode":
                if self.params.get("typed"):
                    return [None if m is None else m[0]]
                return [None if m is None else str(m[0])]
            if fin == "mode_count":
                return [None if m is None else int(m[1])]
            import json
            return [json.dumps([[str(v), int(c)] for v, c in
                                sketch.heavy_hitters(self.params.get("k_top", 10))])]
        if self.op == "bloom":
            return [sketch.serialize()]
        raise AssertionError(self.op)


def _qname(q: float) -> str:
    return f"{q:g}".replace(".", "_")


# params that only affect finalize(), not the accumulated sketch STATE —
# two specs differing only in these share one sketch (updates, blob,
# shuffle bytes, merges all paid once; finalize runs per spec).
_FINALIZE_ONLY_PARAMS = frozenset({"finalize", "out_type", "k_top",
                                   "quantiles"})


def _canon_specs(specs: list[SketchSpec]) -> tuple[list[SketchSpec], list[int]]:
    """(canonical specs, map original-index -> canonical-index): specs
    with identical (op, col, state params) collapse to one accumulator —
    e.g. cm mode + mode_count over the same column (the common twin
    pattern) updates and ships ONE CountMin instead of two."""
    keymap: dict = {}
    canon: list[SketchSpec] = []
    cmap: list[int] = []
    for s in specs:
        key = (s.op, s.col, tuple(sorted(
            (k, repr(v)) for k, v in s.params.items()
            if k not in _FINALIZE_ONLY_PARAMS)))
        j = keymap.get(key)
        if j is None:
            j = len(canon)
            keymap[key] = j
            canon.append(s)
        cmap.append(j)
    return canon, cmap


# ---------------------------------------------------------------- helpers
def _key_schema_fields(df: DataFrame, group_by: list[str]) -> list[T.StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in group_by]


def _partial_schema(df: DataFrame, group_by: list[str], n_specs: int) -> T.StructType:
    fields = list(_key_schema_fields(df, group_by))
    fields.append(T.StructField("__rows", T.LongType()))
    for i in range(n_specs):
        fields.append(T.StructField(f"__blob_{i}", T.BinaryType()))
    return T.StructType(fields)


def _final_schema(df: DataFrame, group_by: list[str],
                  specs: list[SketchSpec], with_rows: bool) -> T.StructType:
    fields = list(_key_schema_fields(df, group_by))
    if with_rows:
        fields.append(T.StructField("rows", T.LongType()))
    for spec in specs:
        for name, typ in spec.output_fields():
            fields.append(T.StructField(name, _TYPE_MAP[typ]()))
    return T.StructType(fields)


_TYPE_MAP = {"double": T.DoubleType, "long": T.LongType,
             "string": T.StringType, "binary": T.BinaryType,
             "date": T.DateType, "timestamp": T.TimestampType,
             "int": T.IntegerType}


# ------------------------------------------------------------- the engine
def sketch_agg(df: DataFrame,
               group_by: list[str],
               specs: list[SketchSpec],
               mode: str = "map",
               salt_partitions: int | str = 32,
               max_groups_per_partition: int = 100_000,
               include_rows: bool = False) -> DataFrame:
    """All sketches for all specs computed in ONE pass over the data
    (shared scan — the distributed form of tsv-summarize's shared value
    lists, tsv-summarize.d:2038-2105), then one merge shuffle on the keys.
    """
    if mode not in ("map", "salt"):
        raise ValueError("mode must be 'map' or 'salt'")
    group_by = list(group_by)

    canon, cmap = _canon_specs(specs)
    in_cols = [spec.input_expr(i) for i, spec in enumerate(canon)]
    proj = None

    # ---- pure distinct-sketch fast path (r6) --------------------------
    # hll/theta state is a function of the DISTINCT hash set only
    # (sparse = set union; dense registers = max rho per bucket — both
    # multiplicity- and order-invariant), so a JVM-side distinct first
    # shrinks what crosses the Arrow boundary from |rows| to |distinct|
    # (guide §2.3 "aggregate before you shuffle" — the boundary transpose
    # measured ~0.45 s per million rows per task). Size-gated: small
    # inputs keep the single-exchange plan. Multi-spec inputs dedup per
    # spec via one sub-aggregation each, joined on the group keys.
    if (mode == "map" and not include_rows
            and all(s.op in ("hll", "theta", "cm") for s in canon)):
        from tsv_utils_spark.plans.quantiles import (
            MIN_INPUT_BYTES,
            input_size_bytes,
        )

        sz = input_size_bytes(df)
        if sz is not None and sz >= MIN_INPUT_BYTES:
            if len(canon) == 1 and canon[0].op == "cm":
                # ---- weighted count-min fast path (r6) ----------------
                # CM is LINEAR in value multiplicities (table[d][h(v)] +=
                # count, n += count) and mode/heavy_hitters RE-SCORE the
                # candidate set against the merged table, so a JVM-side
                # (keys, value) -> count pre-aggregation feeding weighted
                # CountMin updates produces the same finalized results:
                # identical table cells, identical candidate set whenever
                # distinct values fit max_candidates (the exact-mode
                # regime the oracled queries run in). The Arrow boundary
                # then pays |distinct (key, value) pairs| rows instead of
                # |rows|, and the pre-aggregation itself is a
                # map-side-combined codegen hash agg (skew-immune). The
                # kernel sums the count column as row weights.
                proj = (df.select(*group_by, in_cols[0])
                          .groupBy(*group_by, "__in_0")
                          .agg(F.count(F.lit(1)).alias(WEIGHT_COL)))
            elif len(canon) == 1:
                proj = df.select(*group_by, in_cols[0]).dropDuplicates()
            elif group_by:
                from tsv_utils_spark.functions.joins import join_null_safe

                # one sub-aggregation per CANONICAL accumulator, carrying
                # every original spec that shares it (so finalize-only
                # twins — e.g. cm mode + mode_count — finalize inside the
                # sub-call under their own output names)
                by_canon: dict[int, list[SketchSpec]] = {}
                for i, s in enumerate(specs):
                    by_canon.setdefault(cmap[i], []).append(s)
                subs = [sketch_agg(
                    df, group_by, gspecs, mode="map",
                    max_groups_per_partition=max_groups_per_partition)
                    for _, gspecs in sorted(by_canon.items())]
                out = subs[0]
                for sub in subs[1:]:
                    out = join_null_safe(out, sub, group_by)
                out_names = [name for s in specs
                             for name, _t2 in s.output_fields()]
                return out.select(*group_by, *out_names)

    # NOTE (r6): splitting cm specs out of kll/tdigest/bloom-BLOCKED
    # mixed calls (per-cm weighted pre-agg legs joined back on the
    # keys) was built and measured BOTH ways: −12% on low-cardinality
    # group keys (3-6 groups), but 2.2x SLOWER at 4 executors on a
    # high-cardinality key (Zipf repos at 24M rows: second boundary +
    # second per-group merge + a join all scale with |groups|), tanking
    # N→4N efficiency 0.84 → 0.41. Group cardinality is unknowable at
    # plan time, so blocked mixed calls keep the single shared
    # boundary; only the all-prefilterable paths above split.

    if proj is None:
        proj = df.select(*group_by, *in_cols)
        if mode == "salt":
            if salt_partitions == "auto":
                salt_partitions = choose_salt(df, group_by)
            salt = F.pmod(F.xxhash64(*[F.col(c) for c in proj.columns]),
                          F.lit(salt_partitions)).alias("__salt")
            proj = proj.select("*", salt).repartition(*group_by, "__salt")
    partials = _partials(proj, group_by, canon,
                         _partial_schema(df, group_by, len(canon)),
                         max_groups_per_partition)
    return _merge(partials, group_by, specs, include_rows, canon_map=cmap)


def _partials(proj: DataFrame, group_by: list[str], specs: list[SketchSpec],
              partial_schema: T.StructType, max_groups: int,
              lineage_epoch: int | None = None) -> DataFrame:
    """Level 1: the Arrow kernel over ``proj`` = (keys, ``__in_i``
    inputs[, extra columns the kernel reads or ignores])."""
    in_names = [f"__in_{i}" for i in range(len(specs))]
    return proj.mapInArrow(
        make_arrow_partial_fn(group_by, in_names, specs, partial_schema,
                              max_groups, lineage_epoch=lineage_epoch),
        schema=partial_schema)


def _merge(partials: DataFrame, group_by: list[str], specs: list[SketchSpec],
           include_rows: bool = False, canon_map: list[int] | None = None,
           finalize: bool = True) -> DataFrame:
    """Level 2: the Arrow merge kernel over partials shuffled by key into
    ``spark.sql.shuffle.partitions`` partitions and sorted within each.
    An explicit count is a REPARTITION_BY_NUM exchange, which AQE never
    coalesces: the blob shuffle is small in bytes but costly in CPU.
    Zero keys = one global group in one partition (a shuffle, not a
    ``coalesce(1)``, which would pull level 1 into a single task).
    Emits finalized estimates, or with ``finalize=False`` a blob table
    (keys, ``__rows``, one merged ``__blob_i`` per spec)."""
    out_schema = _final_schema(partials, group_by, specs, include_rows) \
        if finalize else _partial_schema(partials, group_by, len(specs))
    if group_by:
        n = int(partials.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        partials = partials.repartition(n, *group_by) \
            .sortWithinPartitions(*group_by)
    else:
        partials = partials.repartition(1)
    return partials.mapInArrow(
        make_arrow_merge_fn(group_by, specs, out_schema, include_rows,
                            canon_map=canon_map, finalize=finalize),
        schema=out_schema)


def sketch_partials(df: DataFrame,
                    group_by: list[str],
                    specs: list[SketchSpec],
                    max_groups_per_partition: int = 100_000) -> DataFrame:
    """Like ``sketch_agg`` but STOPS at merged-per-group BLOBS:
    (keys..., __rows, __blob_0..N) with one row per group — a sketch
    TABLE. Because every sketch merge is associative, these blobs can be
    re-aggregated to any coarser key subset later with
    ``sketch_rollup`` — no rescan of the base data. This is the
    materialized-rollup pattern: compute per-(day, repo) once, answer
    per-day / per-repo / global forever after from blobs.
    """
    group_by = list(group_by)
    if not group_by:
        raise ValueError("sketch_partials needs at least one group key "
                         "(use sketch_agg for global aggregation)")
    in_cols = [spec.input_expr(i) for i, spec in enumerate(specs)]
    proj = df.select(*group_by, *in_cols)
    partials = _partials(proj, group_by, specs,
                         _partial_schema(df, group_by, len(specs)),
                         max_groups_per_partition)
    return _merge(partials, group_by, specs, finalize=False)


def sketch_rollup(blobs: DataFrame,
                  group_by: list[str],
                  specs: list[SketchSpec],
                  include_rows: bool = False,
                  finalize: bool = True) -> DataFrame:
    """Re-aggregate a ``sketch_partials`` blob table to a COARSER key
    subset and finalize (or keep blobs with ``finalize=False`` for a
    further rollup level). Only blob rows shuffle — the base data is
    never touched. Associativity (pytest-permuted) makes the answer
    identical to a direct ``sketch_agg`` at the coarser keys, up to the
    sketch's own error bound (exact in the HLL-sparse / CM-low-collision
    regimes the oracled queries run in).
    """
    group_by = list(group_by)
    missing = [k for k in group_by if k not in blobs.columns]
    if missing:
        raise ValueError(f"rollup keys {missing} not in blob table "
                         f"columns {blobs.columns}")
    return _merge(blobs, group_by, specs, include_rows, finalize=finalize)


def choose_salt(df: DataFrame, group_by: list[str],
                sample_fraction: float = 0.002, seed: int = 7,
                headroom: float = 2.0) -> int:
    """Pick the salt fan-out S from a frequency pre-pass (SURVEY §7: "S
    chosen from a count sketch of key frequencies").

    A row-level Bernoulli sample of the KEY COLUMNS only (pure-JVM scan,
    map-side-combined count — itself skew-immune) estimates the hottest
    key's share p of all rows. That key occupies ~p of the shuffle, so it
    needs ~p * shuffle_partitions reducers to be no worse than fair;
    ``headroom`` doubles that. Uniform data yields S=1 (salting off — no
    point paying the extra shuffle)."""
    spark = df.sparkSession
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    samp = (df.select(*group_by)
              .where(F.rand(seed) < sample_fraction)
              .groupBy(*group_by).count()
              .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
              .first())
    if not samp or not samp["tot"]:
        return 1
    share = samp["mx"] / samp["tot"]
    import math

    return max(1, min(sp, math.ceil(share * sp * headroom)))
