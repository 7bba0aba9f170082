"""Exact answers for a sketch job, and scoring against published bounds.

The exact answers come from Spark's own exact aggregates over the same
generated table (``count``, ``countDistinct``, per-group sorted values and
per-(group, value) counts), computed once per run outside the timed loop.
Every sketch output is then scored as |estimate - exact| / bound:

- hll: bound = ``HLL_SIGMAS`` standard errors, 1.04 / sqrt(2^p) of the
  exact distinct count (sparse sketches are exact, so their ratio is 0);
- kll: the estimate's rank interval in the exact sorted values must lie
  within ``kll_rank_bound`` of q: the sketch's rank error
  ``KLL.rank_error`` plus one retained item's weight; groups of at most k
  values never compact, so their estimate must equal the exact R-7
  quantile;
- cm mode: the estimate must be a most frequent value; the ratio is the
  count gap over the count-min error e / width * n.

A ratio above 1, a missing or extra group, or a wrong mode fails the job.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

HLL_SIGMAS = 4.0
KLL_C = 2.0 / 3.0


def kll_rank_bound(n: int, k: int) -> float:
    """Rank error of a KLL quantile answer: the sketch's rank error
    (``KLL.rank_error``) plus the weight of one retained item, because an
    answer is a retained item. The top level's weight is at most 2n/k: it
    appears only once the level below, then the top one holding up to k
    items, overflows."""
    rank_error = 1.65 * KLL_C ** 1.5 / k * math.sqrt(
        max(1.0, math.log2(max(n / k, 2.0))))
    return rank_error + 2.0 / k


def _qname(q: float) -> str:
    return f"{q:g}".replace(".", "_")


def output_columns(spec) -> list[tuple[str, float | None]]:
    """(output column, quantile) pairs a spec finalizes to."""
    if spec.op == "kll":
        qs = spec.params.get("quantiles", [0.5])
        if len(qs) == 1:
            return [(spec.out, qs[0])]
        return [(f"{spec.out}_q{_qname(q)}", q) for q in qs]
    return [(spec.out, None)]


@dataclass
class Score:
    ok: bool = True
    max_ratio: float = 0.0
    problems: list[str] = field(default_factory=list)

    def add(self, ratio: float, what: str) -> None:
        self.max_ratio = max(self.max_ratio, ratio)
        if not ratio <= 1.0:  # NaN fails too
            self.fail(f"{what}: error/bound = {ratio:.3g}")

    def fail(self, what: str) -> None:
        self.ok = False
        if len(self.problems) < 5:
            self.problems.append(what)


class Exact:
    """Exact per-group answers for ``specs`` over ``df`` grouped by ``keys``."""

    def __init__(self, df, keys: list[str], specs: list):
        from pyspark.sql import functions as F

        self.keys = list(keys)
        self.specs = list(specs)

        def key_of(row):
            return tuple(row[k] for k in self.keys)

        hll_cols = sorted({s.col for s in specs if s.op == "hll"})
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.countDistinct(c).alias(f"__d_{c}") for c in hll_cols]
        self.n: dict = {}
        self.distinct: dict = {}
        for row in df.groupBy(*keys).agg(*aggs).collect():
            k = key_of(row)
            self.n[k] = row["__n"]
            self.distinct[k] = {c: row[f"__d_{c}"] for c in hll_cols}

        self.sorted_values: dict = {}
        for c in sorted({s.col for s in specs if s.op == "kll"}):
            rows = df.groupBy(*keys).agg(
                F.sort_array(F.collect_list(c)).alias("__v")).collect()
            self.sorted_values[c] = {
                key_of(r): np.asarray(r["__v"], dtype=np.float64) for r in rows}

        self.value_counts: dict = {}
        for c in sorted({s.col for s in specs if s.op == "cm"}):
            per: dict = {}
            for r in df.groupBy(*keys, c).count().collect():
                if r[c] is not None:
                    per.setdefault(key_of(r), {})[str(r[c])] = r["count"]
            self.value_counts[c] = per

    def score(self, rows) -> Score:
        """Score one job's collected output rows."""
        sc = Score()
        got = {tuple(r[k] for k in self.keys): r for r in rows}
        if set(got) != set(self.n):
            sc.fail(f"groups differ: {len(got)} returned, {len(self.n)} exact")
        for key, row in got.items():
            if key not in self.n:
                continue
            n = self.n[key]
            for spec in self.specs:
                for col, q in output_columns(spec):
                    est = row[col]
                    what = f"{key} {col}"
                    if spec.op == "hll":
                        d = self.distinct[key][spec.col]
                        se = 1.04 / math.sqrt(1 << spec.params.get("p", 12))
                        bound = HLL_SIGMAS * se * max(d, 1)
                        sc.add(abs(est - d) / bound, what)
                    elif spec.op == "kll":
                        v = self.sorted_values[spec.col][key]
                        k = spec.params.get("k", 200)
                        if v.size <= k:
                            # below k items the sketch never compacts and
                            # interpolates exactly like R-7 (np.quantile)
                            want = float(np.quantile(v, q))
                            if not math.isclose(est, want, rel_tol=1e-9):
                                sc.fail(f"{what}: {est} != exact {want}")
                            continue
                        lo = np.searchsorted(v, est, "left") / v.size
                        hi = np.searchsorted(v, est, "right") / v.size
                        err = max(0.0, lo - q, q - hi)
                        sc.add(err / kll_rank_bound(v.size, k), what)
                    elif spec.op == "cm":
                        counts = self.value_counts[spec.col].get(key, {})
                        top = max(counts.values(), default=0)
                        have = counts.get(est, 0)
                        width = spec.params.get("width", 1 << 13)
                        sc.add((top - have) / (math.e / width * n), what)
                        if have != top:
                            sc.fail(f"{what}: mode {est!r} has count {have}, "
                                    f"exact mode count is {top}")
        return sc

    def score_summary(self, rows, distinct: dict, medians: dict,
                      modes: dict) -> Score:
        """Score an exact ``summarize`` output: ``distinct`` maps output
        column -> input column of a unique_count, ``medians`` of a median
        and ``modes`` of a mode. Exact operators must match exactly."""
        sc = Score()
        got = {tuple(r[k] for k in self.keys): r for r in rows}
        if set(got) != set(self.n):
            sc.fail(f"groups differ: {len(got)} returned, {len(self.n)} exact")
        for key, row in got.items():
            if key not in self.n:
                continue
            for out, col in distinct.items():
                if row[out] != self.distinct[key][col]:
                    sc.fail(f"{key} {out}: {row[out]} != {self.distinct[key][col]}")
            for out, col in medians.items():
                want = float(np.quantile(self.sorted_values[col][key], 0.5))
                if not math.isclose(row[out], want, rel_tol=1e-9):
                    sc.fail(f"{key} {out}: {row[out]} != {want}")
            for out, col in modes.items():
                counts = self.value_counts[col].get(key, {})
                if counts.get(row[out], 0) != max(counts.values(), default=0):
                    sc.fail(f"{key} {out}: {row[out]!r} is not a mode")
        return sc
