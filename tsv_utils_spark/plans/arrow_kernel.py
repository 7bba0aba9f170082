"""Arrow-native level-1 kernel (mapInArrow) — the only level-1 kernel of
the sketch engine: sketch_agg in map and salt mode and its prefilters,
sketch_partials, the checkpointed plan and the streaming processor.

Everything stays columnar:

- group keys, any number of columns (zero = one global group):
  ``pc.dictionary_encode`` per key column -> int codes, packed into ONE
  int64 mixed-radix code per row; when the next multiply could overflow
  int64 the packed code is re-densified with ``np.unique`` first. A
  group's key tuple is read from the first row of its sorted segment, so
  only the DISTINCT key tuples are ever converted to Python;
- hll inputs: already int64 xxhash64 from the JVM — zero-copy numpy;
- kll/t-digest inputs: float64 numpy (nulls -> NaN, dropped by update);
- cm/bloom inputs: dictionary-encoded too; per-(group, value) counts come
  from one ``np.unique`` over the value codes of each group segment —
  counts feed CountMin.update(values, counts) and only distinct values
  are materialized.

A batch column named ``WEIGHT_COL`` gives each row a multiplicity: it
sums into the cm/bloom value counts and ``__rows`` (the weighted
count-min path feeds JVM-pre-aggregated (keys, value, count) rows).
Numeric specs see each row once, which only the multiplicity-invariant
hll/theta tolerate. Any other extra column (salt mode's ``__salt``) is
ignored.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

WEIGHT_COL = "__w"
_INT64_MAX = int(np.iinfo(np.int64).max)


def make_arrow_partial_fn(group_cols, in_names, specs, partial_schema,
                          max_groups: int, lineage_epoch: int | None = None,
                          max_buffered_rows: int = 4_000_000):
    from pyspark.sql.pandas.types import to_arrow_schema

    group_cols = list(group_cols)
    out_names = [f.name for f in partial_schema.fields]
    pa_schema = to_arrow_schema(partial_schema)
    value_based = {i for i, s in enumerate(specs) if s.op in ("cm", "bloom")}

    def partial_fn(batches):
        import pyarrow.compute as pc

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        # per-group state keyed by the key-value TUPLE: numeric specs
        # accumulate np chunks; value-based specs accumulate {value: count}
        buf: dict = {}
        rows: dict = {}
        buffered = 0

        def slot_for(key):
            s = buf.get(key)
            if s is None:
                s = [({} if i in value_based else [])
                     for i in range(len(specs))]
                buf[key] = s
                rows[key] = 0
            return s

        def flush():
            nonlocal buffered
            items = list(buf.items())
            buf.clear()
            buffered = 0
            CHUNK = 1024
            for lo in range(0, len(items), CHUNK):
                cols: dict = {name: [] for name in out_names}
                for key, per_spec in items[lo:lo + CHUNK]:
                    if lineage_epoch is not None:
                        cols["epoch"].append(lineage_epoch)
                        cols["partition_id"].append(pid)
                    for j, gname in enumerate(group_cols):
                        cols[gname].append(key[j])
                    cols["__rows"].append(rows[key])
                    for i, spec in enumerate(specs):
                        sk = spec.make()
                        if i in value_based:
                            vc = per_spec[i]
                            if vc:
                                vals = np.asarray(list(vc.keys()),
                                                  dtype=object)
                                cnts = np.asarray(list(vc.values()),
                                                  dtype=np.int64)
                                if spec.op == "cm":
                                    sk.update(vals, counts=cnts)
                                else:  # bloom: distinct membership
                                    sk.update(vals)
                        else:
                            chunks = per_spec[i]
                            if chunks:
                                spec.update_array(
                                    sk, chunks[0] if len(chunks) == 1
                                    else np.concatenate(chunks))
                        cols[f"__blob_{i}"].append(sk.serialize())
                arrays = [pa.array(cols[name], type=field.type)
                          for name, field in zip(out_names, pa_schema)]
                yield pa.RecordBatch.from_arrays(arrays, schema=pa_schema)
            rows.clear()

        def encode_col(col):
            """(codes int64 with -1 for null, dictionary pa.Array)."""
            d = pc.dictionary_encode(col)
            if isinstance(d, pa.ChunkedArray):
                d = d.combine_chunks()
            codes = pc.fill_null(d.indices, -1) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            return codes, d.dictionary

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            # mixed-radix pack into one int64 per row (null -> digit 0)
            combined = np.zeros(n, dtype=np.int64)
            span = 1  # exclusive upper bound of the packed codes
            for gname in group_cols:
                codes, dic = encode_col(batch.column(gname))
                radix = len(dic) + 1
                if span * radix > _INT64_MAX:
                    uniq, combined = np.unique(combined, return_inverse=True)
                    combined = combined.reshape(-1)
                    span = len(uniq)
                combined *= radix
                combined += codes + 1
                span *= radix
            wi = batch.schema.get_field_index(WEIGHT_COL)
            weights = None if wi < 0 else batch.column(wi) \
                .to_numpy(zero_copy_only=False).astype(np.int64, copy=False)

            # numeric input columns -> numpy once per batch
            num_cols = {}
            for i, spec in enumerate(specs):
                if i in value_based:
                    continue
                col = batch.column(in_names[i])
                if spec.op in ("hll", "theta"):
                    num_cols[i] = col.to_numpy(zero_copy_only=False) \
                        .astype(np.int64, copy=False)
                else:
                    num_cols[i] = pc.cast(col, pa.float64()) \
                        .to_numpy(zero_copy_only=False)
            # value-based columns -> (codes, dictionary) once per batch
            val_cols = {i: encode_col(batch.column(in_names[i]))
                        for i in value_based}

            order = np.argsort(combined, kind="stable")
            sorted_codes = combined[order]
            starts = np.concatenate(
                [[0], np.flatnonzero(np.diff(sorted_codes)) + 1])
            ends = np.append(starts[1:], n)
            firsts = pa.array(order[starts])
            keys = list(zip(*[batch.column(g).take(firsts).to_pylist()
                              for g in group_cols])) \
                if group_cols else [()]
            for key, s_, e_ in zip(keys, starts.tolist(), ends.tolist()):
                idx = order[s_:e_]
                w = None if weights is None else weights[idx]
                slot = slot_for(key)
                rows[key] += (e_ - s_) if w is None else int(w.sum())
                for i in range(len(specs)):
                    if i in value_based:
                        v_codes, v_dict = val_cols[i]
                        sub = v_codes[idx]
                        keep = sub >= 0
                        if keep.any():
                            u, c = _value_counts(
                                sub[keep], None if w is None else w[keep])
                            vc = slot[i]
                            for code_v, cnt in zip(u.tolist(), c.tolist()):
                                v = v_dict[code_v].as_py()
                                vc[v] = vc.get(v, 0) + cnt
                    else:
                        slot[i].append(num_cols[i][idx])
            buffered += n
            if len(buf) > max_groups or buffered > max_buffered_rows:
                yield from flush()
        yield from flush()

    return partial_fn


def _value_counts(codes: np.ndarray, weights: np.ndarray | None):
    """(distinct codes, their row counts — or weight sums)."""
    if weights is None:
        return np.unique(codes, return_counts=True)
    u, inv = np.unique(codes, return_inverse=True)
    return u, np.bincount(inv.reshape(-1), weights=weights,
                          minlength=len(u)).astype(np.int64)
