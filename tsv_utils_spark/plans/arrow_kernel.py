"""Arrow-native kernels (mapInArrow) of the sketch engine, one per level.

Level 1, ``make_arrow_partial_fn`` — the only partial kernel: sketch_agg
in map and salt mode and its prefilters, sketch_partials, the
checkpointed plan and the streaming processor. Everything stays
columnar:

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

Level 2, ``make_arrow_merge_fn`` — the only merge kernel: partial rows
arrive sorted by key within each partition, so each run of equal keys is
one group. Its blobs are deserialized and merged (associative, any
order) and the group leaves as one finalized row, or as one merged blob
per spec for a sketch table. Run boundaries follow Spark's grouping:
NULL equals NULL, NaN equals NaN and -0.0 equals 0.0.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

WEIGHT_COL = "__w"
_INT64_MAX = int(np.iinfo(np.int64).max)
_CHUNK = 1024  # rows per output RecordBatch
_NAN = object()  # the one NaN group key: Spark groups every NaN together


def make_arrow_partial_fn(group_cols, in_names, specs, partial_schema,
                          max_groups: int, lineage_epoch: int | None = None,
                          max_buffered_rows: int = 4_000_000):
    from pyspark.sql.pandas.types import to_arrow_schema

    group_cols = list(group_cols)
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
            for lo in range(0, len(items), _CHUNK):
                out = []
                for key, per_spec in items[lo:lo + _CHUNK]:
                    row = [] if lineage_epoch is None else [lineage_epoch, pid]
                    row += [*key, rows[key]]
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
                        row.append(sk.serialize())
                    out.append(row)
                yield _record_batch(out, pa_schema)
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


def make_arrow_merge_fn(group_by, specs, out_schema, include_rows: bool,
                        canon_map=None, finalize: bool = True):
    """Level-2 merge over partial batches sorted by ``group_by`` within
    the partition. Partial rows carry ``__rows`` and one ``__blob_j`` per
    CANONICAL spec (``canon_map``, from ``agg._canon_specs``, maps each
    spec to its blob; None = one blob per spec), merged once per group;
    state-sharing specs finalize from the shared merged sketch.
    ``finalize=False`` emits the blob-table form instead: keys, summed
    ``__rows``, merged blobs."""
    from pyspark.sql.pandas.types import to_arrow_schema

    group_by = list(group_by)
    pa_schema = to_arrow_schema(out_schema)
    cmap = list(range(len(specs))) if canon_map is None else list(canon_map)
    canon = [specs[cmap.index(j)] for j in range(max(cmap, default=-1) + 1)]

    def merge_fn(batches):
        out: list = []
        key = norm = merged = None
        rows = 0

        def finish():
            # -0.0 comes out as 0.0, the key Spark's groupBy returns
            row = [v + 0.0 if type(v) is float else v for v in key]
            if not finalize:
                row += [rows, *(s.serialize() for s in merged)]
            else:
                row += [rows] if include_rows else []
                for i, spec in enumerate(specs):
                    row += spec.finalize(merged[cmap[i]])
            out.append(row)

        for batch in batches:
            n = batch.num_rows
            keys = list(zip(*[batch.column(g).to_pylist()
                              for g in group_by])) if group_by else [()] * n
            row_counts = batch.column("__rows").to_pylist()
            blobs = [batch.column(f"__blob_{j}").to_pylist()
                     for j in range(len(canon))]
            for r, k in enumerate(keys):
                # NaN equals NaN in a group key (NULL == NULL and
                # -0.0 == 0.0 already hold in Python)
                nk = tuple(_NAN if v != v else v for v in k)
                if merged is not None and nk == norm:
                    for s, spec, col in zip(merged, canon, blobs):
                        s.merge(spec.deserialize(col[r]))
                    rows += row_counts[r]
                    continue
                if merged is not None:
                    finish()
                    if len(out) >= _CHUNK:
                        yield _record_batch(out, pa_schema)
                        out.clear()
                key, norm, rows = k, nk, row_counts[r]
                merged = [spec.deserialize(col[r])
                          for spec, col in zip(canon, blobs)]
        if merged is not None:
            finish()
        if out:
            yield _record_batch(out, pa_schema)

    return merge_fn


def _record_batch(rows: list, pa_schema) -> pa.RecordBatch:
    """One output batch from row lists in ``pa_schema`` column order."""
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(zip(*rows), pa_schema)],
        schema=pa_schema)
