"""Count-Min sketch + heavy-hitter candidate tracking — mergeable frequency
sketch for mode / mode-count / heavy-hitter queries.

Replaces the reference's exact in-memory value->count maps
(``tsv-summarize --mode/--mode-count``, tsv-summarize.d:4016-4185) at
unbounded cardinality.

- Table: ``depth x width`` int64 counters; width is a power of two.
- Row hashes are derived from one 64-bit item hash via seeded splitmix
  re-mixing (pairwise-independent enough in practice; standard CM usage).
- Guarantee (Cormode & Muthukrishnan 2005): point estimate overestimates
  true count by at most ``eps * N`` with probability ``1 - delta_fail``,
  where ``eps = e / width`` and ``delta_fail = exp(-depth)``.
- Merge: element-wise add (exact-associative).
- Heavy hitters / mode: CM alone can't enumerate values, so each sketch
  carries a bounded candidate set (value -> CM estimate), merged by union
  and re-truncated to ``max_candidates`` by estimated count (Space-Saving
  flavored). With ``max_candidates`` >= true distinct count the mode is
  exact up to CM collisions.
"""

from __future__ import annotations

import json
import datetime
import decimal
import struct

import numpy as np

from tsv_utils_spark.sketches.hashing import hash64, splitmix64


def _enc_candidates(cand: dict) -> bytes:
    """Typed-JSON candidate encoding. Deliberately NOT pickle: blobs round-
    trip through checkpoint/streaming-state parquet, and unpickling data
    read back from storage would execute attacker-controlled bytecode.
    JSON is data-only. Floats/bytes use hex for exact round-trip."""
    items = []
    for v, n in cand.items():
        if v is None:
            items.append(("n", None, n))
        elif isinstance(v, bool):
            items.append(("b", v, n))
        elif isinstance(v, int):
            items.append(("i", v, n))
        elif isinstance(v, float):
            items.append(("f", v.hex(), n))
        elif isinstance(v, (bytes, bytearray)):
            items.append(("B", bytes(v).hex(), n))
        elif isinstance(v, str):
            items.append(("s", v, n))
        elif isinstance(v, decimal.Decimal):
            items.append(("d", str(v), n))
        elif isinstance(v, datetime.datetime):  # before date: subclass
            items.append(("t", v.isoformat(), n))
        elif isinstance(v, datetime.date):
            items.append(("D", v.isoformat(), n))
        else:
            # a silent str(v) fallback would split a key's counts in two
            # after a serialize round-trip (stringified vs typed) and
            # change the finalized mode's type — reject loudly instead
            raise TypeError(
                f"count-min candidate key type {type(v).__name__} is not "
                f"round-trippable; supported: None/bool/int/float/bytes/"
                f"str/Decimal/date/datetime")
    return json.dumps(items, ensure_ascii=False).encode("utf-8")


def _dec_candidates(blob: bytes) -> dict:
    out: dict = {}
    for t, v, n in json.loads(blob.decode("utf-8")):
        if t == "n":
            key = None
        elif t == "b":
            key = bool(v)
        elif t == "i":
            key = int(v)
        elif t == "f":
            key = float.fromhex(v)
        elif t == "B":
            key = bytes.fromhex(v)
        elif t == "d":
            key = decimal.Decimal(v)
        elif t == "t":
            key = datetime.datetime.fromisoformat(v)
        elif t == "D":
            key = datetime.date.fromisoformat(v)
        else:
            key = v
        out[key] = int(n)
    return out


class CountMin:
    __slots__ = ("depth", "width", "table", "n", "candidates", "max_candidates")

    def __init__(self, depth: int = 5, width: int = 1 << 16,
                 max_candidates: int = 256):
        if width & (width - 1):
            raise ValueError("width must be a power of two")
        self.depth = depth
        self.width = width
        self.table = np.zeros((depth, width), dtype=np.int64)
        self.n = 0
        self.max_candidates = max_candidates
        self.candidates: dict = {}

    # -- hashing --------------------------------------------------------
    def _indices(self, h: np.ndarray) -> np.ndarray:
        """(depth, n) row indices from item hashes."""
        idx = np.empty((self.depth, h.size), dtype=np.int64)
        mask = np.uint64(self.width - 1)
        for d in range(self.depth):
            with np.errstate(over="ignore"):
                hd = splitmix64(h ^ np.uint64(0xA076_1D64_78BD_642F * (d + 1) & 0xFFFFFFFFFFFFFFFF))
            idx[d] = (hd & mask).astype(np.int64)
        return idx

    # -- update ---------------------------------------------------------
    def update(self, values, counts: np.ndarray | None = None) -> None:
        """Batch update. ``values`` may repeat; pass ``counts`` to add
        pre-aggregated (value, count) pairs (the map-side-combined path)."""
        arr = np.asarray(values)
        if arr.size == 0:
            return
        if counts is None:
            # hash-based pre-aggregation (pandas factorize) — much faster
            # than sort-based np.unique on object/string arrays
            import pandas as pd

            codes, uniq = pd.factorize(arr)
            cnt = np.bincount(codes[codes >= 0]).astype(np.int64)
            uniq = np.asarray(uniq)
        else:
            uniq, cnt = arr, np.asarray(counts, dtype=np.int64)
        h = hash64(uniq)
        idx = self._indices(h)
        for d in range(self.depth):
            np.add.at(self.table[d], idx[d], cnt)
        self.n += int(cnt.sum())
        # track candidates — keys canonicalized (tz-aware datetimes ->
        # naive UTC) so partials from the Arrow kernel (aware) and
        # pandas inputs (naive) merge into ONE candidate per instant
        # instead of splitting its counts
        from tsv_utils_spark.sketches.hashing import canon_datetime

        est = self.table[np.arange(self.depth)[:, None], idx].min(axis=0)
        if uniq.dtype.kind == "M":
            # datetime64[ns].tolist() yields raw epoch-ns ints (ns exceeds
            # datetime.datetime precision) — the candidate key would then
            # split between int (this path) and datetime (Arrow-kernel /
            # re-score path) across merged partials, and a typed-mode
            # finalize could return an int where out_type='timestamp'.
            # Down-convert to [us] first so .tolist() gives naive datetimes.
            keys = uniq.astype("datetime64[us]").tolist()
        else:
            keys = uniq.tolist()
        for v, e in zip(keys, est.tolist()):
            v = canon_datetime(v)
            self.candidates[v] = max(self.candidates.get(v, 0), int(e))
        self._truncate()

    def _truncate(self) -> None:
        if len(self.candidates) > self.max_candidates:
            keep = sorted(self.candidates.items(), key=lambda kv: (-kv[1], str(kv[0])))
            self.candidates = dict(keep[: self.max_candidates])

    # -- query ----------------------------------------------------------
    def count(self, value) -> int:
        h = hash64(np.asarray([value]))
        idx = self._indices(h)
        return int(self.table[np.arange(self.depth), idx[:, 0]].min())

    def counts(self, values) -> np.ndarray:
        arr = np.asarray(values)
        h = hash64(arr)
        idx = self._indices(h)
        return self.table[np.arange(self.depth)[:, None], idx].min(axis=0)

    def heavy_hitters(self, k: int | None = None) -> list[tuple[object, int]]:
        """Candidates re-scored against the merged table, sorted by
        (-count, value) — deterministic tie-break on the value itself
        (the distributed stand-in for the reference's first-seen rule)."""
        if not self.candidates:
            return []
        vals = list(self.candidates.keys())
        est = self.counts(np.asarray(vals, dtype=object))
        out = sorted(zip(vals, est.tolist()), key=lambda kv: (-kv[1], str(kv[0])))
        return out[:k] if k else out

    def mode(self) -> tuple[object, int] | None:
        hh = self.heavy_hitters(1)
        return hh[0] if hh else None

    @property
    def epsilon(self) -> float:
        """CM overestimate bound factor: err <= e/width * N w.p. 1-exp(-depth)."""
        return float(np.e / self.width)

    # -- merge / serde --------------------------------------------------
    def merge(self, other: "CountMin") -> "CountMin":
        if (other.depth, other.width) != (self.depth, self.width):
            raise ValueError("CM shape mismatch")
        self.table += other.table
        self.n += other.n
        for v, e in other.candidates.items():
            self.candidates[v] = max(self.candidates.get(v, 0), e)
        self._truncate()
        return self

    def serialize(self) -> bytes:
        """Sparse when cheap: per-group CM tables in the two-level plan are
        overwhelmingly zeros (a group touches ~distinct-values cells, not
        width*depth). Sparse payload = (uint32 flat index, int64 count)
        pairs; dense = raw table. Whichever is smaller wins."""
        cand = _enc_candidates(self.candidates)
        nz = np.flatnonzero(self.table.reshape(-1))
        sparse_bytes = nz.size * 12
        dense_bytes = self.table.size * 8
        mode = 1 if sparse_bytes < dense_bytes else 0
        head = struct.pack("<BIIQII", mode, self.depth, self.width, self.n,
                           self.max_candidates, len(cand))
        if mode:
            counts = self.table.reshape(-1)[nz]
            payload = (struct.pack("<Q", nz.size)
                       + nz.astype(np.uint32).tobytes() + counts.tobytes())
        else:
            payload = self.table.tobytes()
        return head + cand + payload

    @classmethod
    def deserialize(cls, blob: bytes) -> "CountMin":
        mode, depth, width, n, mc, clen = struct.unpack_from("<BIIQII", blob)
        off = struct.calcsize("<BIIQII")
        out = cls(depth=depth, width=width, max_candidates=mc)
        out.n = n
        out.candidates = _dec_candidates(blob[off:off + clen])
        off += clen
        if mode:
            (nnz,) = struct.unpack_from("<Q", blob, off)
            off += 8
            idx = np.frombuffer(blob, dtype=np.uint32, count=nnz, offset=off)
            off += 4 * nnz
            counts = np.frombuffer(blob, dtype=np.int64, count=nnz, offset=off)
            flat = np.zeros(depth * width, dtype=np.int64)
            flat[idx.astype(np.int64)] = counts
            out.table = flat.reshape(depth, width)
        else:
            out.table = (np.frombuffer(blob, dtype=np.int64,
                                       count=depth * width, offset=off)
                         .reshape(depth, width).copy())
        return out
