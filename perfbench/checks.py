"""Output checks and statistics that do not depend on Spark.

Everything here is plain Python/numpy/pyarrow so it can be unit-tested on
hand-made inputs and so that no check leans on the engine it checks:

- ``norm_row`` / ``compare_rows`` / ``row_digest``: the typed comparison
  rules of the project's DuckDB parity harness (numeric types are strict,
  rows compare order-insensitively, columns by sorted name), and an
  order-insensitive digest of a result that uses the same normalization.
- ``tail_latency``: the highest percentile that still has at least ten
  samples beyond it; ``op_type_medians``: the median latency of each
  operation type.
- ``validate_sorted_parts``: TeraSort output validation that walks the part
  files in name order (the order a total-order sort defines).
- ``OrdersModel``: a dictionary model of the seeded snapshot-table ops.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- typed row comparison (the parity harness's rules) ---------------------


def norm_value(v):
    """Type-tagged value: an int 6 and a float 6.0 must differ, as must a
    Decimal('6') and the string '6'."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "NaN") if math.isnan(v) else ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, _dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, _dt.date):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(norm_value(x) for x in v)
    if isinstance(v, (str, bytes)):
        return v
    return (type(v).__name__, str(v))


def norm_row(row: dict, cols: list[str]) -> tuple:
    return tuple(norm_value(row[c]) for c in cols)


def _sort_key(row: tuple) -> tuple:
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def compare_rows(
    got_cols: list[str], got: list[dict], want_cols: list[str], want: list[dict]
) -> list[str]:
    """Mismatch descriptions between two results (empty list = equal).
    Rows are dicts keyed by column name; order of rows and columns is
    ignored, value types are not."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns differ: got={sorted(got_cols)} want={sorted(want_cols)}"]
    cols = sorted(got_cols)
    g = sorted((norm_row(r, cols) for r in got), key=_sort_key)
    w = sorted((norm_row(r, cols) for r in want), key=_sort_key)
    errors = []
    if len(g) != len(w):
        errors.append(f"row count differs: got={len(g)} want={len(w)}")
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    errors += [f"row differs: got={a} want={b}" for a, b in bad[:3]]
    if len(bad) > 3:
        errors.append(f"... {len(bad)} differing rows in total")
    return errors


def row_digest(cols: list[str], rows: list[dict]) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result under the
    normalization above: the sum mod 2**64 of each normalized row's hash,
    so equal multisets of rows give equal digests whatever their order."""
    cols = sorted(cols)
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(norm_row(r, cols)).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % (1 << 64)
    header = repr(cols).encode()
    return len(rows), f"{hashlib.blake2b(header, digest_size=8).hexdigest()}-{acc:016x}"


# --- latency statistics ------------------------------------------------------

MIN_BEYOND = 10


def tail_latency(samples: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that still has at
    least ``min_beyond`` samples above it: the (min_beyond+1)-th largest
    sample, which sits at percentile 100 * (n - min_beyond) / n (n = 100
    gives p90, n = 1000 gives p99). Raises ValueError below min_beyond + 1
    samples, where no percentile qualifies."""
    n = len(samples)
    if n <= min_beyond:
        raise ValueError(f"{n} samples: a tail needs at least {min_beyond + 1}")
    s = sorted(samples)
    return 100.0 * (n - min_beyond) / n, s[n - 1 - min_beyond]


def op_type_medians(samples: list[tuple[str, float]]) -> dict[str, float]:
    """Median latency of each operation type, from (type, seconds) samples.

    A pass mixes operations whose latencies differ by up to 20x (a point
    lookup and a merge), so a quantile pooled over all operations sits on
    the edge of one latency class or another depending on how many passes
    fit in a run. Per-type medians do not move with the pass count."""
    by_type: dict[str, list[float]] = {}
    for name, s in samples:
        by_type.setdefault(name, []).append(s)
    return {name: statistics.median(v) for name, v in sorted(by_type.items())}


def geometric_mean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --- TeraSort output validation ---------------------------------------------

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _fixed_width(col, width: int) -> np.ndarray:
    """(n, width) uint8 matrix of a string column whose values are all
    exactly ``width`` bytes; ValueError otherwise."""
    arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    n = len(arr)
    if n == 0:
        return np.zeros((0, width), np.uint8)
    if arr.null_count:
        raise ValueError("null record field")
    otype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(arr.buffers()[1], dtype=otype)[arr.offset: arr.offset + n + 1]
    if not np.array_equal(np.diff(offsets), np.full(n, width, otype)):
        raise ValueError(f"record field is not {width} bytes wide")
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data[offsets[0]: offsets[0] + n * width].reshape(n, width)


def record_checksum(keys: np.ndarray, values: np.ndarray) -> int:
    """Order-insensitive checksum of (key, value) records given as uint8
    matrices: each record's bytes, zero-padded to whole 64-bit words, hash
    to one word (polynomial over the words, then a multiply/xor-shift
    finalizer) and the words are summed mod 2**64, so any permutation of
    the records gives the same checksum."""
    rec = np.concatenate([keys, values], axis=1)
    pad = -rec.shape[1] % 8
    if pad:
        rec = np.concatenate([rec, np.zeros((len(rec), pad), np.uint8)], axis=1)
    words = np.ascontiguousarray(rec).view("<u8")
    with np.errstate(over="ignore"):
        h = np.zeros(len(rec), np.uint64)
        for j in range(words.shape[1]):
            h = h * np.uint64(1099511628211) + words[:, j]
        h ^= h >> np.uint64(31)
        h *= _MIX
        h ^= h >> np.uint64(29)
        return int(h.sum(dtype=np.uint64))


def read_records(path: str, key_width: int, value_width: int) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=["key", "value"])
    return _fixed_width(t.column("key"), key_width), _fixed_width(t.column("value"), value_width)


def validate_sorted_parts(
    part_files: list[str], key_width: int = 10, value_width: int = 90
) -> dict:
    """Walk the part files in name order and count keys that are smaller
    than their predecessor, inside a file or across a file boundary.
    Returns {"rows", "violations", "checksum"}; the caller compares rows and
    checksum with the input's."""
    rows = violations = 0
    checksum = 0
    prev_last = None
    for f in sorted(part_files):
        keys, values = read_records(f, key_width, value_width)
        if len(keys) == 0:
            continue
        k = keys.view(f"S{key_width}").ravel()
        violations += int(np.count_nonzero(k[1:] < k[:-1]))
        if prev_last is not None and k[0] < prev_last:
            violations += 1
        prev_last = k[-1]
        rows += len(keys)
        checksum = (checksum + record_checksum(keys, values)) % (1 << 64)
    return {"rows": rows, "violations": violations, "checksum": checksum}


# --- snapshot-table model ----------------------------------------------------


class OrdersModel:
    """The expected contents of the snapshot table after each seeded op,
    kept as a dict from key to row (a dict of column -> value). Knows
    nothing about the snapshot log: merge is an upsert, append an insert
    of fresh keys, delete a removal, optimize a no-op."""

    def __init__(self, key: str, rows: list[dict]):
        self.key = key
        self.rows = {r[key]: dict(r) for r in rows}

    def merge(self, rows: list[dict]) -> None:
        for r in rows:
            self.rows[r[self.key]] = dict(r)

    def append(self, rows: list[dict]) -> None:
        for r in rows:
            if r[self.key] in self.rows:
                raise ValueError(f"append of an existing key {r[self.key]}")
            self.rows[r[self.key]] = dict(r)

    def delete(self, keys: list) -> None:
        for k in keys:
            self.rows.pop(k, None)

    def lookup(self, k) -> list[dict]:
        return [self.rows[k]] if k in self.rows else []

    def __len__(self) -> int:
        return len(self.rows)
