"""The benchmark's own arithmetic, kept free of Spark so it can be
tested alone (perfbench/test_stats.py).

  * ``self_times``    span duration minus the part its children cover
  * ``union_length``  total length of a set of possibly overlapping
                      intervals (job intervals → driver idle time)
  * ``tail``          the highest percentile with at least ten samples
                      beyond it
  * ``table_digest``  an order-insensitive digest of a result table
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa


@dataclass
class Span:
    """One traced call: [start, end) in seconds, the span that caused
    it (``parent``, an index into the span list or None), and the op it
    belongs to."""

    name: str
    start: float
    end: float
    parent: int | None
    op: int


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float,
         hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside [lo, hi)."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the union of its direct children's
    intervals (clipped to the parent, so an overlong child cannot make
    a self time negative)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return [
        (sp.end - sp.start)
        - union_length(clip(children.get(i, []), sp.start, sp.end))
        for i, sp in enumerate(spans)
    ]


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples: list[float],
         beyond: int = 10) -> tuple[float, float, int] | None:
    """(percentile, value, samples beyond it) for the highest percentile
    in TAIL_PERCENTILES that leaves at least ``beyond`` samples strictly
    above its rank; None when even the median has fewer. The value is
    the nearest-rank order statistic, so it is always a measured
    sample."""
    n = len(samples)
    ordered = sorted(samples)
    for p in TAIL_PERCENTILES:
        # 1-based nearest rank ceil(p/100 * n), in integers: p has one
        # decimal, and 99.9/100*10000 is not 9990 in floating point
        rank = -(-round(p * 10) * n // 1000)
        if rank >= 1 and n - rank >= beyond:
            return p, ordered[rank - 1], n - rank
    return None


# --------------------------------------------------------------------------
# output digests
# --------------------------------------------------------------------------

def canonical_frame(table: pa.Table) -> pd.DataFrame:
    """A result table in one engine-neutral form: columns sorted by
    name; integers and booleans as int64; floats and decimals as
    float64; timestamps as int64 microseconds of their UTC wall clock
    and dates as int64 days; strings as strings; anything else as the
    string of its Python value. Spark's parquet sink and DuckDB's
    result set both land on this form, so their digests can be
    compared."""
    cols = {}
    for name in sorted(table.column_names):
        col = table.column(name)
        t = col.type
        if pa.types.is_timestamp(t):
            col = col.cast(pa.timestamp(t.unit)).cast(
                pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_date(t):
            col = col.cast(pa.date32()).cast(pa.int32())
        t = col.type
        if pa.types.is_boolean(t) or pa.types.is_integer(t):
            s = col.cast(pa.int64()).to_pandas().astype("Int64")
        elif pa.types.is_floating(t) or pa.types.is_decimal(t):
            s = col.cast(pa.float64()).to_pandas()
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            s = col.to_pandas().astype("object")
        else:
            s = pd.Series([None if v is None else str(v)
                           for v in col.to_pylist()], dtype="object")
        cols[name] = s.reset_index(drop=True)
    return pd.DataFrame(cols)


def table_digest(table: pa.Table) -> str:
    """Order-insensitive digest: the column names, the row count and
    the sum (mod 2^64) of per-row value hashes. Row order never
    matters; any changed value, column or row count changes it."""
    frame = canonical_frame(table)
    rows = pd.util.hash_pandas_object(frame, index=False).to_numpy()
    h = hashlib.sha256()
    h.update("|".join(frame.columns).encode())
    h.update(str(len(frame)).encode())
    h.update(str(int(rows.sum(dtype="uint64"))).encode())
    return h.hexdigest()[:32]
