"""Johnson–Lindenstrauss random projection — the dimensionality
reducer in front of the ANN family: embeddings are projected onto k
deterministic ±1 sign vectors (Achlioptas 2003's database-friendly
JL variant) and scaled by 1/√k, so downstream index build / search /
dedup run on k-dim vectors instead of the original width. At 100 TB
of 1k-dim embeddings a 4× reduction is 4× less shuffle and index
footprint for a bounded, measured recall cost.

Determinism discipline (the simsearch rules): the sign matrix is a
fixed md5-derived closed form computed in Python and inlined as
double literals — no stored model, identical on every executor, and
any SQL mirror sees the same bits. Each output coordinate is ONE
left-fold double accumulation over the zip_with product (bitwise
equal to DuckDB's list_dot_product on double lists; an expanded
64-term chain per coordinate would overflow Janino's method limit —
the measured r2 lesson). The projection is a zero-shuffle narrow
expression.

Reference analog: none — §2.3 extension surface (embedding family,
beside operators/ivf.py).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column
from pyspark.sql import functions as F


# the sign matrix is inlined as k·dim double literals in BOTH engines'
# plans; past this footprint the plan itself becomes multi-MB (slow to
# analyze, large to broadcast) and the right design is a small
# broadcast-joined matrix TABLE, not a bigger literal — fail loudly
# rather than silently building a megaplan (VERDICT r11 #8)
MAX_LITERALS = 65_536


def sign_matrix(k: int, dim: int, seed: str = "jl") -> list[list[float]]:
    """k rows of ±1.0 signs; sign(j, d) = parity of the first hex
    digit of md5('{seed}:{j}:{d}') — deterministic everywhere."""
    if k < 1 or dim < 1:
        raise ValueError(f"k and dim must be >= 1, got k={k} dim={dim}")
    if k * dim > MAX_LITERALS:
        raise ValueError(
            f"sign matrix would inline k*dim = {k}*{dim} = {k * dim} "
            f"double literals into the plan (> {MAX_LITERALS}); at "
            "this width store the matrix as a small DataFrame and "
            "broadcast-join it instead of widening the literal")
    out = []
    for j in range(k):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        out.append(row)
    return out


def project(vec_col: str | Column, *, k: int, dim: int,
            seed: str = "jl") -> Column:
    """array<double> of length k: (1/√k) · S v, with S the ±1 sign
    matrix — one fold per output coordinate via a transform over the
    literal matrix (compact codegen)."""
    mat = F.array(*[
        F.array(*[F.lit(x) for x in row])
        for row in sign_matrix(k, dim, seed)])
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col)
    vd = F.transform(v, lambda x: x.cast("double"))
    inv = F.lit(1.0 / math.sqrt(k))
    return F.transform(
        mat,
        lambda row: F.aggregate(
            F.zip_with(row, vd, lambda s, x: s * x),
            F.lit(0.0), lambda acc, x: acc + x) * inv)


def sql_sign_matrix(k: int, dim: int, seed: str = "jl") -> str:
    """The identical matrix as a DuckDB list-of-lists literal — the
    oracle-side twin."""
    rows = sign_matrix(k, dim, seed)
    return ("[" + ", ".join(
        "[" + ", ".join(f"{x:.1f}" for x in row) + "]"
        for row in rows) + "]")
