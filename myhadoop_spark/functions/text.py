"""The engine's one text format: whitespace tokens, the 32-bit md5 hash
and the 16-function MinHash family, each with its DuckDB twin.

Every text operator and its oracle must tokenize and hash the same way,
or the bitwise DuckDB gate fails and signature joins miss pairs (a
near-duplicate is found only when producer and probe compute the same
signature). Like ``functions/money.py``, this module keeps each Spark
expression next to the SQL fragment that mirrors it, below both
``operators/`` and ``queries/``.

Tokens are ``str.split()`` semantics (the reference WordCount,
``datanode.py:600-602``): split on runs of whitespace, drop the empty
strings a leading or trailing run leaves. Parity caveat: Java/DuckDB
regex ``\\s`` is ASCII whitespace while Python ``str.split()`` also
splits on Unicode whitespace (NBSP, em space, ...) — parity with the
reference holds for ASCII-whitespace corpora, which covers both the
reference corpus (verified byte-level in tests/test_wordcount_parity.py)
and the fixtures. A (?U)-flagged Spark split would diverge from the
RE2-based DuckDB oracle instead, so ASCII semantics are the deliberate
common ground.

The hash is the first 8 hex digits of md5 read as a BIGINT (32 bits,
never negative): engine-portable, partitioning-independent and equal in
Spark (``conv``) and DuckDB (``'0x'`` literal cast).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column | str = "text") -> Column:
    """array<string> of the whitespace tokens of a column or expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


def sql_tokens(expr: str = "text") -> str:
    return rf"list_filter(string_split_regex({expr}, '\s+'), t -> t <> '')"


def hash32(c: Column) -> Column:
    """First 8 md5 hex digits of a string column as a BIGINT."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def hash_bucket(c: Column, buckets: int = 100) -> Column:
    """Stable pseudo-random bucket in [0, buckets) from a column value
    (cast to string first, so ids hash as their decimal text)."""
    return hash32(c.cast("string")) % buckets


def sql_hash32(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def sql_hash_bucket(expr: str, buckets: int) -> str:
    return f"{sql_hash32(f'CAST({expr} AS VARCHAR)')} % {buckets}"


# fixed affine hash family h_i(x) = (a_i * x + b_i) mod P over hash32
# token hashes; 16 functions = 4 bands × 4 rows
MINHASH_P = 2_147_483_647
_A = (3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59)
_B = (7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67)
MINHASH_FAM = [(i, _A[i], _B[i]) for i in range(16)]
MINHASH_BAND_ROWS = 4
# a candidate pair is a near-duplicate at token-set Jaccard >= this
JACCARD_THRESHOLD = 0.5


def hashed_token_set(col: Column | str = "text") -> Column:
    """array<bigint>: the sorted distinct hash32 values of the column's
    distinct tokens — the set MinHash signatures and Jaccard verifies
    run over (collisions are deterministic and mirrored by the oracle)."""
    toks = F.array_sort(F.array_distinct(tokens(col)))
    return F.array_sort(F.array_distinct(F.transform(toks, hash32)))


def minhash_fold(hashed: Column, i: int) -> Column:
    """MinHash i of a hashed token array: min of (a_i·h + b_i) mod P.

    Only the fold is shared: callers assemble bands in the shape their
    plan needs, because a fold referenced from several places of one
    projection is re-evaluated per reference unless the caller binds
    or unrolls it (see queries/dedup.py::minhash_signatures)."""
    _, a, b = MINHASH_FAM[i]
    return F.aggregate(
        hashed,
        F.lit(MINHASH_P).cast("long"),
        lambda acc, th: F.least(acc, (F.lit(a) * th + F.lit(b)) % MINHASH_P))


# The oracle twin of hashed_token_set + minhash_fold + the 4-row band
# signatures over documents: CTEs sets(doc_id, toks), th(doc_id, th),
# fam(i, a, b), sig(doc_id, i, band, mh) and bsig(doc_id, band,
# band_sig); a document without tokens has no th, sig or bsig rows.
SQL_MINHASH_CTES = f"""
    sets AS (SELECT doc_id, {sql_tokens()} AS toks FROM documents),
    th AS (SELECT doc_id, {sql_hash32('tok')} AS th
           FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM sets)),
    fam AS (SELECT * FROM (VALUES {', '.join(f'({i}, {a}, {b})' for i, a, b in MINHASH_FAM)})
            AS f(i, a, b)),
    sig AS (SELECT doc_id, i, i // {MINHASH_BAND_ROWS} AS band,
                   MIN((a * th + b) % {MINHASH_P}) AS mh
            FROM th CROSS JOIN fam GROUP BY doc_id, i),
    bsig AS (SELECT doc_id, band,
                    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_sig
             FROM sig GROUP BY doc_id, band)"""
