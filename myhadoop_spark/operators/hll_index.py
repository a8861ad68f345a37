"""Persisted mergeable distinct-count sketches (Apache DataSketches
HLL, Spark 3.5+ builtins) — the "statistics you can afford to keep"
face of cardinality: per-group sketches are built ONCE from the raw
data, persisted as binary columns, and every later question —
coarser-grained rollups, cross-partition unions, incremental updates
from new batches — is answered from the index alone, never by
rescanning the corpus. At 100 TB this is the difference between a
count-distinct that costs a full scan per question and one that costs
a read of a keys-sized sketch table.

Exactness domain (probed, tests/test_hll_index.py): DataSketches HLL
at lgK=12 is EXACT below ~500 distinct items per sketch (coupon-list
mode) and carries rsd ≈ 1.04/√2¹² ≈ 1.6 % beyond; the differential
follows the approx_distinct/approx_quantiles convention — exact
counts are the cross-engine contract, the sketch is oracle-verified
as a BOUND (flag column), and the merge algebra (union of per-group
sketches ≡ sketch of the union) is pinned by tests at both regimes.

Determinism caveat (measured): in the DENSE regime the HLL4 union is
merge-path dependent — repartitioning the input moves the estimate
by a few counts on ~1250 (well inside the rsd bound, but NOT
bitwise), because per-partition partial sketches compact differently
before merging. In the coupon regime estimates are exact and
therefore partitioning-invariant. Consumers that need cross-run
bitwise stability above ~500 distincts per group pass
``group_sketches(..., stable=True)``: it pins a deterministic
hash-repartition ON THE KEYS before the aggregate, so each group's
sketch is built by exactly one partial (HLL register updates are
max-based and order-independent — with a single partial there is no
merge path left to vary). The trade is merge parallelism: a hot
group's rows all visit one task, the documented skew cost; the error
bound holds either way.

All sketch operations are JVM-side Tungsten aggregates
(hll_sketch_agg / hll_union_agg / hll_sketch_estimate) with mergeable
partial state — shuffle ∝ groups × partitions, never ∝ rows.

Reference analog: none — §2.3 extension surface (sketch family,
beside operators/cms.py and the approx_distinct HLL++ gate query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_LGK = 12


def group_sketches(df: DataFrame, keys: list[str], value_col: str,
                   *, lgk: int = DEFAULT_LGK,
                   stable: bool = False) -> DataFrame:
    """(keys..., sketch, n_rows): one DataSketches HLL sketch of the
    distinct ``value_col`` values per key group. ``stable=True``
    pins cross-run bitwise estimates in the dense regime (see module
    docstring) by hash-repartitioning on the keys first — the
    partitioning then already satisfies the aggregate's required
    distribution, so no second shuffle is added."""
    if not keys:
        raise ValueError("keys must name at least one group column")
    if stable:
        df = df.repartition(*[F.col(k) for k in keys])
    return (df.groupBy(*keys)
            .agg(F.hll_sketch_agg(F.col(value_col), F.lit(int(lgk)))
                 .alias("sketch"),
                 F.count(F.lit(1)).cast("long").alias("n_rows")))


def estimate(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Roll the persisted sketches up to ``keys`` (any subset of the
    index's key columns — [] for the grand total) and estimate: the
    raw data is never touched. Returns (keys..., n_rows, estimate)."""
    gb = sketches.groupBy(*keys) if keys else sketches.groupBy()
    return (gb.agg(union_estimate().alias("estimate"),
                   F.sum("n_rows").cast("long").alias("n_rows"))
            .select(*keys, "n_rows", "estimate"))


def union_estimate() -> Column:
    """The aggregate estimating the distinct count of the union of a
    sketch table's ``sketch`` rows."""
    return (F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch")))
            .cast("long"))


def build_index(df: DataFrame, keys: list[str], value_col: str,
                path: str, *, lgk: int = DEFAULT_LGK) -> None:
    """Persist the per-group sketch table (binary sketch column +
    row counts) as parquet."""
    group_sketches(df, keys, value_col, lgk=lgk).write.mode(
        "overwrite").parquet(path)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def merge_sketch_tables(a: DataFrame, b: DataFrame,
                        keys: list[str]) -> DataFrame:
    """Union two sketch tables built with the SAME lgk over the same
    key columns into one (keys..., sketch, n_rows) table — the
    incremental-maintenance primitive (sketches are mergeable, so a
    new batch's sketches fold into the stored index without touching
    history)."""
    return (a.select(*keys, "sketch", "n_rows")
            .unionByName(b.select(*keys, "sketch", "n_rows"))
            .groupBy(*keys)
            .agg(F.hll_union_agg(F.col("sketch")).alias("sketch"),
                 F.sum("n_rows").cast("long").alias("n_rows")))
