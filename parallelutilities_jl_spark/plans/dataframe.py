"""DataFrame mirror of the product/zip split data model.

Spark-first rendering of the reference's lazy product enumeration
(reference src/productsplit.jl): a product of ranges is `spark.range(N)`
plus *closed-form* mixed-radix decode columns — no crossJoin, no shuffle,
no materialization. All per-partition metadata (min/max/distinct counts/
membership/ownership) is likewise computed as closed-form column
expressions over (np, p) or window-bound columns: a grid of a million
(np, p) pairs over a 10^12-element product evaluates without ever scanning
the product. That is the Spark analog of the reference's O(1) no-scan
metadata queries (reference docs/src/pmapreduce.md:123-159).

Every expression here has a DuckDB twin in plans/oracle.py generated from
the same ProductSpec; tests/test_productsplit.py sweeps both against the
pure-Python descriptors.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parallelutilities_jl_spark.functions.codec import idiv
from parallelutilities_jl_spark.plans.productsplit import ProductSpec
from parallelutilities_jl_spark.sources.ranges import RangeSpec


def range_value_expr(r: RangeSpec, idx: Column) -> Column:
    """value = start + step * idx; LongType for int ranges, DoubleType for
    float ranges (indexed form — no step accumulation, SURVEY §7)."""
    if r.is_float:
        return F.lit(float(r.start)) + F.lit(float(r.step)) * idx.cast("double")
    return (F.lit(int(r.start)) + F.lit(int(r.step)) * idx).cast("long")


def coord_exprs(spec: ProductSpec, i: Column, prefix: str = "c") -> list[Column]:
    """Mixed-radix decode: 0-based linear index → value columns c1..cN
    (reference `childindex`, src/productsplit.jl:264-276)."""
    out = []
    for k, (r, s, n) in enumerate(
        zip(spec.ranges, spec.strides, spec.lengths)
    ):
        idx = idiv(i, s) % n
        out.append(range_value_expr(r, idx).alias(f"{prefix}{k + 1}"))
    return out


def child_index_exprs(spec: ProductSpec, i: Column, one_based: bool = True) -> list[Column]:
    """Per-range indices of linear index ``i`` (1-based like Julia)."""
    off = 1 if one_based else 0
    return [
        (idiv(i, s) % n + off).cast("long").alias(f"k{k + 1}")
        for k, (s, n) in enumerate(zip(spec.strides, spec.lengths))
    ]


def partition_expr(total: int, np, i: Column) -> Column:
    """1-based rank owning 0-based index ``i`` under the balanced block
    rule (closed-form inverse of reference src/productsplit.jl:124-130).
    ``np`` may be an int or a Column."""
    if isinstance(np, int):
        d, r = divmod(total, np)
        d_c, r_c = F.lit(d), F.lit(r)
    else:
        d_c = idiv(F.lit(total), np)
        r_c = F.lit(total) % np
    boundary = r_c * (d_c + 1)
    p0 = F.when(i < boundary, idiv(i, d_c + 1)).otherwise(
        r_c + idiv(i - boundary, F.greatest(d_c, F.lit(1)))
    )
    return (p0 + 1).cast("long")


def droptake_exprs(total: int, np: Column, p: Column) -> tuple[Column, Column]:
    """(drop, take) of 1-based rank p among np — the balanced partitioner
    as column arithmetic (reference `nelementsdroptake`,
    src/productsplit.jl:124-130)."""
    d = idiv(F.lit(total), np)
    r = F.lit(total) % np
    drop = d * (p - 1) + F.least(r, p - 1)
    take = d * p + F.least(r, p) - drop
    return drop.cast("long"), take.cast("long")


def encode_exprs(spec: ProductSpec, cols: Sequence[Column]) -> tuple[Column, Column]:
    """(index, valid): value columns → 0-based linear index + on-grid flag
    (reference `indexinproduct`, src/productsplit.jl:719-728)."""
    idx_total = F.lit(0).cast("long")
    valid = F.lit(True)
    for c, r, s, n in zip(cols, spec.ranges, spec.strides, spec.lengths):
        if r.is_float:
            k_f = (c - F.lit(float(r.start))) / F.lit(float(r.step))
            k = F.round(k_f).cast("long")
            ok = (
                (k >= 0)
                & (k < n)
                & (
                    F.abs(
                        F.lit(float(r.start)) + F.lit(float(r.step)) * k.cast("double") - c
                    )
                    < 1e-9
                )
            )
        else:
            delta = c - F.lit(int(r.start))
            k = idiv(delta, F.lit(int(r.step)))
            ok = (delta % int(r.step) == 0) & (k >= 0) & (k < n) & (delta * int(r.step) >= 0)
        idx_total = idx_total + F.when(ok, k).otherwise(0) * s
        valid = valid & ok
    return idx_total, valid


# ---------------------------------------------------------------------------
# window metadata (the O(1) no-scan expressions)
# ---------------------------------------------------------------------------


def window_nelements_expr(spec: ProductSpec, dim: int, f0: Column, l0: Column) -> Column:
    """Distinct values along 0-based ``dim`` inside window [f0, l0]
    (reference `nelements`, src/productsplit.jl:406-432)."""
    s, n = spec.strides[dim], spec.lengths[dim]
    a, b = idiv(f0, s), idiv(l0, s)
    return F.least(F.lit(n), b - a + 1).cast("long")


def window_extrema_exprs(
    spec: ProductSpec, dim: int, f0: Column, l0: Column
) -> tuple[Column, Column]:
    """(min, max) value along ``dim`` inside window [f0, l0], O(1)
    (reference `extremaelement`, src/productsplit.jl:560-596)."""
    r = spec.ranges[dim]
    s, n = spec.strides[dim], spec.lengths[dim]
    a, b = idiv(f0, s), idiv(l0, s)
    rolled = idiv(a, n) != idiv(b, n)
    lo = F.when(rolled, F.lit(0)).otherwise(a % n)
    hi = F.when(rolled, F.lit(n - 1)).otherwise(b % n)
    return range_value_expr(r, lo), range_value_expr(r, hi)


# ---------------------------------------------------------------------------
# DataFrame builders
# ---------------------------------------------------------------------------


def product_df(
    spark: SparkSession,
    spec: ProductSpec,
    np: Optional[int] = None,
) -> DataFrame:
    """The product as a DataFrame: (i, c1..cN[, p]).

    `i` is the 0-based linear index in reverse-lexicographic enumeration
    (first range fastest — reference src/productsplit.jl:25-27); `p` is the
    1-based logical rank under an np-way balanced split. Generated from
    `spark.range` — narrow, no shuffle; Catalyst prunes unused coordinate
    columns and pushes filters into the range scan.
    """
    df = spark.range(0, spec.total, 1, min(spec.total or 1, 32))
    i = F.col("id")
    cols = [i.alias("i"), *coord_exprs(spec, i)]
    if np is not None:
        cols.append(partition_expr(spec.total, np, i).alias("p"))
    return df.select(*cols)


def section_df(
    spark: SparkSession, spec: ProductSpec, first0: int, last0: int
) -> DataFrame:
    """A ProductSection window as a DataFrame (reference
    src/productsplit.jl:89-101). The filter on `id` is pushed into the
    range scan — partitions outside the window produce nothing."""
    return product_df(spark, spec).filter(
        (F.col("i") >= first0) & (F.col("i") <= last0)
    )


def zip_df(
    spark: SparkSession,
    ranges: Sequence[RangeSpec],
    np: Optional[int] = None,
) -> DataFrame:
    """zip(ranges...) as a DataFrame: (i, z1..zK[, p]) — element-wise
    alignment (reference `zipsplit`, src/mapreduce.jl:45-78)."""
    lens = {r.length for r in ranges}
    if len(lens) != 1:
        raise ValueError("zip requires equal-length ranges")
    n = lens.pop()
    df = spark.range(0, n, 1, min(n or 1, 32))
    i = F.col("id")
    cols = [i.alias("i")] + [
        range_value_expr(r, i).alias(f"z{k + 1}") for k, r in enumerate(ranges)
    ]
    if np is not None:
        cols.append(partition_expr(n, np, i).alias("p"))
    return df.select(*cols)


def np_p_grid(spark: SparkSession, np_max: int, total: int) -> DataFrame:
    """All (np, p) pairs with 1 <= p <= np <= np_max and non-empty splits,
    plus (drop, take) block bounds — entirely closed-form."""
    nps = spark.range(1, np_max + 1).select(F.col("id").alias("np"))
    ps = spark.range(1, np_max + 1).select(F.col("id").alias("p"))
    grid = nps.crossJoin(ps).filter(F.col("p") <= F.col("np"))
    drop, take = droptake_exprs(total, F.col("np"), F.col("p"))
    return grid.select("np", "p", drop.alias("drop"), take.alias("take")).filter(
        F.col("take") > 0
    )
