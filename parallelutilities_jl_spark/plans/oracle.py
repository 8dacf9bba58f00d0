"""DuckDB oracle SQL generator for the product/zip data model.

Generates, from the same ProductSpec the Spark side uses, ANSI-ish SQL
that DuckDB runs to produce the *same* rows. The Spark side answers
metadata queries with closed-form expressions (no scan); the oracle
brute-forces them by enumerating the product and aggregating — matching
the reference's own test strategy of checking O(1) formulas against
exhaustive collection (reference test/productsplit.jl:24-57).

Dialect notes (kept deliberately tiny):
  * integer division `//`, modulo `%` (DuckDB) vs helper-built exprs (Spark)
  * `range(0, N) t(i)` (DuckDB) vs `spark.range` (Spark)
"""

from __future__ import annotations

from parallelutilities_jl_spark.plans.productsplit import ProductSpec
from parallelutilities_jl_spark.sources.ranges import RangeSpec


def dd_value(r: RangeSpec, idx_sql: str) -> str:
    if r.is_float:
        return (
            f"(CAST({r.start} AS DOUBLE) + CAST({r.step} AS DOUBLE) * ({idx_sql}))"
        )
    return f"({int(r.start)} + {int(r.step)} * ({idx_sql}))"


def dd_coord(spec: ProductSpec, k: int, i: str = "i") -> str:
    s, n = spec.strides[k], spec.lengths[k]
    return dd_value(spec.ranges[k], f"(({i} // {s}) % {n})")


def dd_partition(total: int, np, i: str = "i") -> str:
    """1-based rank owning 0-based index i — balanced block rule.
    ``np`` may be an int or a SQL identifier (column)."""
    if isinstance(np, int):
        d, r = divmod(total, np)
        d_sql, r_sql = str(d), str(r)
        d_safe = str(max(d, 1))
    else:
        d_sql, r_sql = f"({total} // {np})", f"({total} % {np})"
        d_safe = f"(CASE WHEN {d_sql} > 0 THEN {d_sql} ELSE 1 END)"
    boundary = f"({r_sql} * ({d_sql} + 1))"
    return (
        f"(CASE WHEN {i} < {boundary} THEN {i} // ({d_sql} + 1) "
        f"ELSE {r_sql} + ({i} - {boundary}) // {d_safe} END + 1)"
    )


def product_cte(
    spec: ProductSpec, np: int | None = None, i: str = "i"
) -> str:
    """SELECT enumerating the full product: i, c1..cN[, p]."""
    cols = [i] + [
        f"{dd_coord(spec, k, i)} AS c{k + 1}" for k in range(spec.ndims)
    ]
    if np is not None:
        cols.append(f"{dd_partition(spec.total, np, i)} AS p")
    return f"SELECT {', '.join(cols)} FROM range(0, {spec.total}) t({i})"


def zip_cte(ranges: tuple[RangeSpec, ...], np: int | None = None) -> str:
    n = ranges[0].length
    cols = ["i"] + [
        f"{dd_value(r, 'i')} AS z{k + 1}" for k, r in enumerate(ranges)
    ]
    if np is not None:
        cols.append(f"{dd_partition(n, np, 'i')} AS p")
    return f"SELECT {', '.join(cols)} FROM range(0, {n}) t(i)"


def grid_cte(np_max: int) -> str:
    """All (np, p), 1 <= p <= np <= np_max."""
    return (
        f"SELECT nps.n AS np, ps.n AS p "
        f"FROM range(1, {np_max + 1}) nps(n), range(1, {np_max + 1}) ps(n) "
        f"WHERE ps.n <= nps.n"
    )
