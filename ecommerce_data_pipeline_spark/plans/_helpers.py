"""Shared expression helpers keeping Spark plans and DuckDB oracles exact."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def dec(col: str | Column) -> Column:
    """Exact-decimal view of a double measure (see registry docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col: str | Column) -> Column:
    """Exact decimal sum, published as double."""
    return F.sum(dec(col)).cast("double")


def davg(col: str | Column) -> Column:
    """Exact-decimal sum / count — deterministic cross-engine average."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c)).cast("double") / F.count(c)


# SQL-side twins (DuckDB dialect)
def sql_dec(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(18,2))"


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM({sql_dec(expr)}) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(SUM({sql_dec(expr)}) AS DOUBLE) / COUNT({expr})"


def ordered_fold(key_col: str | Column, val_col: Column) -> Column:
    """Deterministic float sum for a SMALL group (dimension-bounded, not
    corpus-bounded): fold the values in key order via
    array_sort(collect_list(struct(key, val))), so both engines add the
    same doubles in the same sequence. SQL twin:
    ``list_aggregate(list(<val> ORDER BY <key>), 'sum')``.

    The aggregation buffers the whole group's values — use ONLY where
    the group size is bounded by a dimension (segments, calendar
    buckets, lag grid), never over fact rows; corpus-scale exact sums
    belong to the integer/decimal disciplines (dsum, integer micros).
    """
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(k, val_col.alias("x")))),
            lambda s: s["x"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sql_ordered_fold(val_expr: str, key_expr: str) -> str:
    """DuckDB twin of ordered_fold."""
    return f"list_aggregate(list({val_expr} ORDER BY {key_expr}), 'sum')"


def exact_floor_div(num: Column, den: Column) -> Column:
    """EXACT floor(num/den) for nonnegative DECIMAL(38,0) operands.

    ``F.floor(num / den)`` is NOT exact on decimals: Spark's decimal
    division yields DECIMAL(38,6) rounded HALF_UP before the floor, so
    a true quotient whose fractional part is within 5e-7 of 1 rounds up
    first and the floor lands one too high (caught by the r12 review at
    num/den ~ 500001/1000001 — the mixture monitor's cumulative doc
    count crosses that denominator scale around 1e6 documents).
    Subtracting the remainder first makes the division exact: num -
    pmod(num, den) is exactly divisible, the quotient carries a zero
    fractional part at any scale, and the cast is lossless."""
    n = num.cast("decimal(38,0)")
    d = den.cast("decimal(38,0)")
    return ((n - F.pmod(n, d)) / d).cast("decimal(38,0)")


def half_up_ratio_units(p: Column, q: Column, unit: int) -> Column:
    """round(unit * p / q) for nonnegative integers with the exact
    rational half-up rule round(x/y) = (2x + y) // (2y) — zero floats,
    one exact integer division (``exact_floor_div``). The quantization
    rule shared by mixture_convergence_monitor (micros), its streaming
    twin (Python //), and link_prediction_resource_allocation (nanos)."""
    num = F.lit(2 * unit).cast("decimal(38,0)") * p.cast("decimal(38,0)") + q.cast(
        "decimal(38,0)"
    )
    den = F.lit(2).cast("decimal(38,0)") * q.cast("decimal(38,0)")
    return exact_floor_div(num, den).cast("long")


def rows_equal(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality of two relations: ``exceptAll`` both ways, the
    distributed set-diff with no driver collect. The second diff runs
    only when the first is empty."""
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
