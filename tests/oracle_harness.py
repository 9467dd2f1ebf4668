"""Local mirror of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL on the same parquet
tables, sorts columns by name and rows by value, and asserts exact
equality — the same (stricter, since we diff values not hashes) check the
driver applies for CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Any

import duckdb

from ecommerce_data_pipeline_spark.schemas import TABLE_SCHEMAS


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_SCHEMAS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# DuckDB result types that materialize as a DIFFERENT Python/pandas type
# than their Spark twin (HUGEINT → float64 through Arrow/pandas at the
# driver, even though fetchall() hands back Python ints locally). An
# oracle emitting one of these passed the stringified local diff through
# r5 and still hash-failed at the driver (trimmed_order_value_stats, r6)
# — gate them out before any value comparison. DECIMAL residue is gated
# too: the registry's oracle-parity rules cast money to DOUBLE, so a
# DECIMAL output column is always an oracle bug.
_FORBIDDEN_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "INT128", "DECIMAL")


def assert_oracle_types_safe(
    rel: "duckdb.DuckDBPyRelation", context: str = ""
) -> None:
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if any(f in str(t).upper() for f in _FORBIDDEN_DUCK_TYPES)
    ]
    assert not bad, (
        f"oracle {context} emits driver-unsafe DuckDB types {bad}: these "
        "materialize differently through Arrow/pandas than their Spark "
        "twin — CAST the column (typically AS BIGINT or AS DOUBLE)"
    )


def _canon(v: Any) -> str:
    """Canonical TYPE-TAGGED string form of a cell for order-insensitive
    comparison. The tag makes Python-type divergence (int vs float vs
    bool vs str vs date/datetime) a hard mismatch even when the values
    stringify identically — the r6 harness blind spot: untagged
    stringification collapsed ``2978`` and ``2978.0``, so a driver-side
    type-aware hash divergence passed the local verify."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        # repr of float is the shortest round-trip form — bit-exact values
        # stringify identically.
        return f"f:{v!r}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):  # before date: datetime subclasses date
        return f"ts:{v}"
    if isinstance(v, datetime.date):
        return f"d:{v}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, str):
        return f"s:{v}"
    return f"{type(v).__name__}:{v}"


def normalize(rows: list[tuple], colnames: list[str]) -> list[tuple[str, ...]]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    assert_oracle_types_safe(rel)
    duck_cols = list(rel.columns)
    duck_rows = rel.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"column sets differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    assert len(spark_rows) == len(duck_rows), (
        f"row counts differ: spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    s = normalize(spark_rows, [c.lower() for c in spark_cols])
    d = normalize(duck_rows, [c.lower() for c in duck_cols])
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
