"""Driver-style comparison: run a Spark query and its DuckDB oracle SQL,
compare row count + column names + Arrow result types + order-insensitive
values (columns sorted by name, floats rounded).

The Arrow-type check exists because the driver hashes *typed* values:
a DuckDB HUGEINT (`decimal128(38,0)` in Arrow, e.g. from SUM(BIGINT))
against a Spark `bigint` hash-mismatches on the driver even though the
Python values compare equal — value-normalizing alone hid that class of
bug locally twice (q12 round 4, bm25/json_props round 5)."""

from __future__ import annotations

import datetime as dt
import math
import os
import tempfile
from decimal import Decimal

import duckdb
import pyarrow as pa


def _type_category(t: pa.DataType) -> str:
    """Collapse an Arrow type into the equivalence class the driver's
    typed hash effectively distinguishes.  Integer widths and timestamp
    timezones coerce identically through pandas stringification, so they
    share a class; decimals do NOT coerce to ints/floats and get their
    own class (this is what catches DuckDB HUGEINT drift)."""
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_type_category(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{_type_category(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def assert_type_parity(s_schema: pa.Schema, d_schema: pa.Schema,
                       name: str = "?") -> None:
    d_by_name = {f.name: f.type for f in d_schema}
    for f in s_schema:
        sc = _type_category(f.type)
        dc = _type_category(d_by_name[f.name])
        assert sc == dc, (
            f"{name}.{f.name}: Arrow type class mismatch spark={sc} "
            f"(={f.type}) duck={dc} (={d_by_name[f.name]}) — the driver's "
            f"typed hash will fail even if values match"
        )


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to 9 significant digits to absorb engine-order float fuzz
        return float(f"{v:.9g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


# DuckDB defaults to 80% of RAM and every core; beside the Spark
# driver's 8 GiB heap on a 15 GiB box that default can take the machine
# down before DuckDB's own limit trips. Cap it, and give it somewhere
# to spill (the first Spark scratch dir, so test litter stays in one
# place).
DUCK_MEMORY_LIMIT = "4GB"
DUCK_THREADS = 2


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    local = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
    spill = os.path.join(local or tempfile.gettempdir(), "duckdb-spill")
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{DUCK_MEMORY_LIMIT}'")
    con.execute(f"SET threads = {DUCK_THREADS}")
    con.execute(f"SET temp_directory = '{spill}'")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare_query(spark, sf_dir: str, fn, sql: str, name: str = "?") -> None:
    sdf = fn(spark, sf_dir)
    s_cols = list(sdf.columns)
    s_rows = sdf.collect()
    try:
        s_schema = sdf.toArrow().schema
    except Exception:
        s_schema = None  # exotic Spark types with no Arrow mapping
    con = duck_con(sf_dir)
    res = con.execute(sql)
    d_arrow = res.fetch_arrow_table()
    d_cols = d_arrow.schema.names
    d_rows = [tuple(d[c] for c in d_cols) for d in d_arrow.to_pylist()]
    con.close()
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    if s_schema is not None:
        assert_type_parity(s_schema, d_arrow.schema, name)
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    order = sorted(s_cols)
    s_idx = [s_cols.index(c) for c in order]
    d_idx = [d_cols.index(c) for c in order]
    s_set = sorted(
        (tuple(_norm(r[i]) for i in s_idx) for r in s_rows), key=repr
    )
    d_set = sorted(
        (tuple(_norm(r[i]) for i in d_idx) for r in d_rows), key=repr
    )
    if s_set != d_set:
        diffs = [
            (a, b) for a, b in zip(s_set, d_set) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs {diffs}")
