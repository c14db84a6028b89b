"""Local emulation of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at the given sf, compare
row-count, column names, order-insensitive values, AND arrow-level column
types (the driver's hash compare is type-sensitive: DuckDB HUGEINT vs
Spark bigint hash differently even when the Python values compare equal —
the round-1 sessionize/token_counts_by_lang failure mode).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from time_series_databse_engine_spark import get_spark
from time_series_databse_engine_spark.sources import TABLES


def _norm_type(t) -> str:
    """Normalize an arrow / Spark type to a comparable label."""
    import pyarrow as pa

    # The round-1 driver evidence says its hasher normalizes integer widths
    # (int32 Spark vs int64 DuckDB hash-matched) but NOT int vs decimal128
    # (DuckDB HUGEINT sum() → decimal(38,0) hash-failed against Spark
    # bigint).  Mirror that: all int widths → "int", float64 → "float64",
    # decimals stay distinct.
    if isinstance(t, str):  # Spark simpleString
        m = {
            "tinyint": "int", "smallint": "int", "int": "int",
            "bigint": "int", "float": "float32", "double": "float64",
            "string": "string", "boolean": "bool", "date": "date",
            "binary": "binary",
        }
        if t in m:
            return m[t]
        if t.startswith("timestamp"):
            return "timestamp"
        if t.startswith("decimal"):
            return t  # decimal(p,s) must match exactly
        if t.startswith("array<"):
            return "list<" + _norm_type(t[6:-1]) + ">"
        return t
    # pyarrow DataType
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return "list<" + _norm_type(t.value_type) + ">"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_boolean(t):
        return "bool"
    return str(t)


def type_mismatches(sdf, duck_arrow_schema) -> list[str]:
    spark_types = {f.name: _norm_type(f.dataType.simpleString()) for f in sdf.schema.fields}
    out = []
    for name, atype in zip(duck_arrow_schema.names, duck_arrow_schema.types):
        dt = _norm_type(atype)
        st = spark_types.get(name)
        if st is not None and st != dt:
            out.append(f"{name}: spark={st} duck={dt}")
    return out


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / representation noise the same way on both sides
        return f"{v:.6f}" if abs(v) < 1e16 else f"{v:.6e}"
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(s_rows)} rows (no oracle)")
            continue
        try:
            tbl = con.execute(oracles[name]).arrow()
            d_cols = tbl.schema.names
            d_rows = [tuple(d) for d in zip(*(tbl.column(i).to_pylist() for i in range(tbl.num_columns)))] if tbl.num_columns else []
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        tmm = type_mismatches(sdf, tbl.schema)
        sc, sr = norm_rows(s_cols, s_rows)
        dc, dr = norm_rows(d_cols, d_rows)
        if tmm:
            print(f"FAIL {name}: TYPE mismatch {tmm}")
            n_fail += 1
        elif sc != dc:
            print(f"FAIL {name}: columns differ spark={sc} duck={dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duck={len(dr)}")
            n_fail += 1
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL {name}: values differ ({len(sr)} rows), first diffs: {diffs}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
