"""analytics_pass: one pass over 15 registry queries, early in a fresh
session, in a seeded order, each built by ``__spark_entry__.queries()`` and
collected; every answer is then compared to the query's DuckDB
``oracle_sql()`` outside the timed region.

The tables are the same for every seed, so DuckDB's answers are computed
once per checkout and kept as Arrow IPC files under ``perfbench/work``."""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time

import checks
import gen
from harness import latency_summary

N_GENERATES = 3
# cheap registry queries outside the measured 15, run once in set-up so
# the session's first-query costs do not land on whichever query the
# seed puts first
WARM_UP = ("range_scan", "token_counts_by_lang")


def oracle_answers(tables: str, names: list[str], oracles: dict[str, str], cache_dir: str) -> dict:
    """DuckDB's answer to each query as an Arrow table, from the cache
    when the tables and the oracle SQL are unchanged."""
    import duckdb
    import pyarrow as pa

    h = hashlib.sha256(duckdb.__version__.encode())
    for t in sorted(gen.ANALYTICS_ROWS):
        with open(os.path.join(tables, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    out, missing = {}, []
    for name in names:
        key = hashlib.sha256(h.digest() + oracles[name].encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.arrow")
        if os.path.exists(path):
            with pa.ipc.open_file(path) as r:
                out[name] = r.read_all()
        else:
            missing.append((name, path))
    if missing:
        os.makedirs(cache_dir, exist_ok=True)
        con = duckdb.connect()
        for t in gen.ANALYTICS_ROWS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        for name, path in missing:
            table = con.execute(oracles[name]).arrow()
            tmp = f"{path}.{os.getpid()}.tmp"
            with pa.ipc.new_file(tmp, table.schema) as w:
                w.write_table(table)
            os.replace(tmp, path)
            out[name] = table
        con.close()
    return out


def prepare(ctx) -> dict:
    """Set-up: the tables (generated N_GENERATES times, the median timed)
    and the warm-up queries."""
    import __spark_entry__ as entry

    tables = os.path.join(ctx.work, "tables")
    gens = []
    for _ in range(N_GENERATES):
        t = time.perf_counter()
        gen.write_analytics_tables(tables)
        gens.append(time.perf_counter() - t)
    queries = entry.queries()
    t = time.perf_counter()
    for name in WARM_UP:
        queries[name](ctx.spark, tables).collect()
    warm_s = time.perf_counter() - t
    ctx.detail.setdefault("setup_parts_s", {})["analytics"] = {"generate": gens, "warm_up": warm_s}
    return {
        "setup_s": statistics.median(gens) + warm_s,
        "tables": tables,
        "queries": queries,
        "order": gen.query_order(ctx.seed),
        "results": {},
        "lat": {},
    }


def measure(ctx, st: dict) -> None:
    """The pass: each query built and collected, in the seed's order."""
    for name in st["order"]:
        with ctx.operation(name, measured=True) as op_rec:
            t = time.perf_counter()
            try:
                with ctx.span("registry.build"):
                    df = st["queries"][name](ctx.spark, st["tables"])
                rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # counted as a failed query, not fatal
                ctx.log(f"FAILED {name}: {e!r}")
                st["results"][name] = None
                continue
            st["lat"][name] = (time.perf_counter() - t) * 1000.0
            op_rec["rows"] = len(rows)
        st["results"][name] = (df, rows)


def check(ctx, st: dict) -> tuple[list[float], float]:
    """Every answer against DuckDB; returns the queries' latencies and
    the time spent in them."""
    import __spark_entry__ as entry

    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    from check_correctness import norm_rows, type_mismatches

    order, results, lat = st["order"], st["results"], st["lat"]
    answers = oracle_answers(st["tables"], order, entry.oracle_sql(), os.path.join(ctx.cache, "oracle"))
    failed = 0
    for name in order:
        if results[name] is None:
            failed += 1
            continue
        df, rows = results[name]
        errs = checks.compare_to_oracle(df, rows, answers[name], norm_rows, type_mismatches)
        if errs:
            failed += 1
            ctx.log(f"FAILED {name}: {'; '.join(errs)}")

    ms = list(lat.values())
    busy_s = sum(ms) / 1000.0
    n_rows = sum(len(r[1]) for r in results.values() if r is not None)
    ctx.attempted += len(order)
    ctx.failed += failed
    ctx.detail.update(
        {
            "analytics_pass_s": busy_s,
            "order": order,
            "query_ms": lat,
            "queries": latency_summary(ms),
            "query_rows_per_s": n_rows / busy_s,
        }
    )
    return ms, busy_s
