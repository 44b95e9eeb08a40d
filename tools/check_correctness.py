"""Local mimic of the driver's correctness gate.

Runs every queries()[name] on Spark at sf0.01 and the matching
oracle_sql()[name] on DuckDB over the same parquet, then compares
row count, column names, and order-insensitive values (columns sorted
by name, rows sorted by all columns). Floats are compared both exactly
and with tolerance so FP-order mismatches are visible before the real
driver sees them.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def values_equal(a, b) -> tuple[bool, bool]:
    """(exact, approx) equality for two canonicalized frames."""
    if a.shape != b.shape:
        return False, False
    exact = True
    approx = True
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for x, y in zip(av, bv):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    exact = False
                    if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                        approx = False
            elif x != y:
                exact = False
                approx = False
    return exact, approx


def _release_arenas() -> None:
    """Return freed glibc arena pages to the OS after each oracle —
    malloc_trim also UNMAPS, keeping the process's memory-mapping
    count flat across a multi-hundred-connection sweep (see the
    fresh_con comment on vm.max_map_count)."""
    import ctypes
    import gc

    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except OSError:
        pass


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from query_names import known_queries

    qs = known_queries(only)

    import __spark_entry__ as e
    from dist_mapreduce_spark.session import get_spark

    spark = get_spark("check_correctness")

    def fresh_con():
        # A FRESH connection per oracle: one long-lived connection
        # accumulates buffer-manager usage across hundreds of
        # MATERIALIZED-CTE oracles until a tiny allocation fails with
        # Out of Memory (first seen at 260 queries: sim_topk_mmr OOMed
        # in the full sweep while passing in isolation). Connect + 10
        # view DDLs cost ~ms; isolation also makes every oracle's
        # timing independent of sweep order.
        c = duckdb.connect()
        # Round-9 hardening, diagnosed from sweep-only OOMs on the
        # materialized-CTE oracles ("Failed to allocate block of 2048
        # bytes" with >100 GB system-free): the kernel caps a process
        # at vm.max_map_count (65 530 here) memory MAPPINGS, and 32
        # DuckDB worker threads × glibc arenas × per-block buffer
        # allocations can spike past it mid-query — a failed mmap
        # surfaces as bad_alloc however tiny the request. Fewer
        # threads bound the arena spike; the bounded buffer pool +
        # spill dir keep any genuinely large oracle off the allocator
        # edge; and main() trims freed arenas back to the OS after
        # every oracle (malloc_trim also unmaps, shrinking the map
        # table). Verified: 18 back-to-back heavy-oracle connections
        # hold a flat ~860-mapping profile.
        c.execute("SET threads TO 8")
        c.execute("SET memory_limit='24GB'")
        c.execute("SET temp_directory='/tmp/duckdb_gate_spill'")
        # duckdb 1.1+ defaults to IEEE float division (0.0/0.0 = NaN);
        # the oracles' NULL-on-zero-divisor contract (matching Spark
        # try_divide) predates that. Hot divisors are NULLIF-guarded in
        # the SQL itself; this setting restores the legacy behavior for
        # any residual /0 site if this tool ever runs on duckdb >= 1.1
        # (the setting does not exist in 1.0 — hence the guard).
        try:
            c.execute("SET ieee_floating_point_ops = false")
        except duckdb.Error:
            pass
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return c

    oracles = e.oracle_sql()
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            con = fresh_con()
            try:
                ddf = con.execute(oracles[name]).fetchdf()
            finally:
                con.close()
                _release_arenas()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        probs = []
        if len(sdf) != len(ddf):
            probs.append(f"rows {len(sdf)} vs {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            probs.append(f"cols {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        else:
            # Driver hashes raw values, so an oracle aggregate that
            # comes back as float while Spark returns int (DuckDB
            # HUGEINT → pandas float, e.g. uncast count_if/sum) is a
            # hash mismatch even when values are equal. Flag it here.
            import pandas.api.types as pt
            for c in sdf.columns:
                if pt.is_integer_dtype(sdf[c]) and pt.is_float_dtype(ddf[c]):
                    probs.append(
                        f"dtype drift {c}: spark int vs oracle float "
                        "(add CAST(... AS BIGINT) in the oracle)"
                    )
        if not probs:
            a, b = canon(sdf), canon(ddf)
            exact, approx = values_equal(a, b)
            if not exact:
                probs.append("values differ" + (" (within 1e-9 tol)" if approx else " (BEYOND tol)"))
                mism = (a != b).any(axis=1)
                print(a[mism].head(3))
                print(b[mism].head(3))
        if probs:
            print(f"FAIL  {name}: {'; '.join(probs)}")
            failures.append(name)
        else:
            print(f"PASS  {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_run - len(failures)}/{n_run} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
