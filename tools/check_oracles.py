"""Local replica of the driver's correctness gate: run every registry query
on Spark and its DuckDB oracle on the same sf dir; compare row count, column
names, and order-insensitive values (columns sorted by name, rows sorted).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

# DuckDB's vendored jemalloc RETAINS every VMA it ever maps (retain:true);
# the heavy oracles cumulatively touch ~17 GB => ~65k maps and die at the
# kernel's vm.max_map_count with a spurious "bad allocation". retain:false
# unmaps on free and keeps the count bounded (verified: decimate_mixed_1h
# at sf0.1 completes in ~107 s with it, dies without it). Must be set
# BEFORE the duckdb shared object loads.
os.environ.setdefault("MALLOC_CONF", "retain:false")

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

#: Queries whose oracle contract is a documented grid/rounding tolerance
#: rather than bit-exactness, mapped to the absolute tolerance and WHY.
#: Keep this empty unless a written per-query contract justifies an
#: entry — the driver hashes float values bit-exactly, and r07 proved a
#: tolerant local gate can pass what the driver fails (-0.0 vs +0.0 in
#: the CA CTRL wire queries survived five rounds under 1e-12).
FLOAT_TOLERANCE: dict[str, float] = {}


def _float_bits(s: pd.Series) -> np.ndarray:
    """float64 column -> uint64 bit patterns, with every NaN collapsed
    to the canonical quiet NaN so differing NaN payloads (but only
    payloads) compare equal. -0.0 vs +0.0 and denormals stay distinct —
    exactly what the driver's value hash sees."""
    a = s.astype("float64").to_numpy(dtype="float64", copy=True)
    a[np.isnan(a)] = np.nan
    return a.view("uint64")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, ora_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(ora_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} oracle={sorted(ora_df.columns)}"
        )
        return problems
    if len(spark_df) != len(ora_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(ora_df)}")
    a, b = canon(spark_df), canon(ora_df)
    n = min(len(a), len(b))
    for c in a.columns:
        x, y = a[c].iloc[:n], b[c].iloc[:n]
        # dtype-strict: an int column on one side and a float on the other is
        # a hash mismatch at the driver even when values agree (e.g. DuckDB
        # HUGEINT -> float64 4.0 vs Spark int64 4) — fail it here.
        if x.dtype.kind != y.dtype.kind and {x.dtype.kind, y.dtype.kind} <= {"i", "u", "f"}:
            problems.append(
                f"col {c}: dtype mismatch spark={x.dtype} oracle={y.dtype}"
            )
            continue
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            tol = FLOAT_TOLERANCE.get(name)
            if tol is not None:
                bad = ~((x.isna() & y.isna()) | ((x - y).abs() <= tol))
                bad = pd.Series(bad, index=x.index)
            else:
                # driver-faithful: bit-exact uint64 compare (NaN-payload
                # canonicalized, -0.0/+0.0/denormal aware)
                bad = pd.Series(
                    _float_bits(x) != _float_bits(y), index=x.index
                )
        else:
            bad = x.astype(str) != y.astype(str)
        nbad = int(bad.sum())
        if nbad:
            i = bad[bad].index[0]
            problems.append(
                f"col {c}: {nbad} mismatches; first at row {i}: spark={x[i]!r} oracle={y[i]!r}"
            )
    return problems


def oracle_in_subprocess(sql: str, sf_dir: str) -> pd.DataFrame:
    """Run one oracle in a FRESH python process and ship the result back
    as parquet. The long-lived sweep process accumulates memory maps
    (py4j + pandas results + DuckDB's jemalloc purging splits VMAs) until
    vm.max_map_count kills heavyweight oracles with a spurious
    'bad allocation' — decimate_mixed_1h at sf0.1 peaks ~17 GB / >65k
    maps in-process but runs clean standalone. A clean address space is
    the reliable fix; the subprocess pays ~1 s startup, so it is only the
    RETRY path."""
    import subprocess
    import tempfile
    import textwrap

    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "oracle.parquet")
        sql_path = os.path.join(tmp, "oracle.sql")
        with open(sql_path, "w") as fh:
            fh.write(sql)
        script = textwrap.dedent(
            f"""
            import duckdb
            con = duckdb.connect()
            for t in {TABLES!r}:
                con.sql(f"CREATE VIEW {{t}} AS SELECT * FROM '{sf_dir}/{{t}}.parquet'")
            sql = open({sql_path!r}).read()
            con.sql(f"COPY ({{sql}}) TO {out!r} (FORMAT parquet)")
            """
        )
        subprocess.run(
            [sys.executable, "-c", script], check=True, capture_output=True
        )
        return pd.read_parquet(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from cassandra_pv_archiver_spark import cache_scope
    from cassandra_pv_archiver_spark.registry import REGISTRY
    from cassandra_pv_archiver_spark.session import get_spark

    spark = get_spark("check-oracles")
    con = duckdb.connect()
    # the sweep shares one process with a multi-GB Spark JVM; the heavy
    # oracles (decimate_mixed at sf0.1 peaks ~17 GB RSS standalone) must
    # SPILL under pressure, not die in malloc — cap DuckDB well below the
    # box and give it a temp dir so the cap is survivable
    con.sql("SET memory_limit='24GB'")
    con.sql("SET temp_directory='/tmp/duckdb_oracle_spill'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            # one query at a time: its body persists end with it
            cache_scope.drain()
        if sql is None:
            print(f"[rows-only] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            try:  # clean-address-space retry (see oracle_in_subprocess)
                odf = oracle_in_subprocess(sql, sf_dir)
                print(f"[note] {name}: oracle retried in subprocess ({e})")
            except Exception:  # noqa: BLE001
                print(f"[FAIL] {name}: oracle error: {e}")
                failures += 1
                continue
        problems = compare(name, sdf, odf)
        dt = time.time() - t0
        if problems:
            failures += 1
            print(f"[FAIL] {name} ({len(sdf)} rows, {dt:.1f}s)")
            for p in problems:
                print(f"       {p}")
        else:
            print(f"[ OK ] {name}: {len(sdf)} rows ({dt:.1f}s)")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
