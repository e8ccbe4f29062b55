"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf dir, compares row count, sorted column
names, and an order-insensitive value hash (values stringified with
doubles pre-rounded by the queries themselves). Usage:

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from __spark_entry__ import oracle_sql, queries
from traffic_forecast_etl_spark.session import get_spark
from traffic_forecast_etl_spark.sources.tables import TABLE_NAMES


def value_hash(rows: list[tuple]) -> str:
    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if v != v:
                return "nan"
            # kill -0.0 and represent with fixed precision
            if v == 0:
                v = 0.0
            return f"{v:.6f}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    lines = sorted("|".join(norm(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    # silence the ONE known-justified warning (VERDICT r6 "What's
    # wrong" #2): the a2-family global min/max windows deliberately
    # use empty-frame windows (the catalog plan audit whitelists
    # them), and WindowExec warns "No Partition Defined" for each —
    # dozens of identical lines of noise per sweep. Targeted per-
    # logger suppression; every other WARN still surfaces.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 — log plumbing only, never fatal
        pass
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = queries(), oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = [tuple(r[c] for c in cols) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(
                f"rows  {name}: {len(srows)} rows (no oracle) "
                f"hash={value_hash(srows)} [{time.time()-t0:.1f}s]"
            )
            n_rowsonly += 1
            continue
        try:
            cur = con.execute(oracles[name])
            raw_cols = [d[0] for d in cur.description]
            raw_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        order = sorted(range(len(raw_cols)), key=lambda i: raw_cols[i])
        dcols = [raw_cols[i] for i in order]
        drows = [tuple(r[i] for i in order) for r in raw_rows]
        ok_cols = [c.lower() for c in cols] == [c.lower() for c in dcols]
        ok_count = len(srows) == len(drows)
        ok_hash = value_hash(srows) == value_hash(drows) if ok_cols and ok_count else False
        if ok_cols and ok_count and ok_hash:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(
                f"FAIL  {name}: cols={ok_cols} ({cols} vs {dcols}) "
                f"count={ok_count} ({len(srows)} vs {len(drows)}) hash={ok_hash}"
            )
            if ok_cols and ok_count and not ok_hash:
                sset = {tuple(map(str, r)) for r in srows}
                dset = {tuple(map(str, r)) for r in drows}
                for r in list(sset - dset)[:3]:
                    print(f"        spark-only: {r}")
                for r in list(dset - sset)[:3]:
                    print(f"        duck-only:  {r}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
