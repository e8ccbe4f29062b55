"""Read-side planning cost of the snapshot table format (VERDICT r7
#6 — the companion to SCALE.md's commit-cost table).

Commit cost was measured flat under manifest sharding; this measures
the OTHER half of the driver-side arithmetic: how long scan PLANNING
takes over sharded manifests as the table grows to 100k files, and
what the bloom-sidecar stage adds to a point lookup (cold load vs
warm `_BLOOM_CACHE` probes).

Planning tables are synthetic METADATA-ONLY (the same methodology as
the commit-cost table: entries with range-clustered id stats, no
parquet written) — planning never opens data files, so the numbers
are exact without them. The bloom section builds one small REAL
table (blooms need actual sidecar bytes).

Usage:
    python tools/measure_plan_cost.py            # metadata tables only
    python tools/measure_plan_cost.py --bloom    # + the bloom section
Prints a markdown table for SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from traffic_forecast_etl_spark import tablefmt as T  # noqa: E402

SCHEMA_JSON = json.dumps(
    {
        "fields": [
            {"metadata": {}, "name": "id", "nullable": True, "type": "long"},
            {"metadata": {}, "name": "v", "nullable": True, "type": "double"},
        ],
        "type": "struct",
    }
)

ROWS_PER_FILE = 1000


def build_synthetic(path: str, n_files: int) -> None:
    """Metadata-only table: n_files entries with contiguous
    range-clustered id stats (file i covers [i*1000, i*1000+999])."""
    entries = [
        {
            "path": f"data/f{i:06d}.parquet",
            "rows": ROWS_PER_FILE,
            "bytes": 1_000_000,
            "stats": {"id": [i * ROWS_PER_FILE, (i + 1) * ROWS_PER_FILE - 1]},
            "seq": 0,
        }
        for i in range(n_files)
    ]
    os.makedirs(T._mdir(path), exist_ok=True)
    fileset = T._fileset_for_commit(path, None, set(), set(), entries, SCHEMA_JSON)
    T._commit(path, fileset, "overwrite", SCHEMA_JSON, None, {})


def min_of(fn, n=5) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def measure(root: str) -> list[tuple]:
    rows = []
    for n_files in (1_000, 10_000, 100_000):
        path = os.path.join(root, f"t{n_files}")
        build_synthetic(path, n_files)
        m = T.read_manifest(path)
        kind = "sharded" if "segments" in m else "inline"

        def plan_full():
            mm = T.read_manifest(path)
            assert len(T.manifest_files(path, mm)) == n_files

        mid = (n_files // 2) * ROWS_PER_FILE

        def plan_narrow():
            _, adm = T.snapshot_scan_files(
                path, "id", mid, mid + 8 * ROWS_PER_FILE - 1
            )
            assert len(adm) == 8, len(adm)

        def plan_point():
            _, adm = T.snapshot_scan_files(path, "id", mid, mid)
            assert len(adm) == 1, len(adm)

        rows.append(
            (
                n_files,
                kind,
                min_of(plan_full) * 1e3,
                min_of(plan_narrow) * 1e3,
                min_of(plan_point) * 1e3,
            )
        )
    return rows


def measure_bloom(root: str) -> list[str]:
    """Cold vs warm point-lookup planning on a REAL 64-file table
    whose key is an unclustered uuid (min/max admits everything; the
    bloom stage does all the pruning)."""
    from pyspark.sql import functions as F

    from traffic_forecast_etl_spark.session import get_spark

    spark = get_spark("plan-cost", shuffle_partitions=8)
    path = os.path.join(root, "bloomed")
    df = (
        spark.range(64 * 512)
        .withColumn("uid", F.md5(F.col("id").cast("string")))
        .repartition(64)
    )
    T.snapshot_write(spark, df, path, stats_cols=["uid"], bloom_cols=["uid"])
    probe = [r["uid"] for r in df.filter(F.col("id") % 4096 == 7).collect()]

    def lookup():
        _, adm = T.snapshot_lookup_files(path, "uid", probe)
        return len(adm)

    T._BLOOM_CACHE.clear()
    t0 = time.perf_counter()
    n_adm = lookup()
    cold = time.perf_counter() - t0
    warm = min_of(lookup)
    m = T.read_manifest(path)
    total = len(T.manifest_files(path, m))
    return [
        f"bloom point-lookup, {total} files, {len(probe)} probed uuids: "
        f"admitted {n_adm}/{total}; cold (loads {total} sidecars) "
        f"{cold*1e3:.1f} ms, warm (cache) {warm*1e3:.1f} ms",
    ]


def main() -> int:
    root = tempfile.mkdtemp(prefix="plan_cost_")
    try:
        print("| table files | manifest | plan full scan | plan 8-file range | plan point |")
        print("|---|---|---|---|---|")
        for n, kind, full_ms, narrow_ms, point_ms in measure(root):
            print(
                f"| {n:,} | {kind} | {full_ms:.1f} ms | "
                f"{narrow_ms:.1f} ms | {point_ms:.1f} ms |"
            )
        if "--bloom" in sys.argv:
            for line in measure_bloom(root):
                print(line)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
