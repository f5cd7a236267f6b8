"""Full-surface oracle sweep → machine-readable per-query artifact.

The driver's CORRECTNESS_r{N}.json checks a fixed 50-query subset; the
other ~180 registered queries were only visible through a 4-minute
pytest run (r5 verdict, Next round #5). This script runs EVERY
`queries()` entry against its `oracle_sql()` twin at sf0.01 — the same
compare the driver gate uses, under the driver's ANSI default session —
and writes `ORACLE_SWEEP_r{N}.json`: one row per query with pass/fail,
row counts, and wall seconds. Queries without an oracle (`f_approx`)
get the driver's weaker rows-only check, marked `"mode": "rows_only"`.

Usage: python oracle_sweep.py [round_number] [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time

from iceberg_query_engine_spark.queries.tpch import release_gated_persists


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    from iceberg_query_engine_spark.testing import compare, duck_connect

    # deliberately NOT session.get_spark(): the sweep must reproduce the
    # DRIVER's environment (Spark 4 default ansi=true among others)
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    qs, osql = e.queries(), e.oracle_sql()
    con = duck_connect(sf)
    out: dict[str, dict] = {}
    n_fail = 0
    for name in sorted(qs):
        t0 = time.perf_counter()
        try:
            if name in osql:
                r = compare(name, qs[name](spark, sf), osql[name], sf, con)
                row = {
                    "ok": bool(r.ok),
                    "mode": "oracle",
                    "spark_rows": r.spark_rows,
                    "oracle_rows": r.duck_rows,
                    "detail": r.detail if not r.ok else "",
                }
            else:
                n = qs[name](spark, sf).count()
                row = {"ok": n >= 0, "mode": "rows_only", "spark_rows": n}
        except Exception as exc:  # a crash is a failure row, not a sweep abort
            row = {"ok": False, "mode": "error", "detail": repr(exc)[:300]}
        row["secs"] = round(time.perf_counter() - t0, 3)
        if not row["ok"]:
            n_fail += 1
            print(f"FAIL {name}: {row.get('detail', '')}", file=sys.stderr)
        out[name] = row
        # honor persist_if_large's ownership contract (r10): release
        # gated persists between queries so a large-sf sweep doesn't
        # accumulate MEMORY_AND_DISK caches across 293 entries
        release_gated_persists()
        spark.catalog.clearCache()

    artifact = {
        "round": rnd,
        "sf_dir": sf,
        "n_queries": len(qs),
        "n_oracles": sum(1 for n in qs if n in osql),
        "n_fail": n_fail,
        "queries": out,
    }
    path = f"ORACLE_SWEEP_r{rnd}.json"
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    print(f"{path}: {len(qs)} queries, {n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
