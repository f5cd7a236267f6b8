"""Full-surface oracle sweep → machine-readable per-query artifact.

The driver's CORRECTNESS_r{N}.json checks a fixed 50-query subset; the
other ~180 registered queries were only visible through a 4-minute
pytest run (r5 verdict, Next round #5). This script runs EVERY
`queries()` entry against its `oracle_sql()` twin at sf0.01 — the same
compare the driver gate uses, under the driver's ANSI default session —
and writes `ORACLE_SWEEP_r{N}.json`: one row per query with pass/fail,
row counts, and wall seconds. Queries without an oracle (`f_approx`)
get the weaker rows-only check, at least one row, marked
`"mode": "rows_only"`.

Every oracle row also carries `spark_sha256` and `oracle_sha256`: the
sha256 of each side's canonical frame (`testing._canon`: sorted
columns, sorted rows, normalized cells) as CSV, so anyone can recompute
any query's result hash independently. `ok` holds exactly when the two
hashes are equal. A seeded sample of the surface (e.g. the 40 names
with the smallest sha256("<round>:<name>")) is a view of this file.

Usage: python oracle_sweep.py [round_number] [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import sys
import time

from iceberg_query_engine_spark.materialize import release
from iceberg_query_engine_spark.testing import compare, duck_connect


def canon_sha256(canon) -> str:
    """sha256 of a `testing._canon` frame's CSV form."""
    return hashlib.sha256(
        canon.to_csv(index=False).encode("utf-8", "surrogatepass")
    ).hexdigest()


def oracle_row(name: str, spark_df, oracle_sql: str, sf: str, con) -> dict:
    """One oracle-mode sweep row: `testing.compare` of `spark_df`
    against `oracle_sql`, plus both canonical frames' hashes."""
    r = compare(name, spark_df, oracle_sql, sf, con)
    spark_canon, oracle_canon = r.frames
    return {
        "ok": bool(r.ok),
        "mode": "oracle",
        "spark_rows": r.spark_rows,
        "oracle_rows": r.duck_rows,
        "detail": r.detail if not r.ok else "",
        "spark_sha256": canon_sha256(spark_canon),
        "oracle_sha256": canon_sha256(oracle_canon),
    }


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

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
                row = oracle_row(name, qs[name](spark, sf), osql[name], sf, con)
            else:
                n = qs[name](spark, sf).count()
                row = {"ok": n > 0, "mode": "rows_only", "spark_rows": n}
        except Exception as exc:  # a crash is a failure row, not a sweep abort
            row = {"ok": False, "mode": "error", "detail": repr(exc)[:300]}
        row["secs"] = round(time.perf_counter() - t0, 3)
        if not row["ok"]:
            n_fail += 1
            print(f"FAIL {name}: {row.get('detail', '')}", file=sys.stderr)
        out[name] = row
        # free the query's persists, checkpoint blocks and scratch dirs,
        # so a sweep does not pile them up across 293 entries
        release()

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
