"""Seeded deep-hash spot check → SWEEP_DEEP_r{N}.json.

Complements oracle_sweep.py (r7 verdict, Next round #4): the driver's
hard gate covers 50/~290 queries and the full sweep is builder-run, so
each round ALSO commits a 40-query random-sample deep check (r9:
widened from 20, r8 verdict #6, so rotation covers the surface in ~7
rounds) whose sample ROTATES with the round number — over rounds, the
rotation covers the surface with hashes a judge can independently
recompute.

Sample selection: the 40 oracle-backed query names with the smallest
sha256(f"{round}:{name}") — deterministic, rotation verifiable by
re-running with the same round number (and provably different across
rounds). For each query, BOTH result sets are canonicalized exactly
like the driver compare (testing._canon: sorted columns, sorted rows,
normalized cells) and hashed; `match` is spark_sha256 == oracle_sha256
over the FULL result, not a row count.

Usage: python sweep_deep.py [round_number] [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import sys
import time


def _sample(names: list[str], rnd: int, k: int = 40) -> list[str]:
    def key(n: str) -> str:
        return hashlib.sha256(f"{rnd}:{n}".encode()).hexdigest()

    return sorted(sorted(names), key=key)[:k]


def _canon_hash(pdf) -> str:
    from iceberg_query_engine_spark.testing import _canon

    c = _canon(pdf)
    return hashlib.sha256(
        c.to_csv(index=False).encode("utf-8", "surrogatepass")
    ).hexdigest()


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    from iceberg_query_engine_spark.materialize import release
    from iceberg_query_engine_spark.testing import duck_connect

    # the driver's environment, like oracle_sweep.py (ANSI default on)
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    qs, osql = e.queries(), e.oracle_sql()
    picked = _sample(sorted(set(qs) & set(osql)), rnd)
    con = duck_connect(sf)
    out: dict = {
        "round": rnd,
        "sf_dir": sf,
        "sample_rule": "40 smallest sha256('<round>:<name>') over oracle-backed queries",
        "queries": {},
    }
    n_fail = 0
    for name in picked:
        t0 = time.perf_counter()
        try:
            spark_pd = qs[name](spark, sf).toPandas()
            duck_pd = con.execute(osql[name]).df()
            sh, dh = _canon_hash(spark_pd), _canon_hash(duck_pd)
            row = {
                "match": sh == dh,
                "rows": len(spark_pd),
                "spark_sha256": sh,
                "oracle_sha256": dh,
            }
        except Exception as exc:
            row = {"match": False, "error": repr(exc)[:300]}
        row["secs"] = round(time.perf_counter() - t0, 3)
        release()
        n_fail += 0 if row.get("match") else 1
        out["queries"][name] = row
        print(f"{name}: {'OK' if row.get('match') else 'FAIL'} ({row['secs']}s)")
    out["n"] = len(picked)
    out["n_fail"] = n_fail
    path = f"SWEEP_DEEP_r{rnd:02d}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}: {len(picked) - n_fail}/{len(picked)} hash-green")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
