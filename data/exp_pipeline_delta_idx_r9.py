"""r9 experiment, part 2: the INDEXED incremental scrub's batch cost.

exp_pipeline_delta_r9.py measured the stateless delta ≈ the rebuild
(0.82-1.13x) — its floor is the corpus map passes (hash + minhash +
shingle over the full text). This measures dedup_pipeline_delta_indexed,
which replaces those passes with stored-table reads: index build cost
(once), then per-batch cost at the 10% catalog split AND at
streaming-sized batches (0.2%), against the rebuild walls recorded in
exp_pipeline_delta_r9.json. Writes exp_pipeline_delta_idx_r9.json.

Usage: python data/exp_pipeline_delta_idx_r9.py
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_query_engine_spark.session import get_spark, tune_for_corpus

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "exp_pipeline_delta_idx_r9.json")
GEN_ROOT = os.path.join(HERE, "gen")
POINTS = [("sf10", 500_000), ("sf100", 5_000_000)]
BATCH_SIZES = ("tenth", 10_000, 100)  # 10% adversarial end + streaming sizes


def main() -> None:
    spark = get_spark(app_name="exp_pipeline_delta_idx_r9")
    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.queries import dedup_suite as ds

    rebuild_walls = {}
    try:
        with open(os.path.join(HERE, "exp_pipeline_delta_r9.json")) as f:
            for p in json.load(f)["points"]:
                rebuild_walls[p["corpus"]] = p["rebuild"]["secs"]
    except Exception:
        pass

    out: dict = {
        "metric": "pipeline_delta_indexed_batch_cost",
        "design": "stored hash/band/eval-shingle tables; batch-only map "
        "work + affected-bucket token refetch",
        "rebuild_secs": rebuild_walls,
        "points": [],
    }
    for name, n_docs in POINTS:
        sf_dir = os.path.join(GEN_ROOT, name)
        tune_for_corpus(spark, sf_dir)
        for b in BATCH_SIZES:
            batch_docs = n_docs // 10 if b == "tenth" else b
            split = 1.0 - batch_docs / n_docs
            t = int(split * n_docs)
            row: dict = {
                "corpus": name,
                "n_docs": n_docs,
                "split": split,
                "batch_docs": n_docs - t,
            }
            t0 = time.time()
            idx = ds._pipeline_delta_index_dir(spark, sf_dir, t)
            row["index_build_secs"] = round(time.time() - t0, 2)
            t0 = time.time()
            led = ds._pipeline_delta_indexed(spark, sf_dir, split)
            stat = {
                r.status: r.n
                for r in led.groupBy("status")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            row["batch_secs"] = round(time.time() - t0, 2)
            row["statuses"] = stat
            rb = rebuild_walls.get(name)
            if rb:
                row["batch_over_rebuild"] = round(row["batch_secs"] / rb, 3)
            print(name, split, row, flush=True)
            spark.catalog.clearCache()
            out["points"].append(row)
            with open(OUT, "w") as f:
                json.dump(out, f, indent=1)
            # drop the index between splits (different t => different dir)
            import shutil

            shutil.rmtree(os.path.dirname(idx), ignore_errors=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
