"""r9 experiment: dedup_pipeline at 10M documents (sf200).

r8 verdict, Next round #7: the pipeline is proven linear to 5M docs;
one more doubling checks that the CC round count does not creep with
corpus growth in the REAL pipeline (not the synthetic graph). Records
total wall + per-stage walls (exact/clusters/decontaminate run
standalone — the pipeline composes exactly these plans) and the CC
round count/walls via the cc_labels hook. Writes exp_pipeline_10m_r9.json.

Usage: python data/exp_pipeline_10m_r9.py
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_query_engine_spark.session import get_spark, tune_for_corpus

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "exp_pipeline_10m_r9.json")
SF_DIR = os.path.join(HERE, "gen", "sf200")
N_DOCS = 10_000_000


def main() -> None:
    spark = get_spark(app_name="exp_pipeline_10m_r9")
    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.queries import dedup_suite as ds
    from iceberg_query_engine_spark.sources.generator import generate_tpch

    if not os.path.exists(os.path.join(SF_DIR, "documents.parquet")):
        t0 = time.time()
        generate_tpch(spark, 200.0, SF_DIR, single_file=False, only={"documents"})
        print(f"generated {N_DOCS} docs in {time.time() - t0:.0f}s", flush=True)
    tune_for_corpus(spark, SF_DIR)

    out: dict = {"metric": "dedup_pipeline_10m_docs", "n_docs": N_DOCS}

    # per-stage standalone walls (the pipeline composes these plans)
    for op in ("dedup_exact", "dedup_clusters", "dedup_decontaminate"):
        t0 = time.time()
        getattr(ds, op)(spark, SF_DIR).count()
        out[op + "_secs"] = round(time.time() - t0, 2)
        print(op, out[op + "_secs"], flush=True)
        spark.catalog.clearCache()

    # the composed ledger, with CC round telemetry
    round_times: list = []
    orig_cc = ds.cc_labels

    def instrumented(edges, cc_spill_dir=None, on_round=None):
        return orig_cc(
            edges,
            cc_spill_dir,
            on_round=lambda r, s: round_times.append(round(s, 2)),
        )

    ds.cc_labels = instrumented
    try:
        t0 = time.time()
        led = ds.dedup_pipeline(spark, SF_DIR)
        stat = {
            r.status: r.n
            for r in led.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        out["pipeline_secs"] = round(time.time() - t0, 2)
    finally:
        ds.cc_labels = orig_cc
    out["statuses"] = stat
    out["cc_rounds"] = len(round_times)
    out["cc_round_secs"] = round_times
    print(json.dumps(out, indent=1))
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
