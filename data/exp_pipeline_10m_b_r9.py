"""r9 experiment (final-code re-run): the 10M-doc pipeline point at
TWO-LEVEL-star HEAD.

The committed exp_pipeline_10m_r9.json was measured before the
two-level star landed (c9ecbd1/dcc002f/b330532): its clusters/pipeline
walls are the SINGLE-level star's. This re-run fills the two-level
cells of the BENCH_SCALE 10M row on the final code — the id-only
sub-hub (dcc002f) exists precisely because the first two-level cut
OOMed at this corpus size, so the run doubles as the 10M regression
for that fix. Same telemetry as the original script (per-stage walls,
CC round count/walls). Writes exp_pipeline_10m_b_r9.json.

NOT RUN in r9: the sf200 corpus had been reclaimed and the host
entered its measured unstable phase at round close (see NOTES_r9
"Second closing chain"), so a fresh wall would not have been
comparable. This script is the ready-to-run recipe for the next
round's box; BENCH_SCALE carries the honest estimate meanwhile.

Usage: python data/exp_pipeline_10m_b_r9.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_query_engine_spark.session import get_spark, tune_for_corpus

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "exp_pipeline_10m_b_r9.json")
SF_DIR = os.path.join(HERE, "gen", "sf200")
N_DOCS = 10_000_000


def main() -> None:
    spark = get_spark(app_name="exp_pipeline_10m_b_r9")
    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.queries import dedup_suite as ds
    from iceberg_query_engine_spark.sources.generator import generate_tpch

    if not os.path.exists(os.path.join(SF_DIR, "documents.parquet")):
        t0 = time.time()
        generate_tpch(spark, 200.0, SF_DIR, single_file=False, only={"documents"})
        print(f"generated {N_DOCS} docs in {time.time() - t0:.0f}s", flush=True)
    tune_for_corpus(spark, SF_DIR)

    out: dict = {"metric": "dedup_pipeline_10m_docs_two_level", "n_docs": N_DOCS}

    t0 = time.time()
    ds.dedup_clusters(spark, SF_DIR).count()
    out["dedup_clusters_secs"] = round(time.time() - t0, 2)
    print("dedup_clusters", out["dedup_clusters_secs"], flush=True)
    spark.catalog.clearCache()

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
