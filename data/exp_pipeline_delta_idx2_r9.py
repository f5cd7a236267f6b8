"""r9 experiment, part 3: key-bucket-partitioned stores for the
INDEXED incremental scrub — controlled A/B at HEAD.

Two confounds invalidated the first cut of this experiment (kept as
exp_pipeline_delta_idx2_ungated_r9.*): the committed part-2 floors
(exp_pipeline_delta_idx_r9.json) were measured BEFORE the two-level
star landed (c9ecbd1/dcc002f add sub-hub pairs — +50 near_dups at 5M
and a real extra window Sort over the degenerate band partition), and
the ungated pruning paid an extra batch minhash/md5 pass even when the
batch's keys touched every bucket (10%-split at 500k docs: 32 s vs the
old plan's 12 s).

This version A/Bs the SAME HEAD code per (corpus, batch):

  A (control):   an exact replica of the pre-partitioning FLAT store
                 (built by this script, cache-seeded into the op;
                 _pipe_idx_buckets patched to 1 so the gate can never
                 reference the absent partition columns).
  B (treatment): the real key-bucket-partitioned store + static gate
                 (prune only when the batch's probe keys can skip
                 directories).

Statuses from A and B are asserted IDENTICAL (layout must never change
results). Writes exp_pipeline_delta_idx2_r9.json.

Usage: python data/exp_pipeline_delta_idx2_r9.py
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_query_engine_spark.session import get_spark, tune_for_corpus

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "exp_pipeline_delta_idx2_r9.json")
GEN_ROOT = os.path.join(HERE, "gen")
POINTS = [("sf10", 10.0, 500_000), ("sf100", 100.0, 5_000_000)]
BATCH_SIZES = ("tenth", 10_000, 100)


def ensure_corpus(spark, name: str, sf: float, n_docs: int) -> str:
    from iceberg_query_engine_spark.sources.generator import generate_tpch

    sf_dir = os.path.join(GEN_ROOT, name)
    if not os.path.isdir(os.path.join(sf_dir, "documents")):
        t0 = time.time()
        generate_tpch(spark, sf, sf_dir, single_file=False, only={"documents"})
        print(f"{name}: generated in {time.time() - t0:.0f}s", flush=True)
    return sf_dir


def build_flat_index(spark, ds, F, sf_dir: str, t: int, path: str) -> None:
    """Byte-for-byte the r9 pre-partitioning store layout: three flat
    parquet tables written with natural scan parallelism."""
    from iceberg_query_engine_spark.queries.tpch import tables

    shutil.rmtree(path, ignore_errors=True)
    (documents,) = tables(spark, sf_dir, "documents")
    existing_train = documents.filter(
        (F.col("doc_id") < t) & (F.col("source") != "src0")
    )
    fp = F.md5(F.col("text").cast("binary"))
    existing_train.select("doc_id", fp.alias("fp")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "hashes"))
    ds._band_rows(existing_train, ds.CLUSTER_BAND_SIZE).select(
        "doc_id",
        "band",
        "sz",
        F.xxhash64(F.array_sort("toks")).alias("setkey"),
    ).write.mode("overwrite").parquet(os.path.join(path, "bands"))
    (
        ds._shingled_docs(
            documents.filter((F.col("source") == "src0") & (F.col("doc_id") < t))
        )
        .select(F.explode("shingles").alias("shx"))
        .distinct()
        .write.mode("overwrite")
        .parquet(os.path.join(path, "eval_shingles"))
    )
    with open(os.path.join(path, "_INDEX_SUCCESS"), "w") as fh:
        fh.write("ok\n")


def run_arm(spark, ds, F, sf_dir: str, split: float, n_docs: int, flat: bool) -> dict:
    t = int(split * n_docs)
    real_buckets = ds._pipe_idx_buckets
    real_index_dir = ds._pipeline_delta_index_dir
    arm: dict = {}
    try:
        if flat:
            path = os.path.join(
                tempfile.gettempdir(), "pipe_delta_flat_ctl", f"t{t}"
            )
            t0 = time.time()
            build_flat_index(spark, ds, F, sf_dir, t, path)
            arm["index_build_secs"] = round(time.time() - t0, 2)
            ds._pipeline_delta_index_dir = lambda *_a, **_k: path
            ds._pipe_idx_buckets = lambda _t: 1  # gate off; no pb/bb refs
        else:
            t0 = time.time()
            path = ds._pipeline_delta_index_dir(spark, sf_dir, t)
            arm["index_build_secs"] = round(time.time() - t0, 2)
            st = {}
            batch, exact, near, cont = ds._pipeline_delta_indexed_stages(
                spark, sf_dir, split
            )
            for sname, frame in (
                ("exact", exact),
                ("near", near),
                ("decon", cont),
            ):
                t0 = time.time()
                frame.count()
                st[sname] = round(time.time() - t0, 2)
            arm["stage_secs"] = st
        t0 = time.time()
        led = ds._pipeline_delta_indexed(spark, sf_dir, split)
        arm["statuses"] = {
            r.status: r.n
            for r in led.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        arm["batch_secs"] = round(time.time() - t0, 2)
    finally:
        ds._pipe_idx_buckets = real_buckets
        ds._pipeline_delta_index_dir = real_index_dir
        spark.catalog.clearCache()
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return arm


def main() -> None:
    spark = get_spark(app_name="exp_pipeline_delta_idx2_r9")
    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.queries import dedup_suite as ds

    out: dict = {
        "metric": "pipeline_delta_indexed_partitioned_stores_ab",
        "design": "A: flat store replica (pre-partitioning layout), no "
        "pruning; B: key-bucket-partitioned store + static gate. Same "
        "HEAD code (two-level star included); statuses asserted "
        "identical across arms.",
        "points": [],
    }
    for name, sfv, n_docs in POINTS:
        sf_dir = ensure_corpus(spark, name, sfv, n_docs)
        tune_for_corpus(spark, sf_dir)
        for b in BATCH_SIZES:
            batch_docs = n_docs // 10 if b == "tenth" else b
            split = 1.0 - batch_docs / n_docs
            t = int(split * n_docs)
            nb = ds._pipe_idx_buckets(t)
            row: dict = {
                "corpus": name,
                "n_docs": n_docs,
                "split": split,
                "batch_docs": n_docs - t,
                "buckets": nb,
                "gate_prunes": {
                    "hashes": (n_docs - t) <= nb // 2,
                    "bands": (n_docs - t) * 4 <= nb // 2,
                },
            }
            row["flat"] = run_arm(spark, ds, F, sf_dir, split, n_docs, flat=True)
            row["part"] = run_arm(spark, ds, F, sf_dir, split, n_docs, flat=False)
            assert row["flat"]["statuses"] == row["part"]["statuses"], row
            row["part_over_flat"] = round(
                row["part"]["batch_secs"] / row["flat"]["batch_secs"], 3
            )
            print(name, split, row, flush=True)
            out["points"].append(row)
            with open(OUT, "w") as f:
                json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
