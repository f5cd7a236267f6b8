"""Streaming landing scrub — the dedup_pipeline disposition ledger run
as a Structured Streaming job with INDEX ABSORPTION.

The reference has no stream processing (see jobs.py); this job is the
production deployment of dedup_pipeline_delta_indexed: documents land
continuously, and each micro-batch is scrubbed against state that
GROWS as batches land. The batch span (last 10% of doc_ids — the
dedup_pipeline_delta contract) is staged as STREAM_SCRUB_CHUNKS
sequential chunk files and consumed with maxFilesPerTrigger=1, so the
replay is deterministic. Per micro-batch, foreachBatch:

  1. probes the build-once BASE index (dedup_suite.
     _pipeline_delta_index_dir — shared, read-only, directory-gated)
     UNIONED with an OVERLAY this stream maintains,
  2. appends the batch's disposition rows to the ledger,
  3. absorbs the batch into the overlay (its content hashes, token-free
     band rows, and eval shingles — the same three stores the base
     index holds), so the NEXT batch sees every doc landed before it.

A doc that duplicates an earlier micro-batch's doc is therefore caught
even though neither is in the base corpus, and an eval (src0) doc
landing mid-stream decontaminates only LATER train docs — sequential
visibility, the semantics a landing pipeline actually has. The DuckDB
oracle (dedup_suite.STREAM_SCRUB_SQL) unrolls one delta-range ledger
per chunk with exactly those visibility bounds, so the result is
exact-checkable, not rows-only.

Scale notes: per batch the probe pays the indexed delta's cost shape
(batch map work + slim stored reads + affected-bucket token refetch);
the overlay append is batch-sized parquet — state lives AT REST, not
in the streaming state store, so it survives restarts and is bounded
only by landed data. The overlay is the delta a nightly index rebuild
compacts into the base (at which point the stream restarts with an
empty overlay). Honest caveat: the ledger/overlay appends are not
transactional with the checkpoint, so a crashed-and-replayed epoch
would double-append; production would stamp rows with the epoch id and
dedup on read, or write both through iceberg_lite commits (the
stream_upsert_iceberg pattern). The availableNow replay here is
single-pass.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import scratch_dir


def stream_dedup_pipeline(
    spark: SparkSession,
    sf_dir: str,
    chunks: int | None = None,
    timings: list | None = None,
    run_dir: str | None = None,
) -> DataFrame:
    """`chunks`/`timings` are experiment knobs (`git show
    b72b397:data/exp_stream_scrub_r9.py`): the CATALOG entry always
    runs the default chunk count — the oracle unrolls exactly
    STREAM_SCRUB_CHUNKS ranges, so a different count is a different
    (but equally well-defined) landing schedule, not the catalog
    query. `timings`, if given,
    receives one {batch, rows, secs} dict per micro-batch.

    `run_dir` pins the run's state root (staging/overlay/ledger/
    checkpoint). Passing the SAME run_dir after a mid-stream crash
    RESUMES from the checkpoint: committed epochs are not replayed,
    the overlay already holds every absorbed batch, and the staged
    chunk files are reused as-is (they are only written when absent —
    rewriting them would give them new names the source would treat
    as fresh arrivals). Crash-recovery is exercised by
    tests/test_stream_scrub.py::test_checkpoint_resume. A caller's
    run_dir is the caller's to remove; without one the run gets a
    `materialize.scratch_dir`, which `materialize.release()` removes
    after the action (the returned frame reads it lazily)."""
    from ..queries.dedup_suite import (
        CLUSTER_BAND_SIZE,
        N_HASHES,
        PIPE_DELTA_SPLIT,
        STREAM_SCRUB_CHUNKS,
        _band_rows,
        _delta_ledger,
        _delta_stages_from_stores,
        _pipe_idx_buckets,
        _pipeline_delta_index_dir,
        _read_store_pruned,
        _shingled_docs,
    )
    from ..queries.tpch import tables
    from ..sources.registry import table_rows

    (documents,) = tables(spark, sf_dir, "documents")
    n = table_rows(sf_dir, "documents") or documents.count()
    t = int(PIPE_DELTA_SPLIT * n)
    if chunks is None:
        chunks = STREAM_SCRUB_CHUNKS
    # integer cuts, mirrored digit-for-digit by _stream_scrub_sql
    cuts = [t + ((n - t) * k) // chunks for k in range(chunks + 1)]
    base = _pipeline_delta_index_dir(spark, sf_dir, t)
    nb = _pipe_idx_buckets(t)
    n_bands = N_HASHES // CLUSTER_BAND_SIZE

    run = run_dir or scratch_dir("sg_stream_scrub")
    staging = os.path.join(run, "staging")
    overlay = os.path.join(run, "overlay")
    ledger = os.path.join(run, "ledger")
    ckpt = os.path.join(run, "ckpt")

    # Stage the landing chunks: one parquet file per chunk. The file
    # source orders by modification time, so stamp strictly increasing
    # mtimes — chunk k must land in micro-batch k for the oracle's
    # visibility bounds to be the engine's. A resumed run reuses the
    # existing files untouched (the checkpoint tracks them by name).
    if not os.path.isdir(staging):
        for k in range(chunks):
            lo, hi = cuts[k], cuts[k + 1]
            if lo >= hi:
                continue
            (
                documents.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(staging, f"chunk_{k}"))
            )
        now = time.time()
        for i, d in enumerate(sorted(os.listdir(staging))):
            cd = os.path.join(staging, d)
            for f in os.listdir(cd):
                if f.endswith(".parquet"):
                    os.utime(os.path.join(cd, f), (now + 10 * i, now + 10 * i))
    chunk_dirs = sorted(os.listdir(staging)) if os.path.isdir(staging) else []
    if not chunk_dirs:
        return spark.createDataFrame(
            [], "doc_id bigint, source string, status string, replacement bigint"
        )
    schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(staging).schema
    )

    def overlay_df(sp: SparkSession, name: str) -> DataFrame | None:
        p = os.path.join(overlay, name)
        return sp.read.parquet(p) if os.path.isdir(p) else None

    def sink(bdf: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        sp = bdf.sparkSession
        first = bdf.agg(F.min("doc_id"), F.count(F.lit(1))).first()
        if not first[1]:
            return
        lo, rows = int(first[0]), int(first[1])

        # same directory gate as the indexed op, sized by THIS batch
        def hashes_for(batch_fps: DataFrame) -> DataFrame:
            h = _read_store_pruned(
                sp,
                os.path.join(base, "hashes"),
                "pb",
                nb,
                batch_fps,
                "fp",
                rows <= nb // 2,
            ).select("doc_id", "fp")
            ov = overlay_df(sp, "hashes")
            return h.unionByName(ov.select("doc_id", "fp")) if ov is not None else h

        def bands_for(batch_bands: DataFrame) -> DataFrame:
            b = _read_store_pruned(
                sp,
                os.path.join(base, "bands"),
                "bb",
                nb,
                batch_bands,
                "band",
                rows * n_bands <= nb // 2,
            ).select("doc_id", "band", "sz", "setkey")
            ov = overlay_df(sp, "bands")
            return (
                b.unionByName(ov.select("doc_id", "band", "sz", "setkey"))
                if ov is not None
                else b
            )

        ev = sp.read.parquet(os.path.join(base, "eval_shingles"))
        ove = overlay_df(sp, "eval_shingles")
        if ove is not None:
            ev = ev.unionByName(ove)

        (docs_b,) = tables(sp, sf_dir, "documents")
        batch, exact, near, cont = _delta_stages_from_stores(
            sp, docs_b, bdf, lo, rows, hashes_for, bands_for, ev
        )
        _delta_ledger(batch, exact, near, cont).write.mode("append").parquet(
            ledger
        )

        # absorb AFTER the dispositions are on disk: the next batch —
        # not this one — sees these rows
        btrain = bdf.filter(F.col("source") != "src0")
        fp = F.md5(F.col("text").cast("binary"))
        btrain.select("doc_id", fp.alias("fp")).write.mode("append").parquet(
            os.path.join(overlay, "hashes")
        )
        _band_rows(btrain, CLUSTER_BAND_SIZE).select(
            "doc_id", "band", "sz", "setkey"
        ).write.mode("append").parquet(os.path.join(overlay, "bands"))
        (
            _shingled_docs(bdf.filter(F.col("source") == "src0"))
            .select(F.explode("shingles").alias("shx"))
            .distinct()
            .write.mode("append")
            .parquet(os.path.join(overlay, "eval_shingles"))
        )
        if timings is not None:
            timings.append(
                {"batch": batch_id, "rows": rows, "secs": round(time.time() - t0, 2)}
            )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(staging)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(ledger)
        .select("doc_id", "source", "status", "replacement")
        .orderBy("doc_id")
    )
