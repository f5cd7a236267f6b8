"""Regression tests for the round-5 ADVICE findings.

Each test pins one of the five advisor-flagged behaviors so the fix
can't silently regress: bucket-count sidecar persistence, the crash-
safe expire ordering, the single-point Holt series, and
ensure_full_data regenerating exactly the missing flat tables.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from iceberg_query_engine_spark.queries import events_suite, tpch_full
from iceberg_query_engine_spark.sources import iceberg_lite


# --- ADVICE #1: bucket count must survive an empty top bucket ---------


def test_bucket_count_prefers_sidecar(tmp_path):
    loc = str(tmp_path)
    tpch_full._write_bucket_sidecar(loc, 64)
    # files suggest only 3 buckets were populated — sidecar wins
    files = ["part-00000-x_00000.c000.snappy.parquet",
             "part-00001-x_00002.c000.snappy.parquet"]
    assert tpch_full._bucket_count_of(loc, files) == 64


def test_bucket_count_inference_rounds_up_to_pow2(tmp_path):
    # no sidecar (legacy dir): highest OBSERVED bucket id is 62, so the
    # old max+1 inference declared 63 — a modulus the files were never
    # hashed with. The fallback must round up to pick_bucket_count's
    # power-of-two contract.
    files = [f"part-0000{i}-x_000{i:02d}.c000.snappy.parquet" for i in (0, 31, 62)]
    assert tpch_full._bucket_count_of(str(tmp_path), files) == 64


# --- ADVICE #3: expire deletes files first, metadata last -------------


def test_expire_rerun_reclaims_after_partial_failure(spark, tmp_path, monkeypatch):
    """Crash between the two delete phases must be recoverable: the
    expired snapshot metadata survives, so a re-run recomputes the SAME
    expire set and finishes reclaiming."""
    path = str(tmp_path / "t")
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    iceberg_lite.write_snapshot(nation.filter("n_nationkey < 10"), path)
    iceberg_lite.write_snapshot(nation.filter("n_nationkey >= 10"), path)
    sid = iceberg_lite.compact(spark, path)  # strands both appends' files

    # simulate the crash: data files deleted, snapshot metadata NOT yet
    real_remove = os.remove
    def crashing_remove(p):
        if "snap-" in os.path.basename(p):
            raise RuntimeError("simulated crash before metadata removal")
        return real_remove(p)

    monkeypatch.setattr(os, "remove", crashing_remove)
    try:
        iceberg_lite.expire_snapshots(path, keep_last=1)
    except RuntimeError:
        pass
    monkeypatch.setattr(os, "remove", real_remove)

    # re-run completes: same expire set, metadata gone, table readable
    res = iceberg_lite.expire_snapshots(path, keep_last=1)
    assert res.expired_snapshot_ids == [1, 2], "re-run must still see the expired set"
    assert res.remaining_snapshot_ids == [sid]
    snap_files = [
        f
        for f in os.listdir(os.path.join(path, "metadata"))
        if f.startswith("snap-")
    ]
    assert len(snap_files) == 1
    t = iceberg_lite.IcebergLiteTable(path)
    assert t.read(spark).count() == 25


# --- ADVICE #4: Holt on a single-point series omits, not crashes ------


def test_holt_single_point_series_omitted(spark, tmp_path):
    events = spark.createDataFrame(
        # 'lonely' has ONE hourly point; 'busy' has three
        [("lonely", "2024-01-01 00:10:00", 5.0)]
        + [("busy", f"2024-01-01 0{h}:00:00", float(h)) for h in range(3)],
        "event_type string, ts string, value double",
    )
    sf = str(tmp_path)
    events.write.parquet(os.path.join(sf, "events.parquet"))
    out = events_suite.ev_holt_forecast(spark, sf).collect()
    types = {r.event_type for r in out}
    assert types == {"busy"}, "single-point series must be omitted like the oracle"


# --- ADVICE #5: ensure_full_data regenerates a missing flat fact -----


def test_ensure_full_data_flat_regenerates_reclaimed_fact(monkeypatch, tmp_path):
    calls = {}

    monkeypatch.setattr(tpch_full, "FULL_DATA_ROOT", str(tmp_path))
    out = os.path.join(str(tmp_path), "sf9")
    os.makedirs(out)
    # every table's flat parquet present except lineitem
    for t in tpch_full.FULL_TABLES:
        if t != "lineitem":
            open(os.path.join(out, f"{t}.parquet"), "w").close()

    def fake_generate(spark, sf, out_dir, single_file=False, only=None):
        calls["only"] = only

    monkeypatch.setattr(tpch_full, "generate_tpch_full", fake_generate)

    # the missing fact, and only it, is regenerated
    assert tpch_full.ensure_full_data(None, "sf9") == out
    assert calls["only"] == {"lineitem"}
