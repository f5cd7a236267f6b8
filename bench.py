#!/usr/bin/env python
"""Benchmark runner: times the headline TPC-H-adapted queries.

Prints ONE JSON line (the FINAL stdout line, sized to survive the
driver's 2000-char tail capture):
  {"metric": "tpch_22_total", "value": N, "unit": "sec",
   "host_spin_s": [before, after], "queries": {<extension ops>: sec},
   "sf": ...}
plus, on earlier lines, the full 4-dp per-query dict over ALL keys and
a compact tpch-only per-query dict (see the layout comment in main()).

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  BENCH_PLAN=1        also print df.explain(formatted) per query to stderr
  BENCH_REPEAT        timing iterations per query (default 1, report min)

Counterpart of the reference's `benchmark-parquet` CLI
(/root/reference/src/main.rs:59-113) and benchmark_vs_duckdb.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

# FROZEN extras list (r5 verdict, Next round #6): BENCH_r{N} must stay a
# key-superset of BENCH_r{N-1} so per-op deltas are comparable across
# rounds without archaeology. APPEND new ops; never remove or rename a
# key. r6 appended: ev_rfm, text_zipf_fit (rewritten on the distributed
# two-pass rank — operators/rank.py), op_contract_check, op_ks_test.
BENCH_EXTRAS: tuple[str, ...] = (
    # --- r4-era headline set + biggest r5 ops (== BENCH_r05 keys) ---
    "text_repetition",
    "op_mixture_weights",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "dedup_decontaminate",
    "sim_brute_topk",
    "sim_ivf_topk",
    "sim_ivf_pq_topk",
    "sim_ivf_persist",
    "sim_kmeans",
    "sim_lsh_topk",
    "dedup_semantic",
    "op_zorder",
    "op_weighted_sample",
    "text_token_freq",
    "text_fingerprint",
    "text_tfidf",
    "text_pack",
    "ev_sessionize",
    "ev_tumbling",
    # --- appended r6 ---
    "ev_rfm",
    "text_zipf_fit",
    "op_contract_check",
    "op_ks_test",
    "sim_range_search",
    "op_gini",
    "op_profile",
    "op_fuzzy_join",
    "ev_survival",
    "ev_ewma",
    "op_iv_woe",
    "op_running_total",
    "op_bloom_semi_join",
    # op_triangle_count deliberately NOT benched: triangle counting is
    # inherently Σ outdeg² (20-40 s at sf0.1) and its shuffle residue
    # degrades every query timed after it in the shared JVM — it stays
    # oracle-validated at sf0.01 in the test suite.
    "ev_pattern_match",
    # --- appended r6 session 2, second wave ---
    "op_freq_itemsets",
    "op_cdc_apply",
    "op_disjunctive_join",
    "op_group_split",
    "op_equidepth_hist",
    "op_skyline",
    "ev_stl",
    "ev_time_to_convert",
    "ev_window_funnel",
    "ev_forecast_eval",
    "ev_concurrency",
    "ev_dau_wau_mau",
    "op_freshness",
    "op_benford",
    "text_kl_divergence",
    # --- appended r7 ---
    "dedup_representative",
    "text_dup_spans",
    "op_k_anonymity",
    "op_compaction_plan",
    "ev_interarrival",
    "sim_filtered_topk",
    "op_data_diff",
    "text_dedup_spans_clean",
    "sim_knn_join",
    "sim_knn_classify",
    "text_budget_sample",
    "sim_knn_graph_ivf",
    "sim_knn_graph_multiprobe",
    "sim_knn_clusters",
    "sim_knn_graph_recall",
    # r8: the end-to-end corpus scrub (exact + LSH/CC + decontaminate
    # composed into one disposition ledger) + the cross-corpus
    # retrieval-shape kNN join
    "dedup_pipeline",
    "sim_knn_join_ab",
    "sim_knn_graph_delta",
    "sim_knn_graph_delta_indexed",
    # --- appended r9 ---
    # sim_knn_clusters swapped to the multi-probe (high-recall) basis
    # this round; _cheap keeps the old single-probe basis' timing
    # comparable across rounds. dedup_pipeline_delta: the incremental
    # per-landing-batch form of the corpus scrub.
    "sim_knn_clusters_cheap",
    "dedup_pipeline_delta",
    "dedup_pipeline_resolve",
    "sim_knn_recall_sampled",
)


def _host_spin_s() -> float:
    """Wall time of a fixed single-core CPU spin — a host-load
    calibration datum (r9 verdict, Next round #3: the box oscillates
    2-6x on a minutes timescale; paired spins before/after the bench
    let a comparer separate host noise from plan regressions without
    archaeology). Pure Python, no Spark, ~1 s on a quiet host."""
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i * i
    assert s  # keep the loop un-optimizable
    return round(time.perf_counter() - t0, 3)


def _compact_val(v: float) -> float:
    """Clamp a seconds value to <=5 chars of JSON (2 dp under 100 s,
    1 dp under 999.95, else integer) so the final stdout line stays
    inside the driver's bounded tail capture at any host speed below
    100000 s. 999.95 and up would round to 1 dp as "1000.0" (6 chars),
    so it takes the integer branch."""
    if v < 100:
        return round(v, 2)
    if v < 999.95:
        return round(v, 1)
    return round(v)


def _final_line(
    times: dict[str, float],
    tpch_total: float,
    tpch_full_total: float,
    host_spin_s: list[float],
    sf_val,
) -> str:
    """The FINAL stdout line, the only one the driver parses: headline
    totals, the host-spin calibration pair and the extension-operator
    timings, every seconds value width-clamped by _compact_val so the
    line stays under the 2000-char tail capture."""
    return json.dumps(
        {
            "metric": "tpch_22_total",
            "value": _compact_val(tpch_total),
            "unit": "sec",
            "tpch_full_22_total": _compact_val(tpch_full_total),
            "n_extras": len(BENCH_EXTRAS),
            "host_spin_s": host_spin_s,
            "queries": {k: _compact_val(times[k]) for k in BENCH_EXTRAS},
            "sf": sf_val,
        },
        separators=(",", ":"),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("BENCH_REPEAT", "2"))
    show_plan = os.environ.get("BENCH_PLAN") == "1"
    spin_before = _host_spin_s()

    from iceberg_query_engine_spark.queries import tpch
    from iceberg_query_engine_spark.session import get_spark, tune_for_corpus

    spark = get_spark(app_name="bench")
    # size-aware runtime confs (bloom-filter thresholds scaled to the
    # corpus; broadcast/partition levers engage at >=1 GB) — the same
    # tuner bench_scale.py and any engine user inherits
    tune_for_corpus(spark, sf_dir)
    # warm the JVM, codegen paths (incl. decimal agg), parquet footers
    tpch.q6(spark, sf_dir).collect()
    tpch.q1(spark, sf_dir).collect()

    times: dict[str, float] = {}
    for name in sorted(tpch.QUERIES, key=lambda q: int(q[1:])):
        fn = tpch.QUERIES[name]
        best = float("inf")
        for _ in range(repeat):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.collect()
            best = min(best, time.perf_counter() - t0)
        if show_plan:
            print(f"=== {name} ===", file=sys.stderr)
            fn(spark, sf_dir).explain(mode="formatted")
        times[name] = round(best, 4)

    # The genuine (unadapted) TPC-H 22 over the full 8-table generated
    # corpus at the same sf — the BASELINE-comparable number on the
    # reference's own query texts, not the driver-schema adaptations.
    # Corpus is generated once per sf and cached (committed for
    # sf0.001/sf0.01; ~30s one-time at sf0.1). Runs BEFORE the
    # extension extras: the heavy extras' shuffle residue measurably
    # degrades later queries in the shared JVM (q7 0.6 s standalone →
    # 2.1 s after a 60M-row wedge join), and the headline numbers must
    # not pay that tail.
    from iceberg_query_engine_spark.plans.rewrites import apply_rewrites
    from iceberg_query_engine_spark.queries import tpch_full

    full_dir = tpch_full.ensure_full_data(spark, sf_dir)
    tpch_full._register(spark, full_dir)
    for n in range(1, 23):
        best = float("inf")
        for _ in range(repeat):
            t0 = time.perf_counter()
            spark.sql(apply_rewrites(tpch_full.QUERY_TEXTS[n])).collect()
            best = min(best, time.perf_counter() - t0)
        times[f"tpchfull_q{n}"] = round(best, 4)

    # extension operators (headline value stays the BASELINE-comparable
    # TPC-H total; these timings are recorded alongside)
    import gc

    from iceberg_query_engine_spark.materialize import release
    from iceberg_query_engine_spark.queries import catalog

    all_q = catalog.all_queries()
    extras = {name: all_q[name] for name in BENCH_EXTRAS}
    for name, fn in extras.items():
        best = float("inf")
        for _ in range(repeat):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
            # between repeats too: a cache left by repeat 1 would make
            # best=min measure a warm repeat 2 (r9 ADVICE)
            release()
        times[name] = round(best, 4)
        gc.collect()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    tpch_total = sum(
        v for k, v in times.items() if k.startswith("q")  # adapted q1..q22 only
    )
    tpch_full_total = sum(v for k, v in times.items() if k.startswith("tpchfull_"))
    spin_after = _host_spin_s()
    # Output layout (r10 fix — r9 verdict, Next round #1: PERF_r09 came
    # back with per_query={} because the full per-query dict rode the
    # PENULTIMATE line and the driver's tail capture is 2000 chars, so
    # per-query/scaling comparisons were empty two rounds running).
    # The driver parses the FINAL stdout line only, so that line must
    # both fit the window and carry "queries". The full 119-key dict
    # CANNOT fit: its key names alone are ~1.4 KB and with minimal JSON
    # structure the dict bottoms out ~2.4 KB > 2000. So, largest first:
    #   line 1: full 4 dp dict, ALL keys (archaeology; kept so no key
    #           is ever dropped from stdout — r5 frozen-extras rule)
    #   line 2: complete compact tpch dict (q1..q22 + tpchfull_q1..22)
    #   line 3 (FINAL, driver-parsed): headline totals + host_spin_s
    #           calibration pair + the 75 extension-operator timings,
    #           width-clamped (~1.94 KB worst case < 2000) — the
    #           optimization surface the per-query verdict needs.
    print(
        json.dumps(
            {
                "metric": "tpch_22_total",
                "value": round(tpch_total, 4),
                "unit": "sec",
                "tpch_full_22_total": round(tpch_full_total, 4),
                "queries": times,
                "sf": sf_val,
            }
        )
    )
    tpch_keys = {
        k: _compact_val(v)
        for k, v in times.items()
        if k.startswith(("q", "tpchfull_"))
    }
    print(
        json.dumps(
            {
                "metric": "tpch_22_per_query",
                "value": round(tpch_total, 4),
                "unit": "sec",
                "tpch_full_22_total": round(tpch_full_total, 4),
                "queries": tpch_keys,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )
    sys.stdout.flush()
    print(_final_line(times, tpch_total, tpch_full_total, [spin_before, spin_after], sf_val))


if __name__ == "__main__":
    main()
