#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload llm-scrub --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts the engine from a cold JVM
(JVM launch and session start, tuning, corpus registration) and runs
every operation kind once as a discarded warm-up; ``setup_s`` is the
time of both. Then it sends one operation at a time to a
``local[nproc]`` session, in whole passes, until ``--seconds`` of
operation wall time have passed. After the timed loop every result is
checked (DuckDB oracles, or the table model for table-churn); a
mismatch makes the run exit 1. The last stdout line is the result:
every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``. The traced run also writes its spans to
``.bench_build/perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback

PERFBENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH_DIR)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# The engine's default driver heap is 16 GB; the corpora here need far
# less, and the host's memory is shared.
SPARK_DRIVER_MEMORY = "2g"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _prepare_env(cores: int) -> None:
    """Keep every file the engine writes inside the checkout."""
    for sub in ("tmp", "spark-local", "warehouse", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = SPARK_DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts (its launcher too): no /tmp perf files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _spark_conf() -> dict[str, str]:
    return {"spark.ui.showConsoleProgress": "false"}


def _start_session(cores: int):
    from iceberg_query_engine_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=_spark_conf())


def _stop_jvm(spark) -> None:
    """Stop the session (if there is one), then the JVM pyspark launched,
    and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _build_corpus(cores: int) -> int:
    """Child-process entry: generate the llm-scrub corpus, then exit."""
    from perfbench.workloads import LlmScrub

    wl = LlmScrub(ROOT, WORK)
    if not wl.corpus_ready():
        spark = _start_session(cores)
        try:
            wl.build_corpus(spark)
        finally:
            _stop_jvm(spark)
    return 0


def _setup(wl, cores: int, tr):
    """JVM launch and session start + tuning + corpus registration."""
    from iceberg_query_engine_spark.session import tune_for_corpus

    t0 = time.perf_counter()
    with tr.span("session.get_spark", "session"):
        spark = _start_session(cores)
    t1 = time.perf_counter()
    with tr.span("session.tune_for_corpus", "session"):
        tune_for_corpus(spark, wl.sf_dir, cpus=cores)
    t2 = time.perf_counter()
    wl.register(spark, tr)
    t3 = time.perf_counter()
    return spark, {"total": t3 - t0, "start": t1 - t0, "tune": t2 - t1, "register": t3 - t2}


def _whole_passes(passes, min_passes: int, done):
    """Operations pass after pass, stopping only between passes and never
    before ``min_passes``, so every run samples each operation kind equally
    often, whatever the host's speed."""
    for i, batch in enumerate(passes, 1):
        yield from batch
        if i >= min_passes and done():
            return


def _contains(span: dict, t: float, slack: float = 0.002) -> bool:
    return span["start"] - slack <= t <= span["end"] + slack


def _innermost(spans: list[dict], t: float) -> dict:
    holding = [s for s in spans if _contains(s, t)]
    return min(holding, key=lambda s: s["end"] - s["start"]) if holding else spans[0]


def _op_layers(tr, probe, wl, op, op_id: int, group: str, since: int, df) -> dict:
    """Per-layer values of one operation, from its spans and Spark's
    status stores (trace mode only)."""
    t0 = time.perf_counter()
    probe.settle()
    spans = tr.op_spans(op_id)
    root = spans[0]
    v: dict[str, float] = {}
    jobs = probe.jobs(group)
    job_spans = []
    for j in jobs:
        if j["submit_ms"] is None or j["end_ms"] is None:
            continue
        s, e = tr.epoch_ms_to_perf(j["submit_ms"]), tr.epoch_ms_to_perf(j["end_ms"])
        ran = [st for st in j["stages"] if st["status"] != "SKIPPED"]
        job_spans.append(tr.add_child(
            _innermost(spans, s), f"job{j['id']}", "exec", s, max(s, e),
            stages=len(ran), tasks=sum(st["tasks"] for st in ran)))
        for key in ("run_s", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "tasks", "failed_tasks"):
            v[key] = v.get(key, 0.0) + sum(st[key] for st in ran)
        v["stages"] = v.get("stages", 0.0) + len(ran)
    if df is not None:
        for phase, (a, b) in probe.phases(df).items():
            s, e = tr.epoch_ms_to_perf(a), tr.epoch_ms_to_perf(b)
            tr.add_child(_innermost(spans, s), f"catalyst.{phase}", "catalyst", s, max(s, e))
            if phase in ("analysis", "optimization", "planning"):
                v[f"catalyst.{phase}_s"] = (b - a) / 1e3

    def within(span):
        return [(j["start"], j["end"]) for j in job_spans if _contains(span, j["start"])]

    def jobs_extent(span) -> float:
        iv = within(span)
        return max(e for _s, e in iv) - min(s for s, _e in iv) if iv else 0.0

    out = {
        "exec.jobs": float(len(job_spans)),
        "exec.stages": v.get("stages", 0.0),
        "exec.tasks": v.get("tasks", 0.0),
        "exec.failed_tasks": v.get("failed_tasks", 0.0),
        "exec.executor_run_s": v.get("run_s", 0.0),
        "exec.executor_cpu_s": v.get("cpu_s", 0.0),
        "exec.shuffle_read_bytes": v.get("shuffle_read_bytes", 0.0),
        "exec.shuffle_write_bytes": v.get("shuffle_write_bytes", 0.0),
        "exec.spill_bytes": v.get("spill_bytes", 0.0),
        "catalyst.analysis_s": v.get("catalyst.analysis_s", 0.0),
        "catalyst.optimization_s": v.get("catalyst.optimization_s", 0.0),
        "catalyst.planning_s": v.get("catalyst.planning_s", 0.0),
    }
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in by_name.get(name, []))

    out["dialect.translate_s"] = total("dialect.translate")
    out["rewrites.apply_s"] = total("rewrites.apply")
    out["queries.build_s"] = total("queries.build")
    out["queries.build_jobs"] = float(sum(len(within(s)) for s in by_name.get("queries.build", [])))
    collects = by_name.get("collect", [])
    out["exec.action_s"] = total("collect")
    out["collect.driver_s"] = sum(max(0.0, s["end"] - s["start"] - jobs_extent(s)) for s in collects)
    out["collect.rows"] = float(sum(s["attrs"].get("rows", 0) for s in collects))
    out.update(probe.python_metrics(since))
    out["cache.persisted_rdds_left"] = float(probe.persisted_rdds())
    role = wl.role(op)
    if role == "read":
        out["iceberg.scan_plan_s"] = total("iceberg.read")
        out["iceberg.data_files"], out["iceberg.delete_files"] = map(float, wl.file_counts())
        root["attrs"]["data_files"] = out["iceberg.data_files"]
        root["attrs"]["delete_files"] = out["iceberg.delete_files"]
    elif role in ("commit", "compact"):
        commits = [s for s in spans if s["layer"] == "iceberg"]
        out["iceberg.commit_meta_s"] = sum(
            max(0.0, s["end"] - s["start"] - jobs_extent(s)) for s in commits)
    root["attrs"]["layers"] = out
    out["trace.bookkeeping_s"] = time.perf_counter() - t0
    return out


PER_OP_MEAN = (
    "dialect.translate_s", "rewrites.apply_s", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "queries.build_s", "queries.build_jobs", "exec.action_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.failed_tasks", "exec.executor_run_s",
    "exec.executor_cpu_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "python.udf_s", "python.boot_s", "python.bytes_sent",
    "python.bytes_received", "python.rows_returned", "collect.driver_s", "collect.rows",
    "trace.bookkeeping_s",
)
SELF_LAYERS = ("bench", "session", "registry", "dialect", "rewrites", "catalyst", "queries",
               "collect", "exec", "iceberg")


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _per_layer(wl, tr, setup, warm_up_s, per_op, roles, latencies, cores,
               commit_summary) -> dict:
    from perfbench.trace import self_time_by_layer

    vals: dict[str, float] = {
        "session.start_s": setup["start"],
        "session.tune_s": setup["tune"],
        "registry.register_s": setup["register"],
        "setup.warm_up_s": warm_up_s,
    }
    for key in PER_OP_MEAN:
        vals[key] = _mean([o.get(key, 0.0) for o in per_op])
    reads = [o for o, r in zip(per_op, roles) if r == "read"]
    commits = [o for o, r in zip(per_op, roles) if r in ("commit", "compact")]
    for key in ("iceberg.scan_plan_s", "iceberg.data_files", "iceberg.delete_files"):
        vals[key] = _mean([o[key] for o in reads])
    vals["iceberg.commit_meta_s"] = _mean([o["iceberg.commit_meta_s"] for o in commits])
    vals.update(commit_summary)
    run_s = sum(o["exec.executor_run_s"] for o in per_op)
    wall = sum(latencies)
    vals["exec.core_busy_ratio"] = run_s / (wall * cores) if wall else 0.0
    vals["cache.persisted_rdds_left"] = max((o["cache.persisted_rdds_left"] for o in per_op),
                                            default=0.0)
    n_ops = max(1, len(per_op))
    selfs = self_time_by_layer(tr.spans)
    for layer in SELF_LAYERS:
        per = 1 if layer in ("session", "registry") else n_ops
        vals[f"self.{layer}_s"] = selfs.get(layer, 0.0) / per
    return vals


def _churn_summary(wl, commit_lat: list[float], compact_lat: list[float]) -> dict[str, float]:
    from perfbench.stats import percentile

    if wl.name != "table-churn":
        return {k: 0.0 for k in ("iceberg.commit_p50_s", "iceberg.write_amp",
                                 "iceberg.space_amp", "iceberg.compact_s",
                                 "iceberg.compact_bytes_rewritten")}
    return {
        "iceberg.commit_p50_s": percentile(commit_lat, 50.0) if commit_lat else 0.0,
        "iceberg.write_amp": wl.write_amp(),
        "iceberg.space_amp": wl.space_amp(),
        "iceberg.compact_s": _mean(compact_lat),
        "iceberg.compact_bytes_rewritten": _mean([float(b) for b in wl.compact_bytes]),
    }


def run(args) -> int:
    from perfbench import hostctx, stats
    from perfbench.trace import NullTracer, SparkProbe, Tracer
    from perfbench.workloads import WORKLOADS

    spec = stats.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    cores = hostctx.nproc()
    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, **hostctx.static_context(ROOT, cores),
               "load_before": hostctx.load_average(), "spin_before": hostctx.cpu_spins(cores)}
    ticks = hostctx.cpu_ticks()
    wl = WORKLOADS[args.workload](ROOT, WORK)
    phases = {}
    t_phase = time.perf_counter()
    if hasattr(wl, "corpus_ready") and not wl.corpus_ready():
        subprocess.run([sys.executable, os.path.abspath(__file__), "--build-corpus"],
                       check=True, timeout=850)
    phases["build_s"] = time.perf_counter() - t_phase
    tr = Tracer() if args.trace else NullTracer()
    spark = None
    try:
        spark, setup = _setup(wl, cores, tr)
        t_phase = time.perf_counter()
        wl.warm_up(spark)
        phases["warm_up_s"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        probe = SparkProbe(spark) if args.trace else None
        rng = random.Random(args.seed)
        latencies: list[float] = []
        samples: list[tuple[str, float]] = []
        by_role: dict[str, list[float]] = {}
        per_op: list[dict] = []
        roles: list[str] = []
        attempted = failed = 0
        timed = 0.0
        for op in _whole_passes(wl.passes(rng), wl.min_passes, lambda: timed >= args.seconds):
            group = f"perfbench-{attempted}"
            spark.sparkContext.setJobGroup(group, wl.label(op))
            before = wl.before_op(op)
            since = probe.mark() if probe else 0
            tr.begin_op(wl.label(op))
            ok, outcome = True, None
            t0 = time.perf_counter()
            try:
                outcome = wl.run_op(spark, op, tr)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                ok = False
            dt = time.perf_counter() - t0
            tr.end_op()
            attempted += 1
            timed += dt
            if not ok:
                failed += 1
                continue
            latencies.append(dt)
            samples.append((wl.label(op), wl.role(op), dt))
            by_role.setdefault(wl.role(op), []).append(dt)
            wl.after_op(spark, op, outcome, ok, before)
            if probe:
                df = outcome[0] if outcome else None
                per_op.append(_op_layers(tr, probe, wl, op, tr.last_op(), group, since, df))
                roles.append(wl.role(op))
        phases["loop_s"] = time.perf_counter() - t_phase
        # memory after the loop, before the checks add to it
        memory = {"memory.jvm_peak_rss_mb": hostctx.vm_hwm_bytes(_jvm_pid()) / 1e6,
                  "memory.python_peak_rss_mb": hostctx.python_hwm_bytes() / 1e6}
        retained = hostctx.jvm_retained_bytes(spark)
        memory["memory.jvm_heap_mb"] = retained["heap"] / 1e6
        memory["memory.jvm_non_heap_mb"] = retained["non_heap"] / 1e6
        memory["memory.python_rss_mb"] = hostctx.rss_bytes() / 1e6
        t_phase = time.perf_counter()
        spark.sparkContext.setJobGroup("perfbench-verify", "verify")
        commit_summary = _churn_summary(wl, by_role.get("commit", []), by_role.get("compact", []))
        mismatches = wl.verify(spark)
        phases["verify_s"] = time.perf_counter() - t_phase
    finally:
        wl.close()
        _stop_jvm(spark)
    context["phases"] = phases
    context["load_after"] = hostctx.load_average()
    context["spin_after"] = hostctx.cpu_spins(cores)
    context["steal_share"] = hostctx.steal_share(ticks, hostctx.cpu_ticks())

    main_role = "read" if "read" in by_role else "query"
    main = [(k, dt) for k, role, dt in samples if role == main_role]
    lat = [dt for _k, dt in main]
    summary = stats.latency_summary(lat) if lat else None
    kinds = stats.kind_medians(main)
    context["latency"] = summary
    context["kind_medians"] = kinds
    context["commit_latency"] = (stats.latency_summary(by_role["commit"])
                                 if by_role.get("commit") else None)
    context["memory"] = memory
    context["setup"] = setup
    context["ops"] = {r: len(v) for r, v in by_role.items()}
    context["samples"] = [(k, round(dt, 4)) for k, _role, dt in samples]
    context["mismatches"] = mismatches[:10]
    e2e = {
        "setup_s": setup["total"] + phases["warm_up_s"],
        "latency_p50_s": summary["p50"] if summary else 0.0,
        # every kind weighs the same: any one kind's slowdown moves it
        "latency_geomean_s": statistics.geometric_mean(kinds.values()) if kinds else 0.0,
        "ops_per_s": len(latencies) / sum(latencies) if latencies else 0.0,
        "retained_mb": sum(memory[k] for k in ("memory.jvm_heap_mb", "memory.jvm_non_heap_mb",
                                               "memory.python_rss_mb")),
    }
    if args.trace:
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        tr.write(path)
        context["trace_file"] = os.path.relpath(path, ROOT)
        context["traced_end_to_end"] = e2e
        values = _per_layer(wl, tr, setup, phases["warm_up_s"], per_op, roles, latencies,
                            cores, commit_summary)
        values.update({k: v for k, v in memory.items() if k != "memory.jvm_non_heap_mb"})
        declared = spec["per_layer"]
    else:
        values, declared = e2e, spec["end_to_end"]
    correct = not mismatches and summary is not None
    print(json.dumps({"context": context}))
    print(stats.result_line(declared, values, correct, attempted, failed))
    sys.stdout.flush()
    return 0 if correct and not failed else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-corpus", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "iceberg_query_engine_spark")):
        return _fail(f"no engine sources under {ROOT}; run from a repository checkout")
    if not os.path.isfile(os.path.join(ROOT, "data", "tpch_full", "sf0.01", "orders.parquet")):
        return _fail("committed corpus data/tpch_full/sf0.01 is missing")
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)
    if args.build_corpus:
        return _build_corpus(cores)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
