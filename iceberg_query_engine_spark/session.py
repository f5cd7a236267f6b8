"""SparkSession factory tuned for this engine.

Mirrors the reference's ExecutionContext setup
(/root/reference/src/execution/context.rs:159-214): one long-lived
context, memory-safe defaults, parallel execution. Here that means a
single SparkSession with AQE, CBO, Arrow transfer, and shuffle
partitioning sized for the deployment.

Scale notes (100 TB deployment):
- AQE handles runtime coalescing of shuffle partitions and skew-join
  splitting, so ``spark.sql.shuffle.partitions`` is set high-ish and
  AQE coalesces down; on a real cluster raise it to ~2-4x total cores.
- ``spark.sql.files.maxPartitionBytes`` at the 128 MB default keeps
  scan tasks executor-memory-friendly at any input size.
- Broadcast threshold left at default 10 MB; dimension tables
  (region/nation/supplier/part at most SFs) broadcast automatically,
  and AQE converts shuffle joins to broadcast when runtime stats allow.

Codegen cache: every generated class (whole-stage code, projections,
orderings) is Janino-compiled once and kept in a per-JVM cache keyed by
its source text. Spark's default holds 100 classes, far below this
engine's working set: one pass over ``bench.py``'s 119 keys at sf0.1
compiles 1736-1768 distinct classes (1806 over two passes: a few
classes embed literals), and a loop over the five llm-scrub kinds
alone touches ~220. At 100 each op evicted what the next one needed,
and a warm session recompiled ~45 classes per llm-scrub op (~0.3 s of
Janino time, plus JIT warm-up for each freshly loaded class).
``CODEGEN_CACHE_ENTRIES`` holds the whole working set. The cost is
memory: cached classes stay loaded, so after one full key pass JVM
non-heap reads 341 MB at 2000 entries against 306 MB at 100 once a
full GC has unloaded the evicted classes (4 cores, pyspark 4.1.2).
``spark.sql.codegen.cache.maxEntries`` is a static conf, read once
at the JVM's first codegen: a session that ``getOrCreate`` reuses, or
one created elsewhere and passed in, keeps the size it started with
(Spark's 100 unless set at its creation). ``codegen_counts`` reads the
JVM's compile counter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Generated-class cache size: above the 1806 distinct classes two
# passes over bench.py's 119 keys compile at sf0.1 with no eviction;
# the working set and its memory cost are in the module docstring.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "iceberg-query-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode for tests/bench; identical configs apply on a cluster —
    nothing here assumes single-node except the master URL default.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime re-plan, partition coalescing,
        # skew-join handling — core to the 100TB story.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CBO so join reordering uses stats when tables are ANALYZEd
        # (reference JoinReorder rule, src/optimizer/rules/join_reorder.rs).
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Arrow for any pandas-UDF path (the reference is Arrow-native).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Lenient (Trino-like) coercion; the reference is non-ANSI
        # (float money columns, silent casts).
        .config("spark.sql.ansi.enabled", "false")
        # Nanosecond parquet timestamps (events.ts) are not a Spark SQL
        # type; read the physical INT64 as LONG and convert to
        # timestamp in the registration layer (sources/registry.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.session.timeZone", "UTC")
        # static: must be set before the JVM's first codegen
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # managed-table warehouse for bucketed tables (kept off-repo)
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/sg_warehouse"))
        .config("spark.sql.sources.bucketing.enabled", "true")
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_counts(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) since the JVM started: the count
    of ``CodegenMetrics.METRIC_COMPILATION_TIME`` and the exact
    cumulative ``CodeGenerator.compileTime`` (the histogram's own values
    are a sampled reservoir). Only cache misses compile, so a delta of 0
    means every generated class came from the cache. The counters are
    JVM-global: executors in local mode count too, and concurrent
    queries in one JVM blend into each other's deltas."""
    jvm = spark._jvm  # noqa: SLF001
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(hist.getCount()), compile_ns / 1e6


def corpus_bytes(data_dir: str) -> int:
    """Total bytes under a data directory (parquet files only) — the
    size signal `tune_for_corpus` keys its thresholds off."""
    total = 0
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            if f.endswith(".parquet") or f.endswith(".snappy.parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def tune_for_corpus(
    spark: SparkSession,
    data_dir: str,
    cpus: int | None = None,
    extra_dirs: list[str] | None = None,
) -> dict:
    """Set size-aware runtime confs for a corpus — the levers the sf10
    config sweep proved out (BENCH_SCALE.md), promoted into the engine
    so ANY session gets them, not just the bench harness.

    All three are runtime-settable SQL confs, so this works on an
    already-created session (local or cluster):

    - ``autoBroadcastJoinThreshold`` 64 MB once the corpus is over
      ~1 GB: filtered dimensions (customer, part, filtered orders)
      broadcast instead of shuffling the fact side to meet them —
      q5 went 41.4 s → 4.7 s at sf10 on exactly this. Below 1 GB the
      stock 10 MB already broadcasts every dimension, so stay put.
    - runtime bloom-filter APPLICATION-side threshold scaled to the
      corpus: the stock 10 GB assumes TB-scale scans — at 100 TB the
      filters fire out of the box, but on any corpus under 10 GB they
      NEVER fire even when they'd pay for themselves. ~5% of corpus
      bytes restores the design point (q17 4.9 s → 1.1 s at sf10).
      The CREATION-side threshold stays at Spark's stock 10 MB and is
      deliberately NOT scaled: it bounds the cost of the extra scan
      that builds the filter — an absolute cost, not corpus-relative.
      Scaling it linearly was the r4 rule, and the sf100 sweep showed
      it admitting month-filtered *lineitem* subtrees (output est
      128-512 MB, but a 600M-row rescan underneath) as creation sides
      to filter 40x smaller part/orders scans: q14 ran 69x the sf10
      wall (44 s; 4-7 s without the bloom), q21 59.8 s vs 24-44 s,
      q12/q5/q8 similar. A size-of-output threshold cannot see the
      scan cost below the creation side, so only genuinely small
      (dimension-filter) creation sides are safe — which is exactly
      what the stock 10 MB expresses, and q17's beneficial bloom
      still fires under it at every sf measured.
    - ``shuffle.partitions`` = 2× cores (AQE coalesces down) — ~1M
      fact rows per task at sf10, the same rows-per-task a cluster
      deployment targets.
    - ``files.maxPartitionBytes`` targeting ~3 scan splits per core
      over the corpus's largest table (clamp [16 MB, 128 MB]): the
      stock 128 MB under-splits mid-size corpora (sf10's 1.9 GB
      lineitem → ~15 tasks on 32 cores, half the machine idle in
      q1/q6); at 100 TB the clamp returns it to the stock default.

    Returns the conf dict it applied (for logging/tests).
    """
    # extra_dirs: additional storage roots that are part of the same
    # corpus (e.g. the bucketed warehouse copies of fact tables whose
    # flat parquet was reclaimed) — size thresholds must see them.
    total = corpus_bytes(data_dir) + sum(
        corpus_bytes(d) for d in (extra_dirs or [])
    )
    conf: dict[str, str] = {}
    n_cpus = int(cpus or DEFAULT_CPUS)
    if total >= 1 << 28:
        # Scan parallelism: the stock 128 MB maxPartitionBytes gives a
        # 1.9 GB sf10 lineitem only ~15 scan tasks on 32 cores — half
        # the machine idles through q1/q6. Target ~3 splits per core
        # over the corpus's LARGEST table (~40% of corpus bytes for
        # TPC-H), clamped to [16 MB, 128 MB]. At sf100 (and at 100 TB)
        # this converges back to the stock 128 MB; it only kicks in on
        # corpora small enough to under-split. Parquet is row-group
        # splittable, so this works regardless of file layout.
        split = max(16 * 1024 * 1024, min(128 * 1024 * 1024, (total * 2 // 5) // (3 * n_cpus)))
        conf["spark.sql.files.maxPartitionBytes"] = str(split)
    if total >= 1 << 30:
        # Application side ~5% of corpus, floored at 64 MB: scans big
        # enough to be worth filtering, corpus-relative; at 100 TB it
        # converges on the stock 10 GB design point. Below 1 GB the
        # stock thresholds stay — measured at sf0.1, firing blooms on a
        # 10 MB scan costs ~0.3 s of filter-build per query and saves
        # nothing. Creation side: stock 10 MB, deliberately untouched
        # (see docstring — scaling it let fact-rescan blooms through,
        # the sf100 sweep's 69x q14 find).
        scaled = max(total // 20, 64 * 1024 * 1024)
        conf = {
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": str(
                scaled
            ),
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            "spark.sql.shuffle.partitions": str(2 * n_cpus),
            # AQE-idiomatic scaling past sf10: start shuffles at
            # ~64 MB-of-corpus per partition (floored at 2x cores) and
            # let AQE coalesce down per-stage. At sf10 this equals
            # 2x cores (no behavior change vs the measured config); at
            # sf100 it stops 600M-row exchanges landing 9M rows per
            # task; on a real cluster it grows with the data exactly
            # like shuffle.partitions should.
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
                max(2 * n_cpus, total // (64 * 1024 * 1024))
            ),
            **conf,
        }
    for k, v in conf.items():
        spark.conf.set(k, v)
    return conf
