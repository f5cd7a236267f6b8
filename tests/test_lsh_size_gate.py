"""The HOF and codegen-chain LSH bucket paths must be bit-identical:
the size gate (BENCH_r05's sim_lsh_topk 3x small-scale regression fix)
may only trade speed, never values."""

from __future__ import annotations

import pyspark.sql.functions as F

from iceberg_query_engine_spark.queries import similarity_suite as sim


def test_hof_and_chain_buckets_identical(spark, sf_oracle):
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    both = emb.select(
        "vec_id",
        sim._lsh_bucket(F.col("embedding")).cast("long").alias("chain"),
        sim._lsh_bucket(F.col("embedding"), hof=True).cast("long").alias("hof"),
    )
    assert both.filter(F.col("chain") != F.col("hof")).count() == 0


def test_small_corpus_picks_hof_path(spark, sf_oracle):
    # at oracle scale the corpus is far below the codegen threshold, so
    # the plan must contain NO giant element_at chain (the fixed-cost
    # path) — the HOF fold shows up as `aggregate(transform(...`
    from iceberg_query_engine_spark.plans import introspect as pi

    df = sim.sim_lsh_topk(spark, sf_oracle)
    plan = pi.formatted_plan(df)
    assert "aggregate(transform(" in plan or "aggregate(" in plan


def test_unknown_size_picks_codegen_chain(spark, sf_oracle, monkeypatch):
    # a size the walker cannot read takes the gate's safe side, the
    # codegen chain: no interpreted HOF fold in the plan
    from iceberg_query_engine_spark.plans import introspect as pi
    from iceberg_query_engine_spark.sources import registry

    monkeypatch.setattr(registry, "table_bytes", lambda sf_dir, name: None)
    plan = pi.formatted_plan(sim.sim_lsh_topk(spark, sf_oracle))
    assert "aggregate(" not in plan and "element_at(" in plan, plan
