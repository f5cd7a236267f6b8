"""Plan-shape guardrails: the properties that keep queries 100 TB-viable.

Each assertion pins a scale-critical plan property; a regression here
means a query got structurally slower even if still correct.
"""

from __future__ import annotations

import pytest

from iceberg_query_engine_spark.plans import introspect as pi
from iceberg_query_engine_spark.queries import (
    dedup_suite,
    similarity_suite,
    text_suite,
    tpch,
)


@pytest.fixture(scope="module")
def sf(sf_oracle):
    return sf_oracle


def test_q6_pushdown_and_single_shuffle(spark, sf):
    df = tpch.q6(spark, sf)
    # range + quantity predicates reach the parquet reader
    assert pi.has_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    assert pi.has_pushed_filter(df, "LessThan(l_quantity")
    # global agg = exactly one (single-partition) exchange
    assert pi.shuffle_count(df) == 1
    assert not pi.has_cartesian(df)


def test_q6_column_pruning(spark, sf):
    cols = pi.scan_columns(tpch.q6(spark, sf), "lineitem")
    assert set(cols) == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_q1_two_shuffles_max(spark, sf):
    df = tpch.q1(spark, sf)
    # partial+final agg (1 exchange) + orderBy (1 range exchange)
    assert pi.shuffle_count(df) <= 2
    assert pi.has_pushed_filter(df, "LessThanOrEqual(l_shipdate")


def test_q3_broadcasts_dimensions(spark, sf):
    df = tpch.q3(spark, sf)
    assert pi.broadcast_count(df) >= 1
    assert not pi.has_cartesian(df)


def test_q5_no_cartesian_six_way(spark, sf):
    df = tpch.q5(spark, sf)
    assert not pi.has_cartesian(df)
    assert pi.broadcast_count(df) >= 2  # region/nation/supplier chains broadcast


def test_q21_semi_anti_are_joins(spark, sf):
    plan = pi.formatted_plan(tpch.q21(spark, sf))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_minhash_lsh_no_cartesian(spark, sf):
    df = dedup_suite.dedup_minhash_lsh(spark, sf)
    # candidate pairs come from in-bucket expansion, never a cross join
    assert not pi.has_cartesian(df)


def test_minhash_lsh_single_scan_three_shuffles(spark, sf):
    df = dedup_suite.dedup_minhash_lsh(spark, sf)
    plan = pi.formatted_plan(df)
    # signatures (the expensive map stage) computed exactly once AT
    # RUNTIME: the r9 star branch makes the STATIC plan a union of two
    # subtrees over the same band exchange (2 scans on paper), but the
    # physical planner/AQE reuses the exchange, so the scan+signature
    # stage executes once — pinned on the executed plan below
    import re

    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) <= 3, "at most the three union branches"
    # STATIC count: 3 branch exchanges (all the explicit hash(band)
    # repartition — merged into ONE by runtime ReusedExchange) +
    # distinct + final sort. All three star windows (size count, hub
    # min_by, sub-hub min) ride that ONE exchange and its ONE explicit
    # (band, setkey) sort: band ⊆ (band, setkey) satisfies the band
    # windows' clustering, and the sort order prefix-satisfies them —
    # no per-window re-sort of the mega-band partition.
    assert pi.shuffle_count(df) <= 5
    # 3 branch sorts (one per union branch, the same subtree) + the
    # final orderBy; an ordered hub window would add a sort per branch
    sorts = len(re.findall(r"\(\d+\) Sort\b", plan))
    assert sorts <= 4, f"expected ≤4 static sorts, saw {sorts}"
    df.collect()
    executed = pi.executed_plan(df)
    assert "ReusedExchange" in executed, (
        "the star branch must reuse the band exchange, not rescan"
    )


def test_pairs_from_bands_one_sort_per_branch(spark, sf):
    """The star window stack (size count, hub min_by, sub-hub min)
    rides ONE explicit band exchange and ONE (band, setkey) sort per
    union branch — each extra window sort would be a single-threaded
    re-sort of the degenerate mega-band partition (60% of docs in one
    bucket at 5M docs), measured ~2× off the clusters wall when the
    stack carried three sorts."""
    import re

    from iceberg_query_engine_spark.queries.tpch import tables

    (documents,) = tables(spark, sf, "documents")
    bands = dedup_suite._band_rows(documents, dedup_suite.CLUSTER_BAND_SIZE)
    cand = dedup_suite._pairs_from_bands(
        bands, dedup_suite.CLUSTER_CAP, "pin_one_sort"
    )
    plan = pi.formatted_plan(cand)
    sorts = len(re.findall(r"\(\d+\) Sort\b", plan))
    windows = len(re.findall(r"\(\d+\) Window\b", plan))
    assert windows >= 3, plan[:800]
    # static plan: 3 union branches × 1 sort each (runtime merges the
    # branches' identical exchange+sort subtrees via ReusedExchange)
    assert sorts <= 3, f"expected ≤1 sort per union branch, saw {sorts}"


def test_text_stats_map_only(spark, sf):
    df = text_suite.text_stats(spark, sf)
    # per-document transforms are map-side; only the final sort shuffles
    assert pi.shuffle_count(df) <= 1


def test_brute_topk_one_arrow_pass(spark, sf):
    """Two-level top-k: ONE corpus scan into ONE MapInPandas (each
    vector crosses Arrow once — never duplicated per query), window
    merge over the tiny candidate set. No join, so no cartesian."""
    df = similarity_suite.sim_brute_topk(spark, sf)
    assert pi.count_op(df, "MapInPandas") == 1
    assert pi.count_op(df, "Scan parquet") == 1
    assert pi.has_pushed_filter(df, "GreaterThanOrEqual(vec_id")
    assert not pi.has_cartesian(df)


def test_analyze_table_feeds_cbo_stats(spark, sf):
    """ANALYZE TABLE populates row counts the CBO join-reorder uses —
    the Spark analogue of the reference's TableStatistics feeding its
    JoinReorder rule (scan.rs:15-21, join_reorder.rs)."""
    spark.sql("DROP TABLE IF EXISTS cbo_nation")
    spark.read.parquet(f"{sf}/nation.parquet").write.saveAsTable("cbo_nation")
    spark.sql("ANALYZE TABLE cbo_nation COMPUTE STATISTICS FOR ALL COLUMNS")
    stats = (
        spark.table("cbo_nation")
        ._jdf.queryExecution()
        .optimizedPlan()
        .stats()
    )
    assert stats.rowCount().get() == 25
    # a join against the analyzed 25-row table broadcasts it
    from iceberg_query_engine_spark.plans import introspect as pi

    from pyspark.sql import functions as F

    big = spark.read.parquet(f"{sf}/supplier.parquet")
    j = big.join(spark.table("cbo_nation"), big.s_nationkey == F.col("n_nationkey"))
    assert pi.broadcast_count(j) >= 1
    spark.sql("DROP TABLE IF EXISTS cbo_nation")


def test_iceberg_deletes_broadcast_anti_joins(spark, sf):
    """Merge-on-read delete application is anti-joins with the small
    delete side broadcast — the same physical shape the real Iceberg
    Spark reader produces."""
    from iceberg_query_engine_spark.queries import iceberg_suite

    df = iceberg_suite.iceberg_deletes(spark, sf)
    plan = pi.formatted_plan(df)
    assert "LeftAnti" in plan
    assert pi.broadcast_count(df) >= 1
    assert not pi.has_cartesian(df)


def test_text_chunk_map_only(spark, sf):
    """Chunking is a map-side explode: one scan, pushdown on doc_id,
    the only exchange is the final sort."""
    from iceberg_query_engine_spark.queries import text_suite

    df = text_suite.text_chunk(spark, sf)
    assert pi.has_pushed_filter(df, "LessThan(doc_id")
    assert pi.shuffle_count(df) <= 1
    assert pi.count_op(df, "Scan parquet") == 1


def test_text_tfidf_no_collect(spark, sf):
    """tf/df/N all derive from scans + shuffles; N is a broadcast
    cross-join of a 1-row aggregate, never a driver collect. Three
    scans (tf-filtered, df, N) because the doc_id pushdown makes the
    tf subtrees differ — persist(tf) is the one-pass cluster answer."""
    from iceberg_query_engine_spark.queries import text_suite

    df = text_suite.text_tfidf(spark, sf)
    assert pi.broadcast_count(df) >= 1
    assert not pi.has_cartesian(df) or pi.broadcast_count(df) >= 1
    assert pi.count_op(df, "Scan parquet") <= 3


def test_sim_lsh_topk_single_corpus_pass(spark, sf):
    """LSH ANN: the SRP sketch is a map-side codegen expression feeding
    ONE MapInPandas top-k pass (probe sets live in the kernel closure)
    — one corpus scan, no join, no O(n^2) cross join."""
    from iceberg_query_engine_spark.queries import similarity_suite

    df = similarity_suite.sim_lsh_topk(spark, sf)
    assert pi.count_op(df, "MapInPandas") == 1
    assert pi.count_op(df, "Scan parquet") == 1
    assert not pi.has_cartesian(df)


def test_sim_ivf_pq_one_arrow_pass(spark, sf):
    """PQ/ADC ANN: quantize + ADC + partial top-k fused in ONE
    MapInPandas over ONE corpus scan (codebook + query LUTs in the
    kernel closure — 8 codes/vector is the only per-row state), then
    the window merge. No join, no cartesian, no second corpus pass."""
    from iceberg_query_engine_spark.queries import similarity_suite

    df = similarity_suite.sim_ivf_pq_topk(spark, sf)
    assert pi.count_op(df, "MapInPandas") == 1
    assert pi.count_op(df, "Scan parquet") == 1
    assert pi.has_pushed_filter(df, "GreaterThanOrEqual(vec_id")
    assert not pi.has_cartesian(df)


def test_classifier_score_all_jvm(spark, sf):
    """Hashed linear classifier: explode + codegen md5 + literal-array
    weight lookup + one partial+final doc agg — zero Python nodes, the
    256-weight model folded into the plan (no join for weights)."""
    from iceberg_query_engine_spark.queries import text_suite

    df = text_suite.text_classifier_score(spark, sf)
    plan = pi.executed_plan(df)
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("SortMergeJoin") == 0 and not pi.has_cartesian(df)
    assert "partial_sum" in plan or "partial" in plan  # map-side combine


def test_cogroup_reconcile_no_join(spark, sf):
    """Cogrouped applyInPandas: one exchange per side into a single
    FlatMapCoGroupsInPandas — no join operator, no row multiplication,
    pushed key filters on both scans."""
    from iceberg_query_engine_spark.queries import operators_suite

    df = operators_suite.op_cogroup_reconcile(spark, sf)
    plan = pi.executed_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert pi.has_pushed_filter(df, "LessThan(o_orderkey")
    assert pi.has_pushed_filter(df, "LessThan(l_orderkey")
    assert not pi.has_cartesian(df)


def test_weighted_sample_take_ordered(spark, sf):
    """Weighted reservoir sampling compiles to TakeOrderedAndProject:
    per-partition partial top-K, K rows per partition to the driver-side
    merge — never a full global sort of the corpus."""
    from iceberg_query_engine_spark.queries import operators_suite

    df = operators_suite.op_weighted_sample(spark, sf)
    plan = pi.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert not pi.has_cartesian(df)


def test_sim_pq_recall_two_kernel_passes(spark, sf):
    """Each recall gate runs its two corpus kernel passes exactly ONCE
    (inside the localCheckpoint materialize of the Q x k rank table);
    the per-k branches then read the checkpoint — without it every
    branch re-ran BOTH kernels (4 MapInPandas, 2x corpus scans)."""
    from iceberg_query_engine_spark.queries import similarity_suite

    for gate in (similarity_suite.sim_pq_recall, similarity_suite.sim_recall_eval):
        df = gate(spark, sf)
        # kernels ran once each during the localCheckpoint materialize;
        # the final plan reads the checkpointed rank table (no corpus
        # scan, no MapInPandas left at all)
        assert pi.count_op(df, "MapInPandas") == 0, gate.__name__
        assert pi.count_op(df, "Scan parquet") == 0, gate.__name__
        assert not pi.has_cartesian(df), gate.__name__


def test_sim_ivf_persist_partition_pruned_scan(spark, sf):
    """IVF at rest: the serving scan reads ONLY the queried buckets'
    partition directories (static PartitionFilters with bucket IN
    (...), partition count < K_CENTROIDS) into one kernel pass — the
    build-once/query-many layout where pruning happens at storage."""
    import re

    from iceberg_query_engine_spark.queries import similarity_suite

    df = similarity_suite.sim_ivf_persist(spark, sf)
    plan = pi.executed_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1) and " IN " in m.group(1), plan[:500]
    n_probed = m.group(1).count(",") + 1
    assert n_probed < similarity_suite.K_CENTROIDS
    assert pi.count_op(df, "MapInPandas") == 1
    assert not pi.has_cartesian(df)


def test_sim_knn_graph_delta_indexed_pruned_scan(spark, sf):
    """The stored-index incremental graph update reads ONLY the
    affected cells' partition directories (static PartitionFilters
    with cluster IN (...)) — the batch assignment is the sole Arrow
    pass over new data and the existing corpus never fully scans."""
    import re

    from iceberg_query_engine_spark.queries import similarity_suite

    df = similarity_suite.sim_knn_graph_delta_indexed(spark, sf)
    plan = pi.executed_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    # Spark prints IN for short literal lists, INSET past the
    # optimizer's set-conversion threshold — both are static pruning
    assert m and "cluster" in m.group(1), plan[:500]
    assert " IN " in m.group(1) or " INSET " in m.group(1), m.group(1)[:200]
    assert not pi.has_cartesian(df)


def test_dedup_pipeline_delta_indexed_pruned_stores(spark, sf):
    """The indexed scrub's stored hash and band tables are key-bucket
    partitioned; for a small batch (below the static pruning gate) both
    probes must prune at the directory listing (static PartitionFilters
    on pb / bb), and for a large batch (gate off — collecting bucket
    sets would cost more than it saves) the stored reads must carry NO
    partition filter, i.e. the pre-r9 full-scan plan."""
    import re

    from iceberg_query_engine_spark.queries import dedup_suite

    # split chosen so batch_docs * n_bands <= nb // 2 at the 500-doc
    # test corpus (nb = 16): 2 batch docs
    df = dedup_suite._pipeline_delta_indexed(spark, sf, split=0.996)
    plan = pi.executed_plan(df)
    groups = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    for col in ("pb", "bb"):
        hits = [g for g in groups if col in g]
        assert hits, (col, plan[:500])
        assert any(" IN " in g or " INSET " in g for g in hits), hits
    assert not pi.has_cartesian(df)

    # the catalog op's 10% split is ABOVE the gate: same stores, no
    # listing-time filter (and no bucket-set collect jobs paid)
    df_big = dedup_suite.dedup_pipeline_delta_indexed(spark, sf)
    plan_big = pi.executed_plan(df_big)
    for g in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan_big):
        assert "pb" not in g and "bb" not in g, g[:200]
    assert not pi.has_cartesian(df_big)


def test_sim_quantize_map_only(spark, sf):
    """int8 quantization is map-only: one scan, sort is the only
    exchange, no Python UDF in the plan."""
    from iceberg_query_engine_spark.queries import similarity_suite

    df = similarity_suite.sim_quantize_int8(spark, sf)
    assert pi.count_op(df, "Scan parquet") == 1
    assert pi.shuffle_count(df) <= 1
    assert "ArrowEvalPython" not in pi.formatted_plan(df)
    assert "BatchEvalPython" not in pi.formatted_plan(df)


def test_partition_prune_reads_one_directory(spark, sf):
    """Hive-partitioned events: the event_type predicate resolves at
    the directory listing (PartitionFilters), never as a data filter,
    and the scan schema is pruned to the aggregated columns."""
    from iceberg_query_engine_spark.queries import operators_suite

    df = operators_suite.op_partition_prune(spark, sf)
    plan = pi.executed_plan(df)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "event_type" in scan.split("PartitionFilters:")[1].split("]")[0]
    assert "DataFilters: []" in scan
    assert "event_type" not in scan.split("ReadSchema:")[1]


def test_simhash_all_jvm_single_pass(spark, sf):
    """SimHash signatures are 100% JVM (codegen'd md5+conv, partial-
    aggregated bit votes — r3 fix removed the Python md5-per-token
    loop): zero Python evaluation nodes anywhere; the signature table
    is materialized once (checkpoint) and the self-join consumes the
    materialized rows; the corpus is never broadcast."""
    df = dedup_suite.dedup_simhash(spark, sf)
    plan = pi.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan  # both sides read the checkpoint
    assert pi.broadcast_count(df) == 0
    assert not pi.has_cartesian(df)


def test_containment_lsh_single_scan_no_self_join(spark, sf):
    """Containment's scale path: candidates from minhash bands — one
    corpus scan (signatures computed once), in-bucket pair expansion,
    never a bucket-column self-join or cartesian."""
    import re

    df = dedup_suite.dedup_containment_lsh(spark, sf)
    plan = pi.formatted_plan(df)
    # ≤3 static scans (the two star branches); runtime reuses the band
    # exchange (asserted in test_minhash_lsh_single_scan_three_shuffles
    # for the shared shape)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 3
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert not pi.has_cartesian(df)


def test_clusters_lsh_edges_single_scan(spark, sf):
    """dedup_clusters edge generation is LSH-fed (r3 fix): the documents
    scan happens once per clustering run — no exact-jaccard
    source-bucket self-join (the old 5.6s-of-5.8s edge pass)."""
    import re

    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.queries.tpch import tables

    (documents,) = tables(spark, sf, "documents")
    cand = dedup_suite._lsh_candidate_pairs(
        documents, dedup_suite.CLUSTER_BAND_SIZE, dedup_suite.CLUSTER_CAP
    )
    plan = pi.formatted_plan(cand)
    # ≤3 static scans: the star branches union over the same band
    # exchange, which the runtime reuses (no second signature pass)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 3
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    cand.collect()  # count() would wrap the plan; collect executes THIS one
    assert "ReusedExchange" in pi.executed_plan(cand)


def test_embedding_cosine_single_decode_pass(spark, sf):
    """Vector decode happens once (checkpoint); only the pairwise cosine
    UDF remains in the join plan — exactly one Python evaluation node."""
    import re

    df = dedup_suite.dedup_embedding_cosine(spark, sf)
    plan = pi.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "Scan ExistingRDD" in plan
    assert pi.broadcast_count(df) == 0


def test_jaccard_bucket_cap_shares_join_shuffle(spark, sf):
    """The PAIR_BUCKET_CAP count-window partitions on `source`, the same
    key the self-join shuffles on — the guard adds zero exchanges: one
    per join side plus the final sort."""
    df = dedup_suite.dedup_ngram_jaccard(spark, sf)
    plan = pi.formatted_plan(df)
    assert "Window" in plan  # the cap guard is present
    assert pi.shuffle_count(df) <= 3  # 2 join sides + orderBy, none extra
    assert not pi.has_cartesian(df)


def test_dedup_latest_partial_aggregates(spark, sf):
    """CDC keep-latest runs as partial+final max_by aggregation (one
    candidate per key per task crosses the shuffle) — never a window
    sort over whole partitions."""
    from iceberg_query_engine_spark.queries import operators_suite

    df = operators_suite.op_dedup_latest(spark, sf)
    plan = pi.executed_plan(df)
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert pi.has_pushed_filter(df, "LessThan(user_id,100)")


def test_text_repetition_map_only(spark, sf):
    """Gopher repetition gates run without exploding grams into a
    shuffle: sorted-array run-length fold per row. Exchanges: the final
    sort plus the bounded compute-spread — a round-robin repartition of
    the ≤300-row doc_id slice (filter-bounded at ANY corpus size) that
    un-serializes the O(len²) gram folds on split-starved scan layouts
    (r9 optimization round; the corpus-wide registry respread was
    measured a net regression and reverted — HISTORY.md)."""
    df = text_suite.text_repetition(spark, sf)
    assert pi.shuffle_count(df) <= 2
    assert pi.count_op(df, "Scan parquet") == 1


def test_mixture_weights_single_corpus_pass(spark, sf):
    """The global-sum branch reads the checkpointed per-source table,
    not a second corpus scan: at most one parquet scan in the plan."""
    from iceberg_query_engine_spark.queries import operators_suite

    df = operators_suite.op_mixture_weights(spark, sf)
    assert pi.count_op(df, "Scan parquet") <= 1
    assert not pi.has_cartesian(df) or pi.broadcast_count(df) >= 1


def test_q18_topk_fusion(spark, sf):
    """ORDER BY + LIMIT fuses to TakeOrderedAndProject: per-partition
    top-k heaps, only k rows per task reach the driver-side merge —
    the reference implements this as its top-k operator."""
    plan = pi.formatted_plan(tpch.q18(spark, sf))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q2_q15_no_cartesian_broadcast_dims(spark, sf):
    """Correlated-min (q2) and revenue-view (q15) shapes stay
    broadcast-joined with no cartesian products."""
    for q in (tpch.q2, tpch.q15):
        df = q(spark, sf)
        assert not pi.has_cartesian(df)
        assert pi.broadcast_count(df) >= 2


def test_decontaminate_broadcasts_eval_side(spark, sf):
    """The eval split's distinct shingles broadcast into a left-semi
    hash join — the train shingle stream (the corpus-sized side) never
    crosses an exchange. At 100 TB this is the difference between
    shuffling every training token and shuffling nothing."""
    df = dedup_suite.dedup_decontaminate(spark, sf)
    plan = pi.formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # no SortMergeJoin/ShuffledHashJoin semi anywhere: the only joins are
    # the broadcast semi + the tiny per-source totals/hits join
    assert "SortMergeJoin LeftSemi" not in plan
    assert "ShuffledHashJoin LeftSemi" not in plan
    assert not pi.has_cartesian(df)


def test_media_catalog_never_reads_payload(spark, sf):
    """Binary-column pruning: the media inventory derives sizes from
    typed metadata, so the parquet scan's ReadSchema must EXCLUDE the
    payload column — at 100 TB of media the difference between a
    metadata-only catalog pass and a full-corpus byte scan."""
    from iceberg_query_engine_spark.queries import multimodal_suite as mm

    df = mm.mm_media_catalog(spark, sf)
    plan = pi.formatted_plan(df)
    assert "media.parquet" in plan
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("payload" not in s for s in schemas), schemas


def test_decode_stats_pushes_id_filter_to_media_scan(spark, sf):
    """The doc_id predicate reaches the media parquet scan, so
    row-group pruning can skip payload bytes of non-matching groups."""
    from iceberg_query_engine_spark.queries import multimodal_suite as mm

    df = mm.mm_decode_stats(spark, sf)
    assert pi.has_pushed_filter(df, "LessThan(doc_id,100)")


def test_kmeans_partial_agg_no_window(spark, sf):
    """The Lloyd step's 64 per-dimension means run inside ONE partial+
    final hash aggregate (K x 64 values cross the exchange) — never a
    posexplode of the corpus or a window sort; centroids broadcast."""
    df = similarity_suite.sim_kmeans(spark, sf)
    plan = pi.formatted_plan(df)
    assert "partial_avg" in pi.executed_plan(df)
    assert "Window" not in plan
    assert "Generate" not in plan  # no corpus explode
    assert pi.broadcast_count(df) >= 1
    assert not pi.has_cartesian(df) or pi.broadcast_count(df) >= 1


def test_dedup_semantic_windowed_neighbors_one_udf_pass(spark, sf):
    """SemDeDup neighborhood pass: ONE assignment ArrowEvalPython, ONE
    rolling-window MapInPandas after the cluster repartition+sort —
    each vector crosses Arrow once per pass; no explode (Generate), no
    collect_list Window, no self-join of the corpus, no groupBy
    re-aggregation of a pair stream, no cartesian."""
    import re

    df = dedup_suite.dedup_semantic(spark, sf)
    plan = pi.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert pi.count_op(df, "MapInPandas") == 1
    assert "Generate" not in plan  # no predecessor explode
    assert plan.count("SortMergeJoin") == 0
    assert not pi.has_cartesian(df)


def test_bloom_semi_join_fact_tested_map_side(spark, sf):
    """The bloom probe is K broadcast hash joins on hash positions —
    the fact is never shuffled to meet the bit set; the only exchanges
    are the final per-flag aggregates. r9-opt: the fact (lineitem) is
    scanned ONCE — the exact-membership flag rides the probe pass as a
    broadcast left join instead of a second scan + leftsemi — and all
    K probes join the IDENTICAL bits subtree so the runtime reuses one
    broadcast build (verified ReusedExchange x2 in the executed plan)."""
    from iceberg_query_engine_spark.queries import operators_suite

    df = operators_suite.op_bloom_semi_join(spark, sf)
    plan = pi.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= operators_suite.BSJ_K
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # single fact scan: lineitem appears in exactly one FileScan location
    fact_scans = sum(
        "lineitem.parquet" in ln for ln in plan.splitlines() if "Location" in ln
    )
    assert fact_scans == 1, f"expected 1 lineitem scan, saw {fact_scans}"


def test_disjunctive_join_no_nested_loop(spark, sf):
    """The OR-key join must decompose to hash joins — a BNLJ here is
    exactly the quadratic fallback the operator exists to avoid."""
    from iceberg_query_engine_spark.queries import operators_suite

    df = operators_suite.op_disjunctive_join(spark, sf)
    plan = pi.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_range_search_single_arrow_pass(spark, sf):
    """sim_range_search ships each corpus vector across the Python
    channel ONCE: exactly one Python-eval node over the corpus, no
    shuffle before the kernel (the only exchange is the result sort)."""
    from iceberg_query_engine_spark.queries import similarity_suite

    df = similarity_suite.sim_range_search(spark, sf)
    plan = pi.formatted_plan(df)
    import re as _re

    py_nodes = _re.findall(
        r"\(\d+\) (?:ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)", plan
    )
    assert len(py_nodes) == 1, py_nodes
    assert pi.shuffle_count(df) <= 1


def test_running_total_single_range_exchange(spark, sf):
    """cumsum_by_range(rank_out=) fuses rank+cumsum into ONE range
    exchange; the windows are PARTITIONED by the shard id."""
    from iceberg_query_engine_spark.queries import operators_suite

    df = operators_suite.op_running_total(spark, sf)
    assert pi.unpartitioned_windows(df) == []


def test_window_funnel_no_windows_no_collect_shape(spark, sf):
    """Funnel levels are key-partitioned aggregates — no window
    functions, no cartesians, every join an equi hash/merge join."""
    from iceberg_query_engine_spark.queries import events_suite

    df = events_suite.ev_window_funnel(spark, sf)
    plan = pi.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_concurrency_integer_cumsum_distributed(spark, sf):
    """The sweep-line running sum is the range-partitioned cumsum —
    no single-partition window anywhere in the plan."""
    from iceberg_query_engine_spark.queries import events_suite

    df = events_suite.ev_concurrency(spark, sf)
    assert pi.unpartitioned_windows(df) == []


def test_knn_join_blocked_grid_shape(spark, sf):
    """Exact k-NN join: ONE cogroup-Arrow node (the blocked grid
    kernel), no cartesian/BNLJ (replication is by explicit grid-key
    explode, never a nested loop), and no broadcast of a corpus-sized
    relation — the merge window is l_id-partitioned."""
    from iceberg_query_engine_spark.queries import similarity_suite

    df = similarity_suite.sim_knn_join(spark, sf)
    plan = pi.formatted_plan(df)
    assert pi.count_op(df, "FlatMapCoGroupsInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert pi.unpartitioned_windows(df) == []


def test_budget_sample_single_pass(spark, sf):
    """Budget sampling is ONE conditional aggregation over the
    windowed frame: no rejoin of a second documents scan, and the
    source exchange feeding the window is reused by the groupBy —
    exactly 2 exchanges (window shuffle + final presentation sort)."""
    from iceberg_query_engine_spark.queries import text_suite

    df = text_suite.text_budget_sample(spark, sf)
    plan = pi.formatted_plan(df)
    assert pi.count_op(df, "Scan parquet") == 1  # documents read once
    assert "Join" not in plan
    assert pi.count_op(df, "Exchange") <= 2
