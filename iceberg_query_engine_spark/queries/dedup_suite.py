"""Deduplication suite for training-data pipelines (north-star scope).

Five dedup strategies over the `documents` / `embeddings` tables:
exact (hash groupBy), n-gram Jaccard (bucketed self-join), MinHash+LSH
(shingle → minhash → band → bucket-join), SimHash (bitwise), and
embedding-cosine near-dup. All built from native Spark array/hash
functions — no Python UDFs — so they distribute and codegen.

Scale notes (100 TB): exact dedup is one shuffle on the content hash.
MinHash/LSH is the scale path for fuzzy dedup: per-doc signatures are
map-only; candidate generation shuffles on *band key* (small), and
only candidate pairs get the exact-Jaccard verify — never the O(n²)
cross join. The Jaccard/cosine self-joins here are bucketed by a join
key (source / label) for the same reason; at 100 TB you'd LSH-bucket
first (as dedup_minhash_lsh does). AQE skew-join handles hot buckets.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import at_rest
from .tpch import tables

N_HASHES = 8  # minhash permutations
BAND_SIZE = 4  # rows per LSH band → 2 bands
BUCKET_CAP = 25  # skip LSH buckets bigger than this (degenerate buckets)
# Safety cap for the pairwise (non-LSH) dedup paths: a join bucket of B
# docs costs B(B-1)/2 comparisons, so one hot `source` bucket at corpus
# scale is quadratic death. Buckets over the cap are skipped (LSH is the
# scale path for those). No-op at test scale (max bucket 250 at sf0.1);
# mirrored in every oracle so results agree by construction.
PAIR_BUCKET_CAP = 2000
# LSH-fed clusters: band_size=2 (4 bands) keeps recall at J>=0.6
CLUSTER_BAND_SIZE = 2
CLUSTER_CAP = 25


def _tokens():
    return F.split(F.col("text"), " ")


def _cap_buckets(df: DataFrame, key: str, observation=None) -> DataFrame:
    """Drop rows in join buckets larger than PAIR_BUCKET_CAP.

    The count window partitions on the same key the self-join shuffles
    on, so the window's exchange IS the join's exchange — the guard
    costs zero extra shuffles (pinned in tests/test_plans.py).

    The drop is NOT silent: an `observe` metric counts the excluded
    rows (named observations ride the normal action, zero extra jobs —
    read them via QueryExecutionListener / df.observe semantics), so an
    operator at real scale sees how many docs the cap excluded and can
    route those sources to the LSH path (`dedup_minhash_lsh` /
    `dedup_containment_lsh`), which has no such cliff.
    """
    from pyspark.sql import Window

    return (
        df.withColumn("_bn", F.count(F.lit(1)).over(Window.partitionBy(key)))
        .observe(
            observation if observation is not None else f"pair_bucket_cap_{key}",
            F.sum(F.when(F.col("_bn") > PAIR_BUCKET_CAP, 1).otherwise(0)).alias(
                "rows_dropped_by_cap"
            ),
            F.count(F.lit(1)).alias("rows_total"),
        )
        .filter(F.col("_bn") <= PAIR_BUCKET_CAP)
        .drop("_bn")
    )


# --------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash; report group sizes + survivors."""
    (documents,) = tables(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    groups = (
        documents.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep_doc"))
    )
    return groups.groupBy().agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.col("n") - 1).cast("bigint").alias("n_removed"),
        F.max("n").alias("max_group"),
    )


DEDUP_EXACT_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_unique,
       CAST(SUM(n - 1) AS BIGINT) AS n_removed,
       CAST(MAX(n) AS BIGINT) AS max_group
FROM (
  SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS keep_doc
  FROM documents GROUP BY md5(text)
)
"""


# --------------------------------------------------------------------------
def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered near-dup pairs (doc_a < doc_b, jaccard >= 0.6) by
    token-set Jaccard within source buckets."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = F.array_distinct(_tokens())
    # Hash each token to a 64-bit int ONCE per doc (O(corpus) work) so the
    # per-candidate array_intersect hashes fixed-width longs instead of
    # re-hashing variable-length strings 490k times (measured ~20% off the
    # whole query at sf0.1). Collisions need two distinct tokens of one
    # pair to collide in 64 bits — ~V^2/2^65, negligible at any corpus size.
    d = _cap_buckets(
        documents.select(
            "doc_id",
            "source",
            F.transform(toks, lambda t: F.xxhash64(t)).alias("toks"),
            F.size(toks).alias("sz"),
        ),
        "source",
    )
    a = d.alias("a")
    # merge hint: the token-set table is corpus-sized — broadcasting it
    # is wrong at scale; a sort-merge join shuffles both sides on the
    # bucket key and lets Spark reuse the shuffle across the self-join.
    b = d.hint("merge").alias("b")
    # size-ratio prefilter: J >= 0.6 implies min(|A|,|B|) >= 0.6*max
    # (|A∩B| <= min, |A∪B| >= max), so 5*min >= 3*max prunes pairs
    # BEFORE the quadratic-cost intersect without changing the result.
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.least(F.col("a.sz"), F.col("b.sz")) * 5
           >= F.greatest(F.col("a.sz"), F.col("b.sz")) * 3),
    )
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    # |A ∪ B| = |A| + |B| − |A ∩ B|: both sizes are precomputed per doc,
    # so deriving the union size halves the per-pair array traversal
    # (array_union would rebuild + rehash both arrays per candidate).
    union = F.col("a.sz") + F.col("b.sz") - inter
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.6)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by token-set Jaccard within source buckets."""
    return _jaccard_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH d AS (
  SELECT doc_id, source, list_distinct(string_split(text,' ')) AS toks
  FROM documents
  QUALIFY COUNT(*) OVER (PARTITION BY source) <= {PAIR_BUCKET_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  round(CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / length(list_distinct(a.toks || b.toks)), 6) AS jaccard
FROM d a JOIN d b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE round(CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / length(list_distinct(a.toks || b.toks)), 6) >= 0.6
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc near-dup pairs by token-set CONTAINMENT: pairs where
    the smaller doc's tokens are ≥80% covered by the larger doc
    (C = |A∩B| / min(|A|,|B|)). Jaccard misses these — a short doc
    embedded in a long one has a huge union, so J stays low while C≈1;
    containment is the standard boilerplate/quote/excerpt catcher in
    training-data curation.

    Same single-shuffle SMJ shape as the Jaccard path, but WITHOUT the
    size-ratio prefilter (asymmetric sizes are exactly the target);
    tokens are pre-hashed to longs so the per-pair intersect never
    re-hashes strings."""
    (documents,) = tables(spark, sf_dir, "documents")
    toks = F.array_distinct(_tokens())
    d = _cap_buckets(
        documents.select(
            "doc_id",
            "source",
            F.transform(toks, lambda t: F.xxhash64(t)).alias("toks"),
            F.size(toks).alias("sz"),
        ),
        "source",
    )
    a = d.alias("a")
    b = d.hint("merge").alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                inter.cast("double") / F.least(F.col("a.sz"), F.col("b.sz")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH d AS (
  SELECT doc_id, source, list_distinct(string_split(text,' ')) AS toks
  FROM documents
  QUALIFY COUNT(*) OVER (PARTITION BY source) <= {PAIR_BUCKET_CAP}
)
SELECT doc_a, doc_b, containment FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    round(CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / least(length(a.toks), length(b.toks)), 6) AS containment
  FROM d a JOIN d b
    ON a.source = b.source AND a.doc_id < b.doc_id
)
WHERE containment >= 0.8
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
def _lsh_candidate_pairs(
    documents: DataFrame, band_size: int, cap: int, observation=None
) -> DataFrame:
    """MinHash-LSH candidate pairs — the corpus-scale candidate
    generator shared by the minhash, containment and clusters paths.

    Plan shape (pinned in tests/test_plans.py): ONE document scan, ONE
    shuffle on band key, in-bucket pair expansion via nested explode —
    no self-join, no cartesian, no source-bucket cliff.
    Smaller band_size = higher recall at lower similarity (P(candidate)
    = 1-(1-J^band_size)^n_bands), at the cost of denser buckets; `cap`
    bounds the quadratic in-bucket expansion either way.

    Returns columns a/b structs with doc_id, toks, sz.
    """
    bands = _band_rows(documents, band_size)
    return _pairs_from_bands(
        bands,
        cap,
        observation
        if observation is not None
        else f"lsh_band_cap_b{band_size}_c{cap}",
    )


def _band_rows(documents: DataFrame, band_size: int) -> DataFrame:
    """(doc_id, toks, sz, setkey, band) rows — one per (doc, LSH band
    key). setkey is the hashed sorted token set (8 B): the sub-hub
    window's partition key, also stored at rest by the indexed delta
    (a formula change is a layout change of its `_v3` index).

    Band keys come from the STRING tokens (the salted-md5 minhash the
    oracles mirror); the carried verification payload `toks` is the
    per-token xxhash64 LONGS — same trick as _jaccard_pairs: the
    Jaccard of hashed sets equals the string sets' (a collision needs
    two distinct tokens of ONE pair to collide in 64 bits, ~V²/2^65),
    while the star path's duplicated-payload windows and the
    per-candidate intersects move 8-byte longs instead of re-hashed
    strings (measured 2× off dedup_clusters at 5M docs where the
    degenerate-banding corpus makes verification the dominant term)."""
    toks = F.array_distinct(_tokens())
    toksx = F.transform(toks, lambda t: F.xxhash64(t))
    return documents.select(
        "doc_id",
        toksx.alias("toks"),
        F.size(toks).alias("sz"),
        F.xxhash64(F.array_sort(toksx)).alias("setkey"),
        F.explode(_minhash_band_expr(_minhash_sig_expr(toks), band_size)).alias(
            "band"
        ),
    )


def _pairs_from_bands(bands: DataFrame, cap: int, observation) -> DataFrame:
    """In-bucket pair expansion over a _band_rows stream (doc_id, toks,
    sz, setkey, band) — split out of _lsh_candidate_pairs so the
    incremental pipeline can run it on a batch-affected SUBSET of the
    band stream.

    Buckets at or under `cap` expand to all C(bn,2) pairs. Over-cap
    buckets STAR-expand (r9, the skew-stress mitigation): every member
    pairs with the bucket's min-doc_id HUB — O(bn) pairs instead of
    O(bn²), so one boilerplate family of 10⁶ near-identical pages costs
    10⁶ verified pairs, not 5·10¹¹, and is still CAUGHT (previously the
    whole bucket was dropped — measured on the skewed 200k corpus: all
    20k family docs sailed through as `kept`; with the star they
    verify J=1.0 against the hub and collapse into one component).
    The known trade: two over-cap-bucket members similar to each other
    but NOT to the hub are missed — the standard bounded-LSH recall
    concession, far smaller than dropping the bucket.

    TWO-LEVEL star (r9): besides the bucket hub, every over-cap-bucket
    member ALSO pairs with the min-doc_id member of its identical-
    token-SET subgroup (partition key: the sorted token array). A
    subfamily whose members share a token set but are dissimilar to
    the bucket hub (two boilerplate templates colliding in one bucket)
    would otherwise verify J<threshold against the hub and escape;
    the sub-hub pairs verify at J=1.0 and stitch the subfamily into
    one component. Still O(bn) pairs per bucket (≤2 per member).

    The bucket stats come from _band_stats (one exchange, one sort;
    see there). Memory-safe by construction: over-cap buckets never
    reach collect_list. The star expansion is observable
    (`rows_star_capped`), same contract as _cap_buckets' drop metric."""
    sized = _band_stats(bands, cap, observation, ("toks", "sz"))
    capped = sized.filter((F.col("bn") >= 2) & (F.col("bn") <= cap))
    buckets = capped.groupBy("band").agg(
        F.collect_list(F.struct("doc_id", "toks", "sz")).alias("docs")
    )
    full = (
        buckets.select(F.explode("docs").alias("a"), F.col("docs"))
        .select("a", F.explode("docs").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    star = sized.filter(
        (F.col("bn") > cap) & (F.col("doc_id") != F.col("hub.doc_id"))
    ).select(
        F.col("hub").alias("a"),
        F.struct("doc_id", "toks", "sz").alias("b"),
    )
    star2 = sized.filter(
        (F.col("bn") > cap)
        & (F.col("doc_id") != F.col("subhub_id"))
        & (F.col("subhub_id") != F.col("hub.doc_id"))
    ).select(
        F.struct(
            F.col("subhub_id").alias("doc_id"), "toks", "sz"
        ).alias("a"),
        F.struct("doc_id", "toks", "sz").alias("b"),
    )
    return full.unionByName(star).unionByName(star2)


def _band_stats(rows: DataFrame, cap: int, observation, hub_payload) -> DataFrame:
    """The star windows over a (doc_id, band, setkey, ...) stream: per
    row, its bucket's size `bn`, the bucket `hub` (min-doc_id member as
    a struct of doc_id and the `hub_payload` columns) and the
    identical-set `subhub_id`; `observation` counts the rows of
    over-`cap` buckets. Shared by _pairs_from_bands and the indexed
    delta's narrow id/setkey stream.

    The sub-hub needs only its ID: within an identical-set subgroup the
    sub-hub's token SET equals every member's own, so a star2 pair uses
    the MEMBER's toks/sz for its a-side (same Jaccard/containment by
    construction) and the window carries one LONG per row instead of a
    second token-array copy — the width that OOMed the 24M-row
    degenerate band partition at 10M docs. setkey is the hashed sorted
    set (a 64-bit collision would merge two subgroups — the same
    negligible-collision acceptance as the token hashing).

    Plan shape: ONE exchange and ONE sort carry all three windows
    (pinned in tests/test_plans.py). hash(band) satisfies both window
    clusterings (band ⊆ (band, setkey)), the explicit (band, setkey)
    sort prefix-satisfies the band-partitioned windows, and the hub is
    min_by over the UNORDERED band window — identical to first_value
    ordered by doc_id (doc_id is unique within a band), so no
    (band, doc_id) sort is ever needed. The naive stack costs three
    successive sorts of the same partition per pass — on the
    degenerate mega-band (60% of docs in one bucket at 5M) each is a
    single-threaded multi-million-row sort, measured ~2× off the
    clusters wall at 5M docs."""
    from pyspark.sql import Window

    wb = Window.partitionBy("band")
    wso = Window.partitionBy("band", "setkey")
    return (
        rows.repartition("band")
        .sortWithinPartitions("band", "setkey")
        .withColumn("subhub_id", F.min("doc_id").over(wso))
        .withColumn("bn", F.count(F.lit(1)).over(wb))
        .withColumn(
            "hub",
            F.min_by(F.struct("doc_id", *hub_payload), "doc_id").over(wb),
        )
        .observe(
            observation,
            F.sum(F.when(F.col("bn") > cap, 1).otherwise(0)).alias(
                "rows_star_capped"
            ),
            F.count(F.lit(1)).alias("rows_total"),
        )
    )


def _lsh_sig_band_ctes(
    band_size: int, where: str = "", sig_cols: bool = False
) -> str:
    """DuckDB twin of _band_rows: CTEs `docs`, `sigs` (the salted-md5
    signature h0..h7, mirroring _minhash_sig_expr) and `all_bands`
    (doc_id, toks, band — plus h0..h7 when `sig_cols`). `where`: optional
    SQL filter on the documents scan."""
    sig_exprs = ", ".join(
        "list_min(list_transform(toks, t -> substr(md5(t || '#{s}'), {p}, 8))) "
        "AS h{i}".format(s=i // 4, p=1 + 8 * (i % 4), i=i)
        for i in range(N_HASHES)
    )
    band_exprs = ", ".join(
        "'{0}' || '|' || {1}".format(
            bi,
            " || '|' || ".join(f"h{bi * band_size + j}" for j in range(band_size)),
        )
        for bi in range(N_HASHES // band_size)
    )
    hs = "".join(f"h{i}, " for i in range(N_HASHES)) if sig_cols else ""
    return f"""
docs AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents {where}
), sigs AS (
  SELECT doc_id, toks, {sig_exprs} FROM docs
), all_bands AS (
  SELECT doc_id, toks, {hs}unnest([{band_exprs}]) AS band FROM sigs
)"""


def _lsh_band_sql(band_size: int, cap: int, where: str = "") -> str:
    """DuckDB twin of _lsh_candidate_pairs: CTEs ending in `cand`
    (a_id, a_toks, b_id, b_toks) — full expansion for ≤cap buckets,
    min-doc_id-hub STAR expansion for over-cap buckets, mirroring
    _pairs_from_bands exactly. `where`: optional SQL filter on the
    documents scan (the pipeline restricts clustering to the train
    split)."""
    return f"""{_lsh_sig_band_ctes(band_size, where)}, sized AS (
  SELECT doc_id, toks, band,
    COUNT(*) OVER (PARTITION BY band) AS bn,
    MIN(doc_id) OVER (PARTITION BY band) AS hub_id,
    first_value(toks) OVER (PARTITION BY band ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS hub_toks,
    MIN(doc_id) OVER (PARTITION BY band, list_sort(toks)) AS sub_hub_id
  FROM all_bands
), bands AS (
  SELECT doc_id, toks, band FROM sized WHERE bn >= 2 AND bn <= {cap}
), cand AS (
  SELECT a.doc_id AS a_id, a.toks AS a_toks, b.doc_id AS b_id, b.toks AS b_toks
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
  UNION ALL
  SELECT hub_id, hub_toks, doc_id, toks FROM sized
  WHERE bn > {cap} AND doc_id <> hub_id
  UNION ALL
  SELECT sub_hub_id, toks, doc_id, toks FROM sized
  WHERE bn > {cap} AND doc_id <> sub_hub_id AND sub_hub_id <> hub_id
)"""


CONTAIN_BAND_SIZE = 1  # single-hash bands: P(candidate) = 1-(1-J)^8
CONTAIN_CAP = 200  # denser buckets than band_size=4 — higher cap, still bounded


def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup at corpus scale: MinHash-LSH candidate
    generation + exact containment verification of candidates only.

    This is the scale path the source-bucketed `dedup_containment`
    lacks (r3 verdict): no PAIR_BUCKET_CAP coverage cliff, no reliance
    on a `source` join key. Single-hash bands (band_size=1) keep recall
    for the asymmetric pairs containment targets — a small doc A inside
    a large doc B has J = |A|/|B|, so a band of k hashes colliding with
    probability J^k would miss it; with k=1 each of the 8 signature
    rows independently collides with probability J
    (P = 1-(1-J)^8: J=0.2 → 0.83).

    Plan shape (pinned): one corpus scan, one band-key shuffle,
    in-bucket pair expansion — never a self-join on a bucket column.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    pairs = _lsh_candidate_pairs(documents, CONTAIN_BAND_SIZE, CONTAIN_CAP)
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                inter.cast("double") / F.least(F.col("a.sz"), F.col("b.sz")), 6
            ).alias("containment"),
        )
        .distinct()
        .filter(F.col("containment") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_CONTAINMENT_LSH_SQL = f"""
WITH {_lsh_band_sql(CONTAIN_BAND_SIZE, CONTAIN_CAP)}
SELECT DISTINCT a_id AS doc_a, b_id AS doc_b,
  round(CAST(length(list_intersect(a_toks, b_toks)) AS DOUBLE)
        / least(length(a_toks), length(b_toks)), 6) AS containment
FROM cand
WHERE round(CAST(length(list_intersect(a_toks, b_toks)) AS DOUBLE)
      / least(length(a_toks), length(b_toks)), 6) >= 0.8
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the Jaccard pair
    graph, then canonical-doc election (min doc_id per component).

    Pairs alone don't dedup a corpus — A~B and B~C must collapse to one
    cluster even when A,C are below the threshold. This runs iterative
    hash-min label propagation (each round: push every node's current
    min-label across its edges, keep the min), which converges in
    O(graph diameter) rounds; large-star/small-star is the published
    refinement for adversarial diameters, same per-round shuffle shape.

    Edges come from the MinHash-LSH candidate generator verified at
    exact Jaccard ≥ 0.6 (r3 verdict fix — the previous source-bucketed
    exact-Jaccard SMJ pass was 5.6s of the 5.8s query and carried the
    PAIR_BUCKET_CAP coverage cliff; LSH candidates are one corpus scan
    + one band shuffle and need no bucket column). band_size=2 keeps
    recall at the 0.6 threshold (P(candidate) = 1-(1-J²)⁴ = 0.83 at
    J=0.6, →1 as J→1); the oracle mirrors the banding exactly.

    Scale notes (100 TB): each round is one shuffle keyed on node id;
    `localCheckpoint` truncates the lineage so round N doesn't replay
    rounds 1..N-1 (the standard Spark iterative-algorithm pattern). The
    edge list is checkpointed once — the expensive pair generation
    never re-runs. Fault-tolerance tradeoff: localCheckpoint blocks are
    unreplicated executor state; a long-running production run should
    persist(MEMORY_AND_DISK_2) or use a reliable checkpoint dir.
    """
    from pyspark.sql import Window

    (documents,) = tables(spark, sf_dir, "documents")
    labels = _cluster_labels(documents)

    # cluster_size per ROW via one label-keyed window instead of
    # groupBy(label)+join-back (r10, guide §2.4 — the same rewrite as
    # sim_knn_clusters'): the join consumed the materialized labels
    # frame twice and attached a cluster-count-sized frame (unbounded
    # at corpus scale) through a second join; the window computes the
    # count on the single label exchange.
    size_w = F.count(F.lit(1)).over(Window.partitionBy("label"))
    return (
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            size_w.cast("bigint").alias("cluster_size"),
            (F.col("node") == F.col("label")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


def _cluster_labels(documents: DataFrame) -> DataFrame:
    """Connected-component labels (node, label=min doc_id reachable)
    over the LSH-candidate Jaccard >= 0.6 pair graph — the clustering
    core shared by dedup_clusters and dedup_representative (see
    dedup_clusters' docstring for the algorithm and scale notes)."""
    cand = _lsh_candidate_pairs(documents, CLUSTER_BAND_SIZE, CLUSTER_CAP)
    pairs = _verified_jaccard(cand, 0.6).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst")
    return cc_labels(edges)


# Below this many (symmetric) edges the distributed rounds are pure
# scheduling floor: a 6k-edge mutual-kNN graph at sf0.1 spends ~15
# rounds × ~0.3 s of per-job overhead moving KBs. Same gate philosophy
# as operators/rank.py: collect the bounded edge list (≤ ~3 MB) and
# run a local union-find, bit-identical by construction.
CC_LOCAL_EDGE_GATE = 100_000


def cc_labels(
    edges: DataFrame,
    cc_spill_dir: str | None = None,
) -> DataFrame:
    """Connected-component labels (node, label = min reachable id)
    over a SYMMETRIC (src, dst) edge list — hash-min label propagation
    with pointer jumping, shared by the Jaccard cluster ops and the
    kNN-graph clustering (similarity_suite.sim_knn_clusters). See
    dedup_clusters' docstring for the algorithm and scale notes.

    Toy-scale gate: at or below CC_LOCAL_EDGE_GATE edges the edge list
    is collected (bounded: ≤ ~3 MB) and labeled by a driver-local
    union-find — identical output, none of the per-round job overhead
    that dominates small graphs. Above the gate the distributed rounds
    run unchanged; both paths are bit-parity-tested
    (tests/test_knn_join.py).

    cc_spill_dir: parent for the deep-graph parquet round state —
    created LAZILY (shallow graphs that converge before round 12 touch
    no disk) and REMOVED once the converged labels are materialized,
    so repeated invocations leave nothing behind. On a multi-node
    cluster point it at storage every executor can reach (the warehouse
    path or spark.local.dir is NOT shared); the default tempdir is
    correct only for local mode."""
    edges = edges.repartition("src").localCheckpoint()

    # count on the materialized blocks: one trivial job, no recompute
    if edges.count() <= CC_LOCAL_EDGE_GATE:
        return _cc_labels_local(edges)

    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    # Convergence check: hash-min labels are monotonically non-increasing,
    # so an unchanged SUM(label) over all nodes means a fixpoint. One
    # cheap aggregate over the just-checkpointed table per round — the
    # previous new-vs-old join doubled every round's shuffle work.
    # decimal(38,0) sum: no overflow at any node-id scale.
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]

    import shutil
    import tempfile

    spark = edges.sparkSession
    spill: str | None = None  # created lazily on the first deep round
    spill_paths: list[str] = []
    prev_sum = _label_sum(labels)
    try:
        for rnd in range(50):
            msgs = edges.join(labels, edges.src == labels.node).select(
                F.col("dst").alias("node"), "label"
            )
            # pointer jumping: each node also adopts its label's label —
            # hash-min alone needs O(diameter) rounds (a 100-doc chain is
            # 100 shuffles of the corpus-sized label table); adding the
            # label-of-label hop converges in O(log diameter) rounds. The
            # jump join is label-table-sized, tiny next to the edge join.
            jump = (
                labels.alias("x")
                .join(labels.alias("y"), F.col("x.label") == F.col("y.node"))
                .select(
                    F.col("x.node").alias("node"), F.col("y.label").alias("label")
                )
            )
            # PARQUET ping-pong spill — not localCheckpoint/checkpoint.
            # Measured on pyspark 4.1.2: chaining per-round Dataset
            # checkpoints (eager, lazy, AND reliable) fails to cut the
            # recomputation chain — per-round cost grows ~3× per round
            # (each of the three `labels` references re-derives the full
            # history), which wedged the driver at 100% CPU after ~18
            # rounds on the mutual-kNN graph while the few-round Jaccard
            # graphs never got deep enough to show it. Writing each
            # round's (node, label) table to one of two alternating
            # parquet paths and reading it back is structurally incapable
            # of retaining lineage and measured FLAT (~0.2 s/round at
            # 50k nodes). This is also the posture a 100 TB iterative job
            # wants anyway: durable round state on storage, not executor
            # memory (point the spill at a shared path via cc_spill_dir).
            new_labels = (
                labels.union(msgs)
                .union(jump)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            if rnd < 12:
                # early rounds ride localCheckpoint: measured flat through
                # ~round 16 and cheaper than a parquet round-trip — the
                # small-diameter Jaccard graphs (≤5 rounds) never spill
                labels = new_labels.localCheckpoint()
            else:
                if spill is None:
                    spill = tempfile.mkdtemp(prefix="cc_labels_", dir=cc_spill_dir)
                    spill_paths = [
                        os.path.join(spill, "a"),
                        os.path.join(spill, "b"),
                    ]
                path = spill_paths[rnd % 2]
                new_labels.write.mode("overwrite").parquet(path)
                labels = spark.read.parquet(path)
            cur_sum = _label_sum(labels)
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:  # pragma: no cover - 50 rounds covers any real diameter
            raise RuntimeError("connected components did not converge")
        if spill is not None:
            # re-home the converged labels off the spill files (one flat
            # localCheckpoint of a parquet read — no chain) so the tree
            # can be deleted before anyone consumes the result
            labels = labels.localCheckpoint()
        return labels
    finally:
        if spill is not None:
            shutil.rmtree(spill, ignore_errors=True)


def _cc_labels_local(edges: DataFrame) -> DataFrame:
    """Driver-local union-find twin of the distributed rounds: same
    (node, label = min reachable id) contract over a symmetric edge
    list that fits the CC_LOCAL_EDGE_GATE bound. Path-compressed
    union-find, then each root's component labeled by its min member
    id — identical to the hash-min fixpoint by definition."""
    rows = edges.collect()  # bounded by the gate: ≤ ~3 MB
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r.src, r.dst
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id root: label for free
    out = [(n, find(n)) for n in parent]
    # min-id union keeps every root the smallest id of its component,
    # so find(n) IS the min reachable id — the distributed contract
    spark = edges.sparkSession
    if out:
        # Arrow path (r9 optimization round): createDataFrame over a
        # plain Python list pickles one slice per core and spins up a
        # Python worker PER TASK to unpickle it — measured ~10 s of
        # executor time (32 x ~300 ms) per local-gate invocation for a
        # few thousand rows. A pandas frame rides ArrowConverters:
        # driver-side Arrow batches, JVM-only tasks, no Python workers.
        # (Falls back to the pickle path automatically in sessions
        # without spark.sql.execution.arrow.pyspark.enabled.)
        try:
            import pandas as pd

            return spark.createDataFrame(
                pd.DataFrame(out, columns=["node", "label"]),
                schema="node long, label long",
            )
        except ImportError:  # pragma: no cover - pandas ships with pyspark
            pass
    return spark.createDataFrame(out, schema="node long, label long")


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_lsh_band_sql(CLUSTER_BAND_SIZE, CLUSTER_CAP).lstrip()}, pairs AS (
  SELECT DISTINCT a_id AS doc_a, b_id AS doc_b
  FROM cand
  WHERE round(CAST(length(list_intersect(a_toks, b_toks)) AS DOUBLE)
        / length(list_distinct(a_toks || b_toks)), 6) >= 0.6
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node
)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM cc ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def dedup_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative SELECTION — the half of near-dup dedup
    that dedup_clusters leaves open: given the connected components,
    elect ONE survivor per cluster by a quality key (here: most tokens,
    ties to the lowest doc_id — the 'keep the longest variant'
    heuristic every production dedup pipeline applies) and report what
    each election dropped.

    Scale shape: the election is a single partial-aggregatable
    `max(struct(quality, -doc_id))` per cluster label — map-side
    combine does the heavy lifting, no window, no sort, no second
    shuffle beyond the groupBy on the label; the token count rides the
    same scan the clustering already makes. At 100 TB the quality key
    would be a model score column — same plan shape.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    labels = _cluster_labels(documents)
    n_tok = documents.select(
        "doc_id", F.size(_tokens()).cast("bigint").alias("n_tok")
    )
    scored = labels.join(n_tok, labels.node == n_tok.doc_id)
    return (
        scored.groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            # argmax with a deterministic tiebreak: highest n_tok wins,
            # equal n_tok -> LOWEST doc_id (negate inside the struct)
            F.max(F.struct(F.col("n_tok"), (-F.col("doc_id")).alias("ni"))).alias(
                "best"
            ),
        )
        .select(
            "cluster_id",
            (-F.col("best.ni")).cast("bigint").alias("rep_doc_id"),
            F.col("best.n_tok").alias("rep_n_tokens"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            (F.col("cluster_size") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


DEDUP_REPRESENTATIVE_SQL = f"""
WITH RECURSIVE {_lsh_band_sql(CLUSTER_BAND_SIZE, CLUSTER_CAP).lstrip()}, pairs AS (
  SELECT DISTINCT a_id AS doc_a, b_id AS doc_b
  FROM cand
  WHERE round(CAST(length(list_intersect(a_toks, b_toks)) AS DOUBLE)
        / length(list_distinct(a_toks || b_toks)), 6) >= 0.6
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node
), scored AS (
  SELECT cc.cluster_id, cc.doc_id,
         CAST(length(string_split(d.text, ' ')) AS BIGINT) AS n_tok
  FROM cc JOIN documents d ON d.doc_id = cc.doc_id
), sel AS (
  SELECT cluster_id, doc_id, n_tok,
    row_number() OVER (PARTITION BY cluster_id
                       ORDER BY n_tok DESC, doc_id ASC) AS rk,
    COUNT(*) OVER (PARTITION BY cluster_id) AS csz
  FROM scored
)
SELECT cluster_id, CAST(doc_id AS BIGINT) AS rep_doc_id,
       n_tok AS rep_n_tokens, CAST(csz AS BIGINT) AS cluster_size,
       CAST(csz - 1 AS BIGINT) AS n_dropped
FROM sel WHERE rk = 1 ORDER BY cluster_id
"""


# --------------------------------------------------------------------------
SHINGLE_N = 8  # tokens per decontamination shingle


def _shingled_docs(documents: DataFrame) -> DataFrame:
    """(doc_id, source, shingles array<long>) — each doc's 8-token
    shingle set as 64-bit hashes, shared by dedup_decontaminate and
    dedup_pipeline.

    Shingles are represented as 64-bit hashes from the start, and the
    hash is a rotate-XOR combine over PER-TOKEN xxhash64 values
    rather than xxhash64(array_join(slice(toks, i, 8))): the
    slice+string-join per shingle ran interpreted inside a
    higher-order lambda and was measured at 115 s per corpus pass at
    500k docs (~100M shingles); hashing each token ONCE (one cheap
    lambda per token) and combining 8 longs with shift/or/xor is a
    far cheaper lambda body with no string allocation. Position j
    contributes rotl(tok_hash, 8j+1), so permuted token orders hash
    differently; bitwise ops never overflow, so the expression is
    ANSI-safe (a multiply-based polynomial would throw
    ARITHMETIC_OVERFLOW under the driver's ANSI session). A false
    contamination hit needs a train/eval hash collision (~100M² /
    2^65 ≈ 3e-4 expected across the whole corpus) — negligible and
    deterministic; final counts are unchanged, so the string-keyed
    oracle still matches exactly. The downstream semi-join exchanges
    nothing anyway (broadcast), and fixed-width longs keep the
    broadcast small."""
    toks = _tokens()
    toksx = F.transform(toks, lambda t: F.xxhash64(t))

    def _rotl(col, r: int):
        if r == 0:
            return col
        return F.shiftleft(col, r).bitwiseOR(F.shiftrightunsigned(col, 64 - r))

    # Bind the token-hash array ONCE via a lambda scope (transform over
    # a single-element array is Spark's "let"): aliasing it as a column
    # in a preceding select gets undone by CollapseProject, which
    # inlines the full tokenize+hash subtree into every element_at
    # reference (measured: 38 copies in the optimized plan — each
    # shingle re-tokenized the whole document 8 times).
    def _shingles_of(tx):
        nx = F.size(tx)

        def _shingle_hash(i):
            out = _rotl(F.element_at(tx, i + 1), 1)
            for j in range(1, SHINGLE_N):
                out = out.bitwiseXOR(
                    _rotl(F.element_at(tx, i + 1 + j), (8 * j + 1) % 64)
                )
            return out

        return F.when(
            nx >= SHINGLE_N,
            F.transform(F.sequence(F.lit(0), nx - SHINGLE_N), _shingle_hash),
        ).otherwise(F.array().cast("array<long>"))

    shingle_hashes = F.element_at(F.transform(F.array(toksx), _shingles_of), 1)
    return documents.select("doc_id", "source", shingle_hashes.alias("shingles"))


def _contaminated_from_shingled(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, source) of train docs sharing ANY shingle with
    the eval split ('src0'). Eval shingles are broadcast into a
    left-semi hash join — the train shingle stream never crosses an
    exchange (map-only over the corpus, pinned in tests/test_plans.py)."""
    eval_shingles = (
        d.filter(F.col("source") == "src0")
        .select(F.explode("shingles").alias("shx"))
        .distinct()
    )
    return (
        d.filter(F.col("source") != "src0")
        .select("doc_id", "source", F.explode("shingles").alias("shx"))
        .join(F.broadcast(eval_shingles), "shx", "semi")
        .select("doc_id", "source")
        .distinct()
    )


def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training docs that share ANY
    8-token shingle with the held-out split (source 'src0' plays the
    eval set) — the benchmark-leakage scrub every pretraining corpus
    gets. Reports per-source contamination counts.

    Scale notes (100 TB): shingling is a map-side explode; the eval
    side (one held-out split's distinct shingles) is small by
    construction, so it is BROADCAST into a left-semi hash join — the
    train shingle stream never crosses an exchange, making the whole
    op map-only over the corpus (pinned in tests/test_plans.py). No
    pairwise comparison anywhere — cost is O(corpus shingles), not
    O(docs²)."""
    (documents,) = tables(spark, sf_dir, "documents")
    d = _shingled_docs(documents)
    train = d.filter(F.col("source") != "src0")
    contaminated = _contaminated_from_shingled(d)
    totals = train.groupBy("source").agg(F.count(F.lit(1)).alias("n_train"))
    hits = contaminated.groupBy("source").agg(F.count(F.lit(1)).alias("n_contaminated"))
    return (
        totals.join(hits, "source", "left")
        .select(
            "source",
            F.col("n_train").cast("bigint").alias("n_train"),
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_train"), 6
            ).alias("contamination_rate"),
        )
        .orderBy("source")
    )


DEDUP_DECONTAMINATE_SQL = f"""
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, source,
    CASE WHEN length(toks) >= {SHINGLE_N}
      THEN list_transform(generate_series(1, length(toks) - {SHINGLE_N - 1}),
                          i -> array_to_string(toks[i : i + {SHINGLE_N - 1}], ' '))
      ELSE [] END AS shingles
  FROM d
), eval_sh AS (
  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE source = 'src0'
), train AS (
  SELECT doc_id, source, shingles FROM sh WHERE source <> 'src0'
), contaminated AS (
  SELECT DISTINCT t.doc_id, t.source
  FROM (SELECT doc_id, source, unnest(shingles) AS s FROM train) t
  WHERE EXISTS (SELECT 1 FROM eval_sh e WHERE e.s = t.s)
)
SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_contaminated,
       round(COALESCE(c.n, 0) / CAST(COUNT(*) AS DOUBLE), 6) AS contamination_rate
FROM train t
LEFT JOIN (SELECT source, COUNT(*) AS n FROM contaminated GROUP BY source) c
  ON c.source = t.source
GROUP BY t.source, c.n ORDER BY t.source
"""


# --------------------------------------------------------------------------
def _minhash_sig_expr(toks):
    """Array of the 8 MinHash signature strings: sig_i = min over
    tokens of a 32-bit slice of md5(token ⊕ salt). The one salted-md5
    builder: band keys (_minhash_band_expr) and the estimator's
    signature (dedup_pr_eval) both read it, and every DuckDB oracle
    mirrors it (_lsh_sig_band_ctes).

    Why this shape (the 500k-doc sweep's lesson): one md5 yields 32
    hex chars = four independent 8-char (32-bit) slices, so the 8
    signature values need TWO md5 invocations per token, not eight —
    but expressing the signature as 8 separate `array_min(transform(
    toks, md5...))` columns evaluates md5 inside 8 interpreted lambda
    bodies anyway (HOF lambdas don't share subexpressions across
    columns). The two md5 arrays are therefore computed ONCE and bound
    through a single-element-array transform (Spark's "let" scope —
    an aliased column would be un-shared again by CollapseProject
    inlining, measured 38× on the decontaminate path); the 8 mins then
    run cheap substring lambdas over the bound arrays. Mins compare
    fixed-width hex strings: lexicographic == numeric order.
    """

    def salted_md5(salt: int):
        return lambda t: F.md5(F.concat(t, F.lit(f"#{salt}")).cast("binary"))

    md5s = F.array(
        F.transform(toks, salted_md5(0)),
        F.transform(toks, salted_md5(1)),
    )

    def sigs_of(ms):
        def sub_of(piece: int):
            return lambda h: F.substring(h, 1 + 8 * piece, 8)

        out = []
        for i in range(N_HASHES):
            salt, piece = divmod(i, 4)
            out.append(
                F.array_min(F.transform(F.element_at(ms, salt + 1), sub_of(piece)))
            )
        return F.array(*out)

    return F.element_at(F.transform(F.array(md5s), sigs_of), 1)


def _minhash_band_expr(sig, band_size: int):
    """Array of LSH band-key strings from a MinHash signature array
    (_minhash_sig_expr, or a column holding one): band key bi =
    "bi|sig_{bi*band_size}|...". The signature is bound once in the
    same let scope, so an inline signature expression is evaluated
    once per row, not once per band."""

    def bands_of(sg):
        return F.array(
            *[
                F.concat_ws(
                    "|",
                    F.lit(str(bi)),
                    *[
                        F.element_at(sg, bi * band_size + j + 1)
                        for j in range(band_size)
                    ],
                )
                for bi in range(N_HASHES // band_size)
            ]
        )

    return F.element_at(F.transform(F.array(sig), bands_of), 1)


def dedup_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality gate: over the band-generated candidate pairs,
    (a) candidate PRECISION at the 0.7 exact-Jaccard threshold and
    (b) the MinHash estimator's mean absolute error (matching-signature
    fraction vs exact Jaccard) — the recall/precision audit a dedup
    pipeline runs before trusting its banding parameters at 100 TB
    (the text twin of sim_recall_eval on the embedding side).

    Scale shape: the banding of _lsh_candidate_pairs (one scan, one
    band shuffle, in-bucket pair expansion under the cap) without its
    star branches, plus the 8-element signature array each doc carries;
    the band keys are cut from that same array, so md5 runs once per
    token. The eval summary is a 1-row aggregate.
    Over-cap buckets are DROPPED here (not star-expanded as in the
    dedup ops): this op calibrates the MinHash estimator over the
    banding's organic candidate distribution, and hub-star pairs are
    not banding candidates — including them would bias the error
    estimate toward whatever the hot bucket contains."""
    from pyspark.sql import Window

    (documents,) = tables(spark, sf_dir, "documents")
    toks = F.array_distinct(_tokens())
    bands = documents.select(
        "doc_id", toks.alias("toks"), _minhash_sig_expr(toks).alias("sig")
    ).select(
        "doc_id",
        "toks",
        "sig",
        F.explode(_minhash_band_expr(F.col("sig"), BAND_SIZE)).alias("band"),
    )
    capped = bands.withColumn(
        "bn", F.count(F.lit(1)).over(Window.partitionBy("band"))
    ).filter((F.col("bn") >= 2) & (F.col("bn") <= BUCKET_CAP))
    buckets = capped.groupBy("band").agg(
        F.collect_list(F.struct("doc_id", "toks", "sig")).alias("docs")
    )
    pairs = (
        buckets.select(F.explode("docs").alias("a"), F.col("docs"))
        .select("a", F.explode("docs").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    match = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    per = pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
        F.round(match.cast("double") / N_HASHES, 6).alias("est"),
    ).distinct()
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("jaccard") >= 0.7, 1).otherwise(0))
        .cast("bigint")
        .alias("n_true"),
        F.round(
            F.sum(F.when(F.col("jaccard") >= 0.7, 1).otherwise(0))
            / F.nullif(F.count(F.lit(1)), F.lit(0)),
            6,
        ).alias("precision_at_07"),
        F.round(F.avg(F.abs(F.col("est") - F.col("jaccard"))), 6).alias(
            "mean_abs_err"
        ),
    )


def _pr_eval_oracle() -> str:
    match_terms = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
    )
    return f"""
WITH {_lsh_sig_band_ctes(BAND_SIZE, sig_cols=True).lstrip()}, bands AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band) AS bn FROM all_bands
  ) WHERE bn >= 2 AND bn <= {BUCKET_CAP}
), per AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    round(CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / length(list_distinct(a.toks || b.toks)), 6) AS jaccard,
    round(({match_terms}) / CAST({N_HASHES} AS DOUBLE), 6) AS est
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
  CAST(SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
  round(SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END)
        / CAST(nullif(COUNT(*), 0) AS DOUBLE), 6) AS precision_at_07,
  round(AVG(ABS(est - jaccard)), 6) AS mean_abs_err
FROM per
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: signature → band keys → bucket join →
    exact-Jaccard verification of candidates only (the 100 TB path).
    Candidates, bucket cap and hub star: _lsh_candidate_pairs."""
    (documents,) = tables(spark, sf_dir, "documents")
    pairs = _lsh_candidate_pairs(
        documents, BAND_SIZE, BUCKET_CAP, "lsh_band_cap_minhash"
    )
    return _verified_jaccard(pairs, 0.7).orderBy("doc_a", "doc_b")


def _verified_jaccard(cand: DataFrame, threshold: float) -> DataFrame:
    """Distinct (doc_a, doc_b, jaccard) over candidate a/b structs,
    kept at exact Jaccard ≥ `threshold`. |A ∪ B| = |A| + |B| − |A ∩ B|
    from the carried sizes: one array traversal per pair, not two."""
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.col("a.sz") + F.col("b.sz") - inter
    return (
        cand.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .distinct()
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_oracle() -> str:
    return f"""
WITH {_lsh_band_sql(BAND_SIZE, BUCKET_CAP).lstrip()}
SELECT DISTINCT a_id AS doc_a, b_id AS doc_b,
  round(CAST(length(list_intersect(a_toks, b_toks)) AS DOUBLE)
        / length(list_distinct(a_toks || b_toks)), 6) AS jaccard
FROM cand
WHERE round(CAST(length(list_intersect(a_toks, b_toks)) AS DOUBLE)
      / length(list_distinct(a_toks || b_toks)), 6) >= 0.7
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
SIMHASH_BITS = 16


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-token md5-derived 32-bit hash; signed bit-vote sum
    per bit position → 16-bit signature; near-dups = hamming ≤ 3
    within source buckets.

    Signature computation is 100% JVM (r3 verdict fix — the previous
    Arrow UDF md5-hashed every token occurrence in Python, CPU-binding
    the corpus's full token stream at scale): explode tokens, hash each
    occurrence with codegen'd `md5`+`conv`, then a partial-aggregated
    groupBy(doc_id) computes the 16 bit-vote sums. The exchange carries
    ONE 16-long partial vote row per doc per task (map-side combine),
    not the token stream; zero Python evaluation nodes (pinned).
    """
    (documents,) = tables(spark, sf_dir, "documents")
    toks = F.array_distinct(_tokens())
    d0 = _cap_buckets(
        documents.select("doc_id", "source", toks.alias("toks")), "source"
    )
    # 32-bit token hash from md5 hex — bit-identical to the oracle's
    # CAST('0x' || substr(md5(t),1,8) AS BIGINT)
    th = F.conv(
        F.substring(F.md5(F.col("t").cast("binary")), 1, 8), 16, 10
    ).cast("long")
    votes = (
        d0.select("doc_id", "source", F.explode("toks").alias("t"))
        .select("doc_id", "source", th.alias("th"))
        .groupBy("doc_id", "source")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.col("th").bitwiseAND(F.lit(1 << j)) != F.lit(0), 1
                    ).otherwise(-1)
                ).alias(f"v{j}")
                for j in range(SIMHASH_BITS)
            ]
        )
    )
    sig = sum(
        (
            F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(SIMHASH_BITS)
        ),
        start=F.lit(0),
    ).cast("long")
    d = votes.select("doc_id", "source", sig.alias("simhash"))
    # Materialize the signature table ONCE (executor-local checkpoint):
    # a plain self-join would rerun the explode+aggregate on BOTH
    # shuffle sides. After the checkpoint both join sides scan the
    # materialized rows; the join stays a shuffled SMJ (never a
    # corpus-sized broadcast), so the shape is still 100 TB-safe.
    # Fault-tolerance tradeoff: localCheckpoint stores blocks on
    # executors WITHOUT replication and truncates lineage — an executor
    # loss fails the job. Right call for this minutes-long signature
    # table; a genuinely long-running 100 TB job should use
    # persist(StorageLevel.MEMORY_AND_DISK_2) or a reliable
    # checkpoint dir instead (same plan shape).
    d = d.localCheckpoint()
    a, b = d.alias("a"), d.hint("merge").alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )


def _simhash_oracle() -> str:
    votes = ", ".join(
        "list_aggregate(list_transform(toks, t -> CASE WHEN "
        "(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) & {m}) <> 0 "
        "THEN 1 ELSE -1 END), 'sum') AS v{j}".format(m=1 << j, j=j)
        for j in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH docs AS (
  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
  QUALIFY COUNT(*) OVER (PARTITION BY source) <= {PAIR_BUCKET_CAP}
), votes AS (
  SELECT doc_id, source, {votes} FROM docs
), sigs AS (
  SELECT doc_id, source, CAST({sim} AS BIGINT) AS simhash FROM votes
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine ≥ threshold within label buckets."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    # Materialize the decoded-vector table once: without this each
    # self-join side re-scans + re-decodes the embedding column (the
    # r2 regression doubled that work). One scan, then a shuffled SMJ
    # over the materialized rows — still no corpus-sized broadcast.
    e = e.localCheckpoint()
    a, b = e.alias("a"), e.hint("merge").alias("b")
    # Arrow-batched numpy cosine — see functions/vector.py. Marked
    # nondeterministic so predicate pushdown can't substitute the UDF
    # into the threshold filter: that duplication evaluated the cosine
    # TWICE per candidate pair (once for the filter, once for the
    # projection). One ArrowEvalPython node — pinned in test_plans.py.
    from ..functions.vector import cosine_similarity

    cos = cosine_similarity.asNondeterministic()(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
        .orderBy("vec_a", "vec_b")
    )


DEDUP_EMBEDDING_SQL = """
WITH vecs AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round(
    list_aggregate(list_transform(generate_series(1, length(a.v)),
                                  i -> a.v[i] * b.v[i]), 'sum')
    / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
       * sqrt(list_aggregate(list_transform(b.v, x -> x*x), 'sum'))), 6) AS cosine
FROM vecs a JOIN vecs b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(
        list_aggregate(list_transform(generate_series(1, length(a.v)),
                                      i -> a.v[i] * b.v[i]), 'sum')
        / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
           * sqrt(list_aggregate(list_transform(b.v, x -> x*x), 'sum'))), 6) >= 0.3
ORDER BY vec_a, vec_b
"""


INCR_SPLIT = 300  # doc_id < SPLIT = existing corpus, >= SPLIT = new batch


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a NEW batch deduped against the EXISTING
    corpus — the shape every production ingest runs (new crawl vs
    historical corpus), distinct from whole-corpus dedup. Semi-join on
    the content hash marks batch docs already present; reports
    per-source new/dup/kept counts.

    Scale notes (100 TB): the corpus side reduces to a distinct hash
    column before the join — the exchange carries 16-byte hashes, not
    documents; batch-sized side shuffles only its hashes too. With a
    bounded corpus hash set this becomes a broadcast; at full scale
    it's one hash-keyed shuffle, never a document-payload shuffle."""
    (documents,) = tables(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    corpus = (
        documents.filter(F.col("doc_id") < INCR_SPLIT).select(fp.alias("fp")).distinct()
    )
    new = documents.filter(F.col("doc_id") >= INCR_SPLIT).select(
        "source", fp.alias("fp")
    )
    flagged = new.join(
        corpus.withColumn("dup", F.lit(1)), "fp", "left"
    ).select("source", F.coalesce(F.col("dup"), F.lit(0)).alias("dup"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum("dup").cast("bigint").alias("n_dup"),
            (F.count(F.lit(1)) - F.sum("dup")).cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH corpus AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < {INCR_SPLIT}
), new AS (
  SELECT source, md5(text) AS fp FROM documents WHERE doc_id >= {INCR_SPLIT}
)
SELECT n.source, CAST(COUNT(*) AS BIGINT) AS n_new,
  CAST(SUM(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  CAST(COUNT(*) - SUM(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept
FROM new n LEFT JOIN corpus c ON c.fp = n.fp
GROUP BY n.source ORDER BY n.source
"""


# --------------------------------------------------------------------------
SEMANTIC_TAU = 0.3  # near-dup threshold on pair cosine
SEMANTIC_WINDOW = 8  # predecessors compared per doc within a cluster


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup removal: cluster the embedding
    space (shared seeded assignment), then inside each cluster compare
    every vector only against its SEMANTIC_WINDOW predecessors in
    centroid-similarity order, dropping pairs with cosine >= tau.
    Vectors near-identical to each other sit near-identically close to
    their centroid, so sorting by that one scalar lands near-dups
    adjacent — the sorted-neighborhood trick that turns the published
    SemDeDup's per-cluster O(m²) pairwise pass into O(m·W).

    Scale shape: assignment is one linear corpus pass (closure-held
    centroid kernel); then ONE shuffle repartitions by cluster, an
    in-partition sort orders (cluster, c_cos DESC, vec_id), and a
    rolling-window Arrow kernel (functions/vector.py:
    semantic_window_fn) emits at most one row per dropped doc. Each
    vector crosses the Arrow channel ONCE — the previous
    explode(collect_list)+pairwise-UDF shape duplicated it W+1 times
    (~41 GB at 5M docs, 35.9 s; kernel ~12 s) and re-collapsed the
    pair stream with a groupBy shuffle this shape never creates.
    Returns one row per dropped doc with its kept duplicate
    (best-cosine predecessor, tie → lowest id). At 100 TB: W and K
    are the recall/cost dials; candidate volume is exactly n·W."""
    from ..functions.vector import semantic_window_fn
    from .similarity_suite import seeded_assignment

    assigned, _ = seeded_assignment(spark, sf_dir)
    fn = semantic_window_fn(SEMANTIC_WINDOW, SEMANTIC_TAU)
    return (
        assigned.select("vec_id", "cluster", "c_cos", "v")
        .repartition("cluster")
        .sortWithinPartitions("cluster", F.col("c_cos").desc(), "vec_id")
        .mapInPandas(
            fn, "vec_id bigint, cluster bigint, dup_of bigint, cosine double"
        )
        .orderBy("vec_id")
    )


def _dedup_semantic_oracle() -> str:
    from .similarity_suite import _ASSIGNED_CTES

    return f"""
WITH {_ASSIGNED_CTES},
ranked AS (
  SELECT vec_id, cluster, v, c_cos,
    row_number() OVER (PARTITION BY cluster ORDER BY c_cos DESC, vec_id) AS rk
  FROM assigned
), pairs AS (
  SELECT a.vec_id, a.cluster, b.vec_id AS dup_of,
    round(
      list_aggregate(list_transform(generate_series(1, length(a.v)),
                                    i -> a.v[i] * b.v[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
         * sqrt(list_aggregate(list_transform(b.v, x -> x*x), 'sum'))), 6)
      AS cosine
  FROM ranked a JOIN ranked b
    ON a.cluster = b.cluster
   AND b.rk BETWEEN a.rk - {SEMANTIC_WINDOW} AND a.rk - 1
)
SELECT vec_id, cluster, dup_of, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY cosine DESC, dup_of) AS prk
  FROM pairs WHERE cosine >= {SEMANTIC_TAU}
) WHERE prk = 1
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus scrub — the query a production pretraining
    pipeline actually runs, composing the stages this suite ships
    individually, in their production order, into ONE per-document
    disposition ledger:

      1. eval split held out (source 'src0' — the decontamination
         reference set, never trained on)
      2. exact dedup over the train split: md5 content groups keep
         their min doc_id (dedup_exact's fingerprint)
      3. near-dup over the surviving shape: MinHash-LSH bands →
         verified Jaccard pairs → connected components → longest-doc
         representative election (dedup_clusters + _representative)
      4. decontamination: train docs sharing any 8-token shingle with
         the eval split (dedup_decontaminate's broadcast semi-join)

    One row per input document: status ∈ {eval_split, exact_dup,
    near_dup, contaminated, kept} (first matching stage wins) and, for
    the two dedup drops, the doc that SUPERSEDES it — one step, not
    the final survivor: an exact-dup's keeper shares its text, so it
    lands in the same Jaccard cluster and may itself be dropped as a
    near_dup (whose rep may in turn be contaminated). Chains are
    acyclic and terminate in ≤2 hops at a non-dup status
    (property-tested); a consumer wanting final survivors follows
    them — keeping the per-stage step is deliberate, it IS the audit
    trail. The kept rows are the surviving corpus; everything else is
    the drop ledger with its reason — exactly the reconciliation
    artifact a data-governance review asks for.

    Scale shape: three independent linear passes over the documents
    scan (exact groupBy on a fixed-width hash; the LSH/CC machinery of
    dedup_clusters; the map-only shingle semi-join), joined back on
    doc_id. Catalyst does NOT fuse the three tokenizations into one
    scan — deliberate: at 100 TB re-scanning columnar parquet three
    times beats caching a corpus-sized tokenized intermediate, and
    each pass prunes to just (doc_id, source, text). The ledger joins
    are doc_id-keyed (the exact/near/contaminated sides are each ≤
    corpus-sized, shuffle-partitioned on the same key)."""
    return _pipeline_ledger(spark, sf_dir).orderBy("doc_id")


def _pipeline_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_pipeline's ledger WITHOUT the final presentation sort —
    the form consumers that re-shuffle it anyway (dedup_pipeline_resolve's
    self-joins) persist, so they never materialize a throwaway global
    sort (r9 optimization round, guide §2.4: an orderBy used only to
    make output deterministic is not an intermediate)."""
    from pyspark.sql import Window

    (documents,) = tables(spark, sf_dir, "documents")
    train_docs = documents.filter(F.col("source") != "src0")
    base = documents.select("doc_id", "source")

    # stage 2: exact content groups over the train split. The keeper
    # (min doc_id of the md5 group) is attached per-DOC with ONE window
    # over the fp exchange (r9 optimization round, guide §2.4): the
    # previous groupBy(fp)+join-back referenced the hashed subtree
    # twice, so the plan scanned documents and ran the full-corpus md5
    # TWICE, then paid a second fp-keyed shuffle (or a corpus-sized
    # broadcast build) for the join — md5 groups are mostly unique, so
    # partial aggregation cannot shrink that shuffle at any scale. The
    # fp-not-null filter replicates the inner join's NULL-key drop
    # bit-for-bit (md5(NULL text) rows never matched themselves).
    fp = F.md5(F.col("text").cast("binary"))
    exact = (
        train_docs.select("doc_id", fp.alias("fp"))
        .filter(F.col("fp").isNotNull())
        .select(
            "doc_id",
            F.min("doc_id").over(Window.partitionBy("fp")).alias("keeper"),
        )
    )

    # stage 3: near-dup clusters + representative election (train only)
    labels = _cluster_labels(train_docs)
    n_tok = train_docs.select(
        "doc_id", F.size(_tokens()).cast("bigint").alias("n_tok")
    )
    # The representative (argmax of (n_tok, -doc_id) per cluster) is
    # attached per-DOC with one window over the label exchange instead
    # of groupBy(label)+join-back (r9 optimization round, guide §2.4):
    # the join re-shuffled the corpus-sized labels frame by label a
    # second time just to re-attach a value already computable on the
    # first label exchange. dedup_representative keeps the pure groupBy
    # — its output is per-CLUSTER, so partial aggregation is the right
    # shape there; here the output is per-doc.
    scored = labels.join(n_tok, labels.node == n_tok.doc_id)
    best = F.max(
        F.struct(F.col("n_tok"), (-F.col("doc_id")).alias("ni"))
    ).over(Window.partitionBy("label"))
    near = scored.select(
        F.col("node").alias("doc_id"),
        (-best["ni"]).cast("bigint").alias("rep"),
    )

    # stage 4: eval-set contamination (shared shingle machinery)
    contaminated = _contaminated_from_shingled(
        _shingled_docs(documents)
    ).select("doc_id", F.lit(True).alias("is_cont"))

    led = (
        base.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
    )
    is_exact_dup = F.col("keeper").isNotNull() & (
        F.col("keeper") != F.col("doc_id")
    )
    is_near_dup = F.col("rep").isNotNull() & (F.col("rep") != F.col("doc_id"))
    status = (
        F.when(F.col("source") == "src0", F.lit("eval_split"))
        .when(is_exact_dup, F.lit("exact_dup"))
        .when(is_near_dup, F.lit("near_dup"))
        .when(F.col("is_cont"), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    replacement = (
        F.when(F.col("source") == "src0", F.lit(None))
        .when(is_exact_dup, F.col("keeper"))
        .when(is_near_dup, F.col("rep"))
        .cast("bigint")
    )
    return led.select(
        "doc_id",
        "source",
        status.alias("status"),
        replacement.alias("replacement"),
    )


def dedup_pipeline_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FINAL-SURVIVOR resolution of the dedup_pipeline ledger — the
    consumer step the ledger's docstring defers ("a consumer wanting
    final survivors follows the chains"): every doc's one-step
    replacement chain chased to its terminal doc. The ledger's chains
    are acyclic and terminate in ≤2 hops at a non-dup status
    (property-tested on the pipeline), so resolution is exactly two
    LEFT self-joins — no iteration. Output per doc: the original
    status, the terminal doc (itself when not a dup), the terminal
    doc's status (kept / contaminated / eval_split — a consumer learns
    not just WHO replaces a drop but whether that replacement is
    itself usable), and the hop count.

    Scale shape: the ledger is computed once and persisted
    (MEMORY_AND_DISK — it is 4 slim columns per doc, the artifact a
    production run writes to a table anyway; without the persist each
    self-join reference re-derives the whole pipeline), then two
    doc_id-keyed equi-joins on the dup subset's replacement ids. The
    persisted form is the UNSORTED ledger (r9 optimization round): the
    pipeline's own orderBy(doc_id) is presentation-only, and both
    self-joins re-shuffle by replacement ids anyway, so materializing
    the range-exchange + global sort into the cache was pure waste
    (guide §2.4); this op's own output sort is unchanged."""
    from pyspark import StorageLevel

    led = _pipeline_ledger(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    slim = led.select("doc_id", "status", "replacement")
    l1 = slim.select(
        F.col("doc_id").alias("r1_id"),
        F.col("status").alias("s1"),
        F.col("replacement").alias("p1"),
    )
    l2 = slim.select(
        F.col("doc_id").alias("r2_id"), F.col("status").alias("s2")
    )
    dup = F.col("status").isin("exact_dup", "near_dup")
    hop1_dup = F.col("s1").isin("exact_dup", "near_dup")
    j = led.join(l1, led.replacement == F.col("r1_id"), "left").join(
        l2, F.col("p1") == F.col("r2_id"), "left"
    )
    final_doc = (
        F.when(~dup, F.col("doc_id"))
        .when(~hop1_dup, F.col("replacement"))
        .otherwise(F.col("p1"))
    )
    final_status = (
        F.when(~dup, F.col("status"))
        .when(~hop1_dup, F.col("s1"))
        .otherwise(F.col("s2"))
    )
    hops = F.when(~dup, 0).when(~hop1_dup, 1).otherwise(2)
    return j.select(
        "doc_id",
        "source",
        "status",
        final_doc.cast("bigint").alias("final_doc"),
        final_status.alias("final_status"),
        hops.cast("bigint").alias("hops"),
    ).orderBy("doc_id")


_PIPELINE_CTES = f"""{_lsh_band_sql(CLUSTER_BAND_SIZE, CLUSTER_CAP, "WHERE source <> 'src0'").lstrip()}, pairs AS (
  SELECT DISTINCT a_id AS doc_a, b_id AS doc_b
  FROM cand
  WHERE round(CAST(length(list_intersect(a_toks, b_toks)) AS DOUBLE)
        / length(list_distinct(a_toks || b_toks)), 6) >= 0.6
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node
), cc_scored AS (
  SELECT cc.cluster_id, cc.doc_id,
         CAST(length(string_split(d.text, ' ')) AS BIGINT) AS n_tok
  FROM cc JOIN documents d ON d.doc_id = cc.doc_id
), reps AS (
  SELECT cluster_id, doc_id AS rep FROM (
    SELECT cluster_id, doc_id,
      row_number() OVER (PARTITION BY cluster_id
                         ORDER BY n_tok DESC, doc_id ASC) AS rk
    FROM cc_scored
  ) WHERE rk = 1
), near AS (
  SELECT cc.doc_id, r.rep FROM cc JOIN reps r ON r.cluster_id = cc.cluster_id
), keepers AS (
  SELECT md5(text) AS fp, MIN(doc_id) AS keeper
  FROM documents WHERE source <> 'src0' GROUP BY md5(text)
), exact AS (
  SELECT d.doc_id, k.keeper FROM documents d
  JOIN keepers k ON k.fp = md5(d.text)
  WHERE d.source <> 'src0'
), sh_docs AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, source,
    CASE WHEN length(toks) >= {SHINGLE_N}
      THEN list_transform(generate_series(1, length(toks) - {SHINGLE_N - 1}),
                          i -> array_to_string(toks[i : i + {SHINGLE_N - 1}], ' '))
      ELSE [] END AS shingles
  FROM sh_docs
), eval_sh AS (
  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE source = 'src0'
), contaminated AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE source <> 'src0') t
  WHERE EXISTS (SELECT 1 FROM eval_sh e WHERE e.s = t.s)
)"""

_PIPELINE_LEDGER_SELECT = """
SELECT d.doc_id, d.source,
  CASE WHEN d.source = 'src0' THEN 'eval_split'
       WHEN e.keeper IS NOT NULL AND e.keeper <> d.doc_id THEN 'exact_dup'
       WHEN n.rep IS NOT NULL AND n.rep <> d.doc_id THEN 'near_dup'
       WHEN c.doc_id IS NOT NULL THEN 'contaminated'
       ELSE 'kept' END AS status,
  CAST(CASE WHEN d.source = 'src0' THEN NULL
       WHEN e.keeper IS NOT NULL AND e.keeper <> d.doc_id THEN e.keeper
       WHEN n.rep IS NOT NULL AND n.rep <> d.doc_id THEN n.rep
       END AS BIGINT) AS replacement
FROM documents d
LEFT JOIN exact e ON e.doc_id = d.doc_id
LEFT JOIN near n ON n.doc_id = d.doc_id
LEFT JOIN contaminated c ON c.doc_id = d.doc_id"""

DEDUP_PIPELINE_SQL = f"""
WITH RECURSIVE {_PIPELINE_CTES}
{_PIPELINE_LEDGER_SELECT}
ORDER BY d.doc_id
"""

DEDUP_PIPELINE_RESOLVE_SQL = f"""
WITH RECURSIVE {_PIPELINE_CTES}, ledger AS (
  {_PIPELINE_LEDGER_SELECT}
)
SELECT l.doc_id, l.source, l.status,
  CAST(CASE
    WHEN l.status NOT IN ('exact_dup', 'near_dup') THEN l.doc_id
    WHEN r1.status NOT IN ('exact_dup', 'near_dup') THEN l.replacement
    ELSE r1.replacement END AS BIGINT) AS final_doc,
  CASE
    WHEN l.status NOT IN ('exact_dup', 'near_dup') THEN l.status
    WHEN r1.status NOT IN ('exact_dup', 'near_dup') THEN r1.status
    ELSE r2.status END AS final_status,
  CAST(CASE
    WHEN l.status NOT IN ('exact_dup', 'near_dup') THEN 0
    WHEN r1.status NOT IN ('exact_dup', 'near_dup') THEN 1
    ELSE 2 END AS BIGINT) AS hops
FROM ledger l
LEFT JOIN ledger r1 ON r1.doc_id = l.replacement
LEFT JOIN ledger r2 ON r2.doc_id = r1.replacement
ORDER BY l.doc_id
"""


# --------------------------------------------------------------------------
PIPE_DELTA_SPLIT = 0.9  # first 90% of doc_ids = scrubbed corpus, rest = batch


def dedup_pipeline_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus scrub — dedup_pipeline run the way production
    actually runs it: per LANDING BATCH, not per corpus rebuild. The
    last 10% of doc_ids play the incoming batch; every batch doc gets a
    disposition against the EXISTING corpus + the batch itself, and the
    existing corpus's ledger is never recomputed. Output: one row per
    BATCH doc with the same status vocabulary as dedup_pipeline
    (eval_split / exact_dup / near_dup / contaminated / kept) and the
    superseding doc for the two dup drops.

    Dedup rule (dedup_incremental's keep-old-ids): a batch doc's
    replacement is the MINIMUM doc_id among its exact-hash group /
    verified-Jaccard partners — existing ids are smaller than batch ids
    by construction, so an existing match always wins, and in-batch
    groups keep their own min id. (The full rebuild elects the
    LONGEST-doc representative per CC cluster; incrementally re-electing
    reps would re-assign docs the existing ledger already disposed —
    keep-old-ids is precisely the rule that never touches old rows.)
    Replacement chains are strictly decreasing in doc_id, hence acyclic
    and terminating (property-tested).

    Scale shape — what the batch pays vs the rebuild:
      * exact: batch hashes (tiny, distinct) BROADCAST into a semi-join
        against the existing hash stream — the corpus side is a pruned
        map-only pass (doc_id, md5), never shuffled; the keeper groupBy
        runs on batch-size + matched rows only.
      * near-dup: the batch's band keys (≤ |batch|·n_bands, tiny)
        broadcast-semi-join the corpus band stream, so only AFFECTED
        band buckets reach pair expansion (the sim_knn_graph_delta
        pattern); pairs are generated only where one side is a batch
        doc. No CC: keep-old-ids needs only each batch doc's min
        verified partner (one batch-keyed aggregate).
      * decontamination: the batch's shingles alone cross the semi-join
        (eval shingles broadcast as in dedup_decontaminate).
    The stateless form re-derives corpus hashes/bands per call so DuckDB
    can replay it exactly (the sim_knn_graph_delta convention); a
    production deployment stores the corpus hash/band tables at rest
    (iceberg_lite's layout, cf. sim_knn_graph_delta_indexed) and pays
    only the batch + affected buckets (that deployment is
    dedup_pipeline_delta_indexed, sharing this op's oracle). Measured
    batch-vs-rebuild ratio: data/exp_pipeline_delta_r9.json — at the
    10% split the stateless form ≈ the rebuild (the corpus map passes
    are its floor, the same assignment-floor the stateless kNN delta
    measured in r8); the indexed form is where the win lives."""
    return _pipeline_delta(spark, sf_dir, PIPE_DELTA_SPLIT)


def _pipeline_delta(spark: SparkSession, sf_dir: str, split: float) -> DataFrame:
    from ..sources.registry import table_rows

    (documents,) = tables(spark, sf_dir, "documents")
    n_total = table_rows(sf_dir, "documents") or documents.count()
    t = int(split * n_total)
    batch = documents.filter(F.col("doc_id") >= t)

    # stage 2: exact content groups — batch hashes vs existing + batch
    fp = F.md5(F.col("text").cast("binary"))
    bh = batch.filter(F.col("source") != "src0").select("doc_id", fp.alias("fp"))
    batch_fps = bh.select("fp").distinct()
    eh = (
        documents.filter((F.col("doc_id") < t) & (F.col("source") != "src0"))
        .select("doc_id", fp.alias("fp"))
        .join(F.broadcast(batch_fps), "fp", "semi")
    )
    keepers = (
        bh.unionByName(eh).groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    )
    exact = bh.join(keepers, "fp").select("doc_id", "keeper")

    # stage 3: near-dup — affected band buckets only, batch-touching pairs
    train_docs = documents.filter(F.col("source") != "src0")
    bands_all = _band_rows(train_docs, CLUSTER_BAND_SIZE)
    batch_bands = (
        bands_all.filter(F.col("doc_id") >= t).select("band").distinct()
    )
    bands = bands_all.join(F.broadcast(batch_bands), "band", "semi")
    cand = _pairs_from_bands(bands, CLUSTER_CAP, "pipeline_delta_band_cap")
    vpairs = _verified_jaccard(cand.filter(F.col("b.doc_id") >= t), 0.6)
    near = (
        vpairs.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("partner"))
        .groupBy("doc_id")
        .agg(F.min("partner").alias("rep"))
    )

    # stage 4: decontamination — batch shingles vs the full eval split
    sh = _shingled_docs(
        documents.filter((F.col("source") == "src0") | (F.col("doc_id") >= t))
    )
    contaminated = _contaminated_from_shingled(sh).select(
        "doc_id", F.lit(True).alias("is_cont")
    )

    return _delta_ledger(batch, exact, near, contaminated)


def _delta_ledger(
    batch: DataFrame,
    exact: DataFrame,
    near: DataFrame,
    contaminated: DataFrame,
) -> DataFrame:
    """Shared ledger assembly for the stateless and indexed delta forms
    — the stage-frame → disposition-row step both produce verbatim
    (exact: (doc_id, keeper), near: (doc_id, rep), contaminated:
    (doc_id, is_cont))."""
    led = (
        batch.select("doc_id", "source")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
    )
    is_exact_dup = F.col("keeper").isNotNull() & (
        F.col("keeper") != F.col("doc_id")
    )
    is_near_dup = F.col("rep").isNotNull()  # rep < doc_id by construction
    status = (
        F.when(F.col("source") == "src0", F.lit("eval_split"))
        .when(is_exact_dup, F.lit("exact_dup"))
        .when(is_near_dup, F.lit("near_dup"))
        .when(F.col("is_cont"), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    replacement = (
        F.when(F.col("source") == "src0", F.lit(None))
        .when(is_exact_dup, F.col("keeper"))
        .when(is_near_dup, F.col("rep"))
        .cast("bigint")
    )
    return led.select(
        "doc_id",
        "source",
        status.alias("status"),
        replacement.alias("replacement"),
    ).orderBy("doc_id")


PIPE_IDX_MAX_BUCKETS = 1024


def _pipe_idx_buckets(t: int) -> int:
    """Directory-partition count for the stored probe tables (hashes,
    bands) — scale-aware so large corpora get fine-grained static
    pruning (a 100-doc batch at 5M docs probes ~100 of ~900 hash-bucket
    directories instead of scanning the whole stored table) while
    test-sized corpora don't pay thousands of tiny files. Derived from
    t alone, so the build and every later probe agree without storing
    layout metadata (a formula change is a layout change — bump the
    version tag in _pipeline_delta_index_dir's store kind with it)."""
    return max(16, min(PIPE_IDX_MAX_BUCKETS, t // 5000))


def _pipeline_delta_index_dir(
    spark: SparkSession, sf_dir: str, t: int, index_dir: str | None = None
) -> str:
    """Build-once stored state for the INDEXED incremental scrub — the
    three per-doc derivations the stateless delta recomputes every
    batch, written at rest:

      hashes/         (doc_id, fp)        16 B/doc — the exact stage;
                                          directory-partitioned by
                                          pb = pmod(xxhash64(fp), B)
      bands/          (doc_id, band, sz)  the LSH index WITHOUT token
                                          arrays (storing a tokenized
                                          corpus is the thing the
                                          pipeline's no-fusion argument
                                          rejects; partner tokens are
                                          re-derived at batch time for
                                          AFFECTED docs only);
                                          directory-partitioned by
                                          bb = pmod(xxhash64(band), B)
      eval_shingles/  (shx)               the decontamination reference
                                          (NOT partitioned: a 100-doc
                                          batch already carries ~6k
                                          distinct shingles, so any
                                          practical bucket count is
                                          fully touched; the table is
                                          slim 8 B keys and its probe
                                          is a map-only semi)

    The key-bucket partitioning (B = _pipe_idx_buckets(t)) is what
    makes probes batch-proportional: the batch's bucket set is tiny and
    known before the read, so the stored-table scans prune at the
    DIRECTORY listing (static PartitionFilters — the
    sim_knn_graph_delta_indexed posture applied to the scrub's stores).

    index_dir: parent directory for the stored index (the `root` of
    materialize.at_rest); the default tempdir is local-mode-only."""

    def build(path: str) -> None:
        (documents,) = tables(spark, sf_dir, "documents")
        existing_train = documents.filter(
            (F.col("doc_id") < t) & (F.col("source") != "src0")
        )
        nb = _pipe_idx_buckets(t)
        fp = F.md5(F.col("text").cast("binary"))
        # repartition ON the bucket column before partitionBy so each
        # task writes a handful of directories, not B files apiece
        existing_train.select("doc_id", fp.alias("fp")).withColumn(
            "pb", F.pmod(F.xxhash64("fp"), F.lit(nb))
        ).repartition("pb").write.partitionBy("pb").parquet(
            os.path.join(path, "hashes")
        )
        # setkey at rest (the hashed sorted token set, 8 B) lets the
        # probe run the star windows (size, hub, sub-hub) over an
        # id-only stream — existing members' token ARRAYS are fetched
        # only for docs that can appear in a batch-sided pair
        _band_rows(existing_train, CLUSTER_BAND_SIZE).select(
            "doc_id", "band", "sz", "setkey"
        ).withColumn(
            "bb", F.pmod(F.xxhash64("band"), F.lit(nb))
        ).repartition("bb").write.partitionBy("bb").parquet(
            os.path.join(path, "bands")
        )
        (
            _shingled_docs(
                documents.filter(
                    (F.col("source") == "src0") & (F.col("doc_id") < t)
                )
            )
            .select(F.explode("shingles").alias("shx"))
            .distinct()
            .write.parquet(os.path.join(path, "eval_shingles"))
        )

    # _v3: key-bucket-partitioned layout + setkey at rest
    return at_rest(
        "pipeline_delta_index_v3",
        sf_dir,
        ("documents",),
        build,
        tag=str(t),
        root=index_dir,
    )


def dedup_pipeline_delta_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful twin of dedup_pipeline_delta — IDENTICAL output (it
    shares the DuckDB oracle), production cost shape: the corpus-side
    derivations live AT REST (_pipeline_delta_index_dir: the hash
    table, the token-free LSH band index, the eval shingle set — built
    once, amortized across batches), so a landing batch pays

      * batch-only map work (its own hashes, bands, shingles),
      * columnar reads of the slim stored tables — the corpus TEXT is
        never re-hashed, re-minhashed, or re-shingled,
      * token re-derivation for AFFECTED-bucket members only (one
        doc_id-pruned fetch from the documents scan; a b-doc batch
        touches ≤ b·n_bands buckets, so this is batch-proportional).

    This closes the stateless form's floor (measured ≈ the rebuild at
    the 10% split — data/exp_pipeline_delta_r9.json): with corpus map
    passes replaced by stored-table reads, batch cost tracks batch
    size, measured per-batch-size in the same experiment. The 10%
    catalog split is adversarial for ANY incremental form (it touches
    most buckets); the op exists for the streaming-sized batches a
    daily ingest lands."""
    return _pipeline_delta_indexed(spark, sf_dir, PIPE_DELTA_SPLIT)


def _pipeline_delta_indexed(
    spark: SparkSession,
    sf_dir: str,
    split: float,
    index_dir: str | None = None,
) -> DataFrame:
    batch, exact, near, contaminated = _pipeline_delta_indexed_stages(
        spark, sf_dir, split, index_dir=index_dir
    )
    return _delta_ledger(batch, exact, near, contaminated)


def _read_store_pruned(
    spark: SparkSession,
    path: str,
    part_col: str,
    nb: int,
    keys: DataFrame,
    key_col: str,
    enabled: bool,
) -> DataFrame:
    """Read a key-bucket-partitioned stored table, optionally pruned to
    the directories the probe keys can touch. The bucket set is
    collected from the (tiny) key frame first so the filter lands as a
    static PartitionFilter at the directory LISTING — the reason the
    stores are partitioned at all."""
    df = spark.read.parquet(path)
    if enabled:
        vals = [
            r[0]
            for r in keys.select(
                F.pmod(F.xxhash64(key_col), F.lit(nb)).alias(part_col)
            )
            .distinct()
            .collect()
        ]
        df = df.filter(F.col(part_col).isin(vals))
    return df


def _pipeline_delta_indexed_stages(
    spark: SparkSession,
    sf_dir: str,
    split: float,
    index_dir: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The indexed delta's stage frames (batch, exact, near,
    contaminated) — split out so experiments can time each probe
    in isolation (`git show b72b397:data/exp_pipeline_delta_idx2_r9.py`)."""
    from ..sources.registry import table_rows

    (documents,) = tables(spark, sf_dir, "documents")
    n_total = table_rows(sf_dir, "documents") or documents.count()
    t = int(split * n_total)
    idx = _pipeline_delta_index_dir(spark, sf_dir, t, index_dir=index_dir)
    batch = documents.filter(F.col("doc_id") >= t)

    nb = _pipe_idx_buckets(t)
    batch_docs = n_total - t
    n_bands = N_HASHES // CLUSTER_BAND_SIZE

    # Pruning gate — decided STATICALLY from footer row counts, zero
    # jobs: collecting a bucket set costs one extra batch map pass
    # (md5 / minhash over the batch), worth paying only when the
    # batch's probe keys are few enough to actually skip directories
    # (k keys over nb buckets touch ~nb·(1-e^(-k/nb)); at k ≥ nb/2
    # nearly everything is touched and the old full-scan plan is the
    # cheaper one — measured: the ungated 10%-split batch at 500k docs
    # was 32 s vs 12 s gated, data/exp_pipeline_delta_idx2_r9.json).
    prune_hashes = batch_docs <= nb // 2
    prune_bands = batch_docs * n_bands <= nb // 2

    def hashes_for(batch_fps: DataFrame) -> DataFrame:
        return _read_store_pruned(
            spark,
            os.path.join(idx, "hashes"),
            "pb",
            nb,
            batch_fps,
            "fp",
            prune_hashes,
        )

    def bands_for(batch_bands: DataFrame) -> DataFrame:
        return _read_store_pruned(
            spark,
            os.path.join(idx, "bands"),
            "bb",
            nb,
            batch_bands,
            "band",
            prune_bands,
        )

    eval_shingles = spark.read.parquet(os.path.join(idx, "eval_shingles"))
    return _delta_stages_from_stores(
        spark, documents, batch, t, batch_docs, hashes_for, bands_for, eval_shingles
    )


def _delta_stages_from_stores(
    spark: SparkSession,
    documents: DataFrame,
    batch: DataFrame,
    lo: int,
    batch_docs: int,
    hashes_for: Callable[[DataFrame], DataFrame],
    bands_for: Callable[[DataFrame], DataFrame],
    eval_shingles: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Store-agnostic core of the indexed incremental scrub.

    `batch` is the landing chunk (all ids >= lo); every doc with id <
    `lo` counts as EXISTING (the scrubbed corpus plus any previously
    landed-and-absorbed batches — the streaming deployment's state).
    The stored-side frames come through caller closures so each
    deployment brings its own storage posture:

      hashes_for(batch_fps)   -> (doc_id, fp) for existing train docs
      bands_for(batch_bands)  -> (doc_id, band, sz, setkey) likewise
      eval_shingles           -> (shx) — the decontamination reference

    dedup_pipeline_delta_indexed passes directory-gated reads of the
    build-once index; streaming/scrub.py passes base-index ∪ overlay
    unions (the absorb-as-you-land deployment). `documents` must
    contain every doc id either side can reference (token refetch for
    affected existing members reads it pruned by a broadcast semi)."""
    batch_train = batch.filter(F.col("source") != "src0")

    # stage 2: exact — stored hash table, batch fps broadcast. For
    # small batches the caller's closure prunes the stored read to the
    # batch's key-bucket directories at the listing.
    fp = F.md5(F.col("text").cast("binary"))
    bh = batch_train.select("doc_id", fp.alias("fp"))
    batch_fps = bh.select("fp").distinct()
    eh = (
        hashes_for(batch_fps)
        .join(F.broadcast(batch_fps), "fp", "semi")
        .select("doc_id", "fp")
    )
    keepers = (
        bh.unionByName(eh).groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    )
    exact = bh.join(keepers, "fp").select("doc_id", "keeper")

    # stage 3: near-dup — stored band index pruned to the batch's band
    # BUCKETS by the caller, then to its exact band keys by the
    # broadcast semi; token arrays re-derived ONLY for affected members
    batch_band_rows = _band_rows(batch_train, CLUSTER_BAND_SIZE)
    batch_bands = batch_band_rows.select("band").distinct()
    stored = (
        bands_for(batch_bands)
        .join(F.broadcast(batch_bands), "band", "semi")
        .select("doc_id", "band", "sz", "setkey")
    )

    # The delta only ever KEEPS batch-sided pairs (b.doc_id >= t), so
    # the pair generation is specialized to emit ONLY those — the
    # rebuild's _pairs_from_bands over affected members would generate
    # a star pair per EXISTING member of an over-cap bucket and then
    # discard 99.99% of them at the filter (measured: a 100-doc batch
    # touching the degenerate mega-band paid token refetch + verify for
    # ~2.7M members, a flat ~60 s floor at 5M docs;
    # data/exp_pipeline_delta_idx2_r9.json). The star windows (size,
    # hub, sub-hub) run over the NARROW id/setkey stream; token arrays
    # are fetched only for docs that can appear in a kept pair:
    #   * members of affected ≤cap buckets (≤ cap per bucket),
    #   * hubs of affected over-cap buckets (1 per bucket),
    #   * the batch docs themselves (their own map work).
    # Bucket stats stay EXACTLY the rebuild's: bn/hub/sub-hub are
    # computed over the full affected membership, so cap semantics and
    # hub election are bit-identical to dedup_pipeline's.
    members = stored.unionByName(
        batch_band_rows.select("doc_id", "band", "sz", "setkey")
    )
    sized = _band_stats(
        members, CLUSTER_CAP, "pipeline_delta_idx_band_cap", ("sz",)
    )

    toks = F.array_distinct(_tokens())
    # hashed-long payload, matching _band_rows' representation
    toksx = F.transform(toks, lambda t: F.xxhash64(t))
    # FILTER first, tokenize second: the semi-join must run BEFORE the
    # token projection or the whole corpus pays the tokenize pass the
    # stored index exists to avoid. need_ids is batch-proportional
    # even on a degenerate corpus (an over-cap bucket contributes ONE
    # hub id, not its membership), so the broadcast is safe.
    need_ids = (
        sized.filter(
            (
                (F.col("bn") >= 2) & (F.col("bn") <= CLUSTER_CAP)
            )
            | (
                (F.col("bn") > CLUSTER_CAP)
                & (F.col("doc_id") == F.col("hub.doc_id"))
            )
        )
        .filter(F.col("doc_id") < lo)
        .select("doc_id")
        .distinct()
    )
    fetched_toks = (
        documents.select("doc_id", "text")
        .join(F.broadcast(need_ids), "doc_id", "semi")
        .select("doc_id", toksx.alias("toks"))
    )
    # batch docs' arrays: re-derived from the batch text (their map
    # work); disjoint from fetched_toks by doc_id < lo
    toks_map = fetched_toks.unionByName(
        batch_train.select("doc_id", toksx.alias("toks"))
    )

    # full expansion for ≤cap buckets — membership joined with its
    # arrays first (bounded: ≤ cap rows per bucket); join strategy
    # left to AQE: tiny toks_map (small batch) broadcasts at runtime,
    # the 10%-split adversarial end falls back to a shuffle join
    small = (
        sized.filter((F.col("bn") >= 2) & (F.col("bn") <= CLUSTER_CAP))
        .join(toks_map, "doc_id")
        .select("band", "doc_id", "toks", "sz")
    )
    buckets = small.groupBy("band").agg(
        F.collect_list(F.struct("doc_id", "toks", "sz")).alias("docs")
    )
    full = (
        buckets.select(F.explode("docs").alias("a"), F.col("docs"))
        .select("a", F.explode("docs").alias("b"))
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.doc_id") >= lo)
        )
    )
    # star: ONLY batch members pair with the hub; hub arrays joined
    # from toks_map (hubs are in need_ids; an all-batch bucket's hub
    # is a batch doc, covered by the batch side of toks_map)
    hub_toks = toks_map.select(
        F.col("doc_id").alias("hub_doc_id"), F.col("toks").alias("hub_toks")
    )
    star_b = sized.filter(
        (F.col("bn") > CLUSTER_CAP)
        & (F.col("doc_id") >= lo)
        & (F.col("doc_id") != F.col("hub.doc_id"))
    ).join(toks_map, "doc_id")
    star = star_b.join(
        hub_toks, F.col("hub.doc_id") == F.col("hub_doc_id")
    ).select(
        F.struct(
            F.col("hub.doc_id").alias("doc_id"),
            F.col("hub_toks").alias("toks"),
            F.col("hub.sz").alias("sz"),
        ).alias("a"),
        F.struct("doc_id", "toks", "sz").alias("b"),
    )
    # two-level star: the batch member's identical-set sub-hub; the
    # a-side reuses the member's own toks/sz (identical token set by
    # construction — the _pairs_from_bands convention)
    star2 = star_b.filter(
        (F.col("doc_id") != F.col("subhub_id"))
        & (F.col("subhub_id") != F.col("hub.doc_id"))
    ).select(
        F.struct(
            F.col("subhub_id").alias("doc_id"), "toks", "sz"
        ).alias("a"),
        F.struct("doc_id", "toks", "sz").alias("b"),
    )
    cand = full.unionByName(star).unionByName(star2)
    vpairs = _verified_jaccard(cand.filter(F.col("b.doc_id") >= lo), 0.6)
    near = (
        vpairs.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("partner"))
        .groupBy("doc_id")
        .agg(F.min("partner").alias("rep"))
    )

    # stage 4: decontamination — stored eval shingles ∪ the batch's own
    # eval additions (the reference set grows with src0 landings)
    batch_sh = _shingled_docs(batch)
    # the stored side is distinct at rest and the batch side is
    # distinct-ed here; a semi-join probe side tolerates the few
    # cross-side duplicates, so NO outer distinct — re-distincting the
    # stored set would shuffle the (corpus-eval-sized) shingle table
    # on every batch
    eval_sh = eval_shingles.unionByName(
        batch_sh.filter(F.col("source") == "src0")
        .select(F.explode("shingles").alias("shx"))
        .distinct()
    )
    train_shx = batch_sh.filter(F.col("source") != "src0").select(
        "doc_id", F.explode("shingles").alias("shx")
    )
    # Broadcast DIRECTION follows the smaller side. The stored eval set
    # is corpus-eval-sized (13.7M keys / ~110 MB at 5M docs — a
    # measured multi-second driver collect per batch); a streaming-
    # sized batch's shingles are KBs. For small batches, broadcast the
    # BATCH keys into a semi over the eval stream (map-only columnar
    # scan), then broadcast the surviving eval keys (≤ batch size) back
    # over the batch. The ~60-shingles/doc × 8 B budget keeps the
    # flipped broadcast under ~50 MB; above it (the 10%-split
    # adversarial end) fall back to the eval-side broadcast.
    if batch_docs * 60 * 8 <= 50 * (1 << 20):
        batch_keys = train_shx.select("shx").distinct()
        hit_shx = eval_sh.join(F.broadcast(batch_keys), "shx", "semi")
        contaminated = (
            train_shx.join(F.broadcast(hit_shx), "shx", "semi")
            .select("doc_id")
            .distinct()
            .select("doc_id", F.lit(True).alias("is_cont"))
        )
    else:
        contaminated = (
            train_shx.join(F.broadcast(eval_sh), "shx", "semi")
            .select("doc_id")
            .distinct()
            .select("doc_id", F.lit(True).alias("is_cont"))
        )

    return batch, exact, near, contaminated


def _delta_range_sql(lo_sql: str, hi_sql: str) -> str:
    """One landing chunk's delta-ledger SQL, parameterized by the
    chunk's id range [lo, hi) — expressions over the `split` CTE's
    t (corpus cut) and n (total rows). Visibility is everything landed
    strictly before the chunk plus the chunk itself (doc_id < hi): the
    sequential-landing semantics the streaming scrub implements with
    index absorption. The full delta op is the single chunk [t, n+1)
    (hi bound a no-op), so one generator serves both oracles."""
    vis = "doc_id < (SELECT hi FROM bounds)"
    return f"""
WITH split AS (
  SELECT CAST(FLOOR({PIPE_DELTA_SPLIT} * COUNT(*)) AS BIGINT) AS t,
         COUNT(*) AS n FROM documents
), bounds AS (
  SELECT {lo_sql} AS lo, {hi_sql} AS hi FROM split
), {_lsh_band_sql(CLUSTER_BAND_SIZE, CLUSTER_CAP,
                  "WHERE source <> 'src0' AND " + vis).lstrip()}, pairs AS (
  SELECT DISTINCT a_id AS doc_a, b_id AS doc_b
  FROM cand
  WHERE b_id >= (SELECT lo FROM bounds)
    AND round(CAST(length(list_intersect(a_toks, b_toks)) AS DOUBLE)
        / length(list_distinct(a_toks || b_toks)), 6) >= 0.6
), near AS (
  SELECT doc_b AS doc_id, MIN(doc_a) AS rep FROM pairs GROUP BY doc_b
), batch_fp AS (
  SELECT doc_id, md5(text) AS fp FROM documents
  WHERE source <> 'src0' AND doc_id >= (SELECT lo FROM bounds) AND {vis}
), keepers AS (
  SELECT fp, MIN(doc_id) AS keeper FROM (
    SELECT doc_id, md5(text) AS fp FROM documents
    WHERE source <> 'src0' AND {vis}
  ) WHERE fp IN (SELECT fp FROM batch_fp) GROUP BY fp
), exact AS (
  SELECT b.doc_id, k.keeper FROM batch_fp b JOIN keepers k ON k.fp = b.fp
), sh_docs AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
  WHERE (source = 'src0' OR doc_id >= (SELECT lo FROM bounds)) AND {vis}
), sh AS (
  SELECT doc_id, source,
    CASE WHEN length(toks) >= {SHINGLE_N}
      THEN list_transform(generate_series(1, length(toks) - {SHINGLE_N - 1}),
                          i -> array_to_string(toks[i : i + {SHINGLE_N - 1}], ' '))
      ELSE [] END AS shingles
  FROM sh_docs
), eval_sh AS (
  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE source = 'src0'
), contaminated AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE source <> 'src0') t
  WHERE EXISTS (SELECT 1 FROM eval_sh e WHERE e.s = t.s)
)
SELECT d.doc_id, d.source,
  CASE WHEN d.source = 'src0' THEN 'eval_split'
       WHEN e.keeper IS NOT NULL AND e.keeper <> d.doc_id THEN 'exact_dup'
       WHEN n.rep IS NOT NULL THEN 'near_dup'
       WHEN c.doc_id IS NOT NULL THEN 'contaminated'
       ELSE 'kept' END AS status,
  CAST(CASE WHEN d.source = 'src0' THEN NULL
       WHEN e.keeper IS NOT NULL AND e.keeper <> d.doc_id THEN e.keeper
       WHEN n.rep IS NOT NULL THEN n.rep
       END AS BIGINT) AS replacement
FROM documents d
LEFT JOIN exact e ON e.doc_id = d.doc_id
LEFT JOIN near n ON n.doc_id = d.doc_id
LEFT JOIN contaminated c ON c.doc_id = d.doc_id
WHERE d.doc_id >= (SELECT lo FROM bounds) AND d.{vis}"""


DEDUP_PIPELINE_DELTA_SQL = _delta_range_sql("t", "n + 1") + "\nORDER BY d.doc_id"

# The streaming scrub replays the batch span as this many sequential
# landing chunks (equal id ranges); the oracle unrolls one delta-range
# SQL per chunk, so chunk boundaries are part of the CONTRACT the
# engine's micro-batching must reproduce (maxFilesPerTrigger=1 over the
# staged chunk files).
STREAM_SCRUB_CHUNKS = 3


def _stream_scrub_sql(chunks: int = STREAM_SCRUB_CHUNKS) -> str:
    """Sequential-visibility oracle for the streaming landing scrub:
    one delta-range ledger per chunk, unioned. Chunk k covers
    [t + (n-t)·k/K, t + (n-t)·(k+1)/K) in integer arithmetic —
    mirrored exactly by streaming/scrub.py's Python cuts."""
    parts = []
    for k in range(chunks):
        lo = f"t + ((n - t) * {k}) // {chunks}"
        hi = f"t + ((n - t) * {k + 1}) // {chunks}"
        parts.append("(" + _delta_range_sql(lo, hi) + "\n)")
    return (
        "SELECT * FROM (\n"
        + "\nUNION ALL\n".join(parts)
        + "\n)\nORDER BY doc_id"
    )


STREAM_SCRUB_SQL = _stream_scrub_sql()


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": dedup_exact,
    "dedup_pipeline": dedup_pipeline,
    "dedup_pipeline_delta": dedup_pipeline_delta,
    "dedup_pipeline_delta_indexed": dedup_pipeline_delta_indexed,
    "dedup_pipeline_resolve": dedup_pipeline_resolve,
    "dedup_semantic": dedup_semantic,
    "dedup_incremental": dedup_incremental,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_containment_lsh": dedup_containment_lsh,
    "dedup_clusters": dedup_clusters,
    "dedup_representative": dedup_representative,
    "dedup_decontaminate": dedup_decontaminate,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_pr_eval": dedup_pr_eval,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}

ORACLE: dict[str, str] = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "dedup_containment_lsh": DEDUP_CONTAINMENT_LSH_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_representative": DEDUP_REPRESENTATIVE_SQL,
    "dedup_decontaminate": DEDUP_DECONTAMINATE_SQL,
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_pipeline": DEDUP_PIPELINE_SQL,
    "dedup_pipeline_delta": DEDUP_PIPELINE_DELTA_SQL,
    "dedup_pipeline_delta_indexed": DEDUP_PIPELINE_DELTA_SQL,
    "dedup_pipeline_resolve": DEDUP_PIPELINE_RESOLVE_SQL,
    "dedup_pr_eval": _pr_eval_oracle(),
    "dedup_semantic": _dedup_semantic_oracle(),
    "dedup_simhash": _simhash_oracle(),
    "dedup_embedding_cosine": DEDUP_EMBEDDING_SQL,
}
