"""Regression tests for the round-7 ADVICE findings.

1. (medium) upsert_snapshot must record equality_ids from the CURRENT
   schema (mirroring write_equality_deletes). The silent-wrong-deletes
   scenario: rename k→k2, re-add a NEW column named k, then upsert
   keyed on k — an id-less entry would be retrofitted through the v0
   id table ("k" → field 1 → now called k2) and anti-join the WRONG
   column.
2. (medium, hardening) id-less equality-delete entries are an error on
   read and on drop_column, never a silent name-path match. Every
   table now carries schema v0 from its first commit and every
   equality delete records field ids, so an entry without them
   predates schema-at-create and is refused.
3. (low) cc_labels spill dirs: created lazily (shallow graphs touch no
   disk) and removed at convergence — repeated invocations leave no
   cc_labels_* trees behind.
4. (low) sim_knn_clusters unpersists the kNN graph after the component
   kernel has consumed it.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from iceberg_query_engine_spark.sources.iceberg_lite import (
    IcebergLiteTable,
    add_column,
    drop_column,
    rename_column,
    upsert_snapshot,
    write_snapshot,
)


@pytest.fixture()
def renamed_readded(spark, tmp_path):
    """Table whose current 'k' is a DIFFERENT field than v0's 'k'."""
    path = str(tmp_path / "t")
    df = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    write_snapshot(df, path)  # v0: k(id1), v(id2)
    rename_column(path, "k", "k2")  # k2 still field id 1
    add_column(path, "k", "bigint")  # NEW field id 3, old name
    # rows written under the evolved schema, with distinct k values
    df2 = spark.createDataFrame(
        [(100, 0, 7), (101, 0, 8)], "k2 long, v long, k long"
    )
    write_snapshot(df2, path)  # append (write_snapshot always appends)
    return path


def test_upsert_records_equality_ids(spark, renamed_readded):
    path = renamed_readded
    up = spark.createDataFrame([(200, 1, 7)], "k2 long, v long, k long")
    upsert_snapshot(spark, path, up, key_columns=["k"])
    t = IcebergLiteTable(path)
    entries = [
        e for e, _seq, c in t._files_with_meta() if c == "equality_deletes"
    ]
    assert entries, "upsert wrote no equality-delete entry"
    # field id 3 (the re-added k), NOT 1 (v0's k, now k2)
    assert entries[-1]["equality_ids"] == [3]


def test_upsert_after_rename_deletes_right_rows(spark, renamed_readded):
    """Keyed on the re-added 'k' (field 3): row k=7 must be replaced;
    rows matched only via v0's k (now k2) must survive."""
    path = renamed_readded
    up = spark.createDataFrame([(200, 1, 7)], "k2 long, v long, k long")
    upsert_snapshot(spark, path, up, key_columns=["k"])
    rows = {
        (r.k2, r.v, r.k)
        for r in IcebergLiteTable(path).read(spark).collect()
    }
    assert (200, 1, 7) in rows  # upserted row
    assert (100, 0, 7) not in rows  # old row with k=7: replaced
    assert (101, 0, 8) in rows  # untouched
    # v0-era rows have k NULL; an anti-join on k must keep them all
    assert sum(1 for r in rows if r[2] is None) == 4


def _strip_ids_from_last_delete(path: str) -> None:
    """Simulate an old-engine id-less entry with post-v0 names."""
    t = IcebergLiteTable(path)
    snap = t._snapshot(t.current_snapshot_id())
    with open(os.path.join(path, snap["manifest_list"])) as f:
        manifests = json.load(f)
    for m in manifests:
        mpath = os.path.join(path, m["manifest_path"])
        with open(mpath) as f:
            manifest = json.load(f)
        changed = False
        for e in manifest.get("entries", []):
            if "delete_file" in e and "equality_ids" in e["delete_file"]:
                del e["delete_file"]["equality_ids"]
                changed = True
        if changed:
            with open(mpath, "w") as f:
                json.dump(manifest, f)


def test_idless_post_v0_names_refuse_read_and_drop(spark, renamed_readded):
    """An id-less entry keyed on a POST-v0 name (k2 only exists after
    the rename): matching it by name could hit a later-renamed column,
    so read and drop_column both refuse.

    (The sibling hazard — an id-less entry keyed on a re-added v0 NAME
    — is refused the same way: no id-less entry is ever resolved.)"""
    path = renamed_readded
    up = spark.createDataFrame([(200, 1, 7)], "k2 long, v long, k long")
    upsert_snapshot(spark, path, up, key_columns=["k2"])
    _strip_ids_from_last_delete(path)
    t = IcebergLiteTable(path)
    with pytest.raises(ValueError, match="predates schema-at-create"):
        t.read(spark).collect()
    with pytest.raises(ValueError, match="predates schema-at-create"):
        drop_column(path, "v")


def test_idless_upsert_delete_refuses_read_after_rename(spark, tmp_path):
    """An id-less upsert delete keyed on v0 names (what an engine before
    schema-at-create wrote) is not retrofitted through v0 ids: after a
    rename, the read refuses and names the table."""
    path = str(tmp_path / "idless")
    df = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    write_snapshot(df, path)
    up = spark.createDataFrame([(2, 99)], "k long, v long")
    upsert_snapshot(spark, path, up, key_columns=["k"])
    _strip_ids_from_last_delete(path)
    rename_column(path, "k", "kk")
    with pytest.raises(ValueError, match="predates schema-at-create") as err:
        IcebergLiteTable(path).read(spark)
    assert path in str(err.value)


# --------------------------------------------------------------------------
def _cc_dirs() -> set[str]:
    import tempfile

    root = tempfile.gettempdir()
    return {d for d in os.listdir(root) if d.startswith("cc_labels_")}


def test_cc_labels_shallow_graph_creates_no_spill_dir(spark):
    from iceberg_query_engine_spark.queries.dedup_suite import cc_labels

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3)], "src long, dst long"
    )
    before = _cc_dirs()
    assert cc_labels(edges, local_edge_gate=0).count() == 4
    assert _cc_dirs() == before


def test_cc_labels_deep_graph_cleans_up_spill_dir(spark):
    """A path graph deep enough to cross the parquet-spill threshold
    must leave no cc_labels_* tree behind — and still converge right."""
    from iceberg_query_engine_spark.queries.dedup_suite import cc_labels

    n = 3000  # ~log2 diameter rounds with pointer jumping > 12 spill rounds
    chain = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    before = _cc_dirs()
    # force the DISTRIBUTED path: the spill lifecycle under test never
    # engages on the local union-find the toy-size gate would pick
    labels = cc_labels(edges, local_edge_gate=0)
    # single component labeled by its minimum, readable AFTER cleanup
    assert labels.filter(F.col("label") != 0).count() == 0
    assert labels.count() == n
    assert _cc_dirs() == before


def test_knn_clusters_unpersists_graph(spark, sf_smoke):
    from iceberg_query_engine_spark.queries.similarity_suite import (
        sim_knn_clusters,
    )

    # the SQL cache manager tracks DataFrame.persist entries — exactly
    # the leak the advice named. It does NOT track localCheckpoint
    # blocks, which cc_labels legitimately creates: those stay
    # registered after clearCache() and a Python and JVM gc (measured),
    # so only materialize.release() frees them. Start clean so both
    # probes are unambiguous.
    from iceberg_query_engine_spark.materialize import release

    release()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    sim_knn_clusters(spark, sf_smoke).count()
    assert cm.isEmpty(), "sim_knn_clusters leaked a persisted graph"
    release()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


# -- dedup_pipeline ledger invariants (r8): replacement chains are the
#    audit trail — they must terminate fast and never cycle


def test_dedup_pipeline_ledger_invariants(spark, sf_oracle):
    from iceberg_query_engine_spark.queries.dedup_suite import dedup_pipeline

    rows = dedup_pipeline(spark, sf_oracle).collect()
    by_id = {r.doc_id: r for r in rows}
    # one row per doc, statuses from the closed set
    assert len(by_id) == len(rows)
    statuses = {r.status for r in rows}
    assert statuses <= {"eval_split", "exact_dup", "near_dup", "contaminated", "kept"}
    # replacement present iff the doc was superseded by a dedup stage
    for r in rows:
        assert (r.replacement is not None) == (
            r.status in ("exact_dup", "near_dup")
        ), r
    # chain shape: an exact-dup's keeper is never itself an exact dup
    # (it IS its text group's min id); a near-dup's rep is never a dup
    # of either kind (the election prefers the min id at equal n_tok,
    # so a rep is always its own text-group keeper). Hence every chain
    # terminates in <= 2 hops, acyclically, at a non-dup status.
    for r in rows:
        if r.status == "exact_dup":
            nxt = by_id[r.replacement]
            assert nxt.status != "exact_dup", (r, nxt)
            assert nxt.status != "eval_split"  # stages 2-3 are train-only
            if nxt.status == "near_dup":
                final = by_id[nxt.replacement]
                assert final.status in ("kept", "contaminated"), (r, nxt, final)
        elif r.status == "near_dup":
            nxt = by_id[r.replacement]
            assert nxt.status in ("kept", "contaminated"), (r, nxt)
