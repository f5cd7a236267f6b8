"""Driver-visible queries for the iceberg-lite table format.

Each query reads a fixture table built from the `orders` source and
stored at rest (``materialize.at_rest``), then exercises snapshot time
travel, pruned reads and table maintenance; the oracle replays the
equivalent filters on the raw parquet. (Format parity: reference IcebergScanExec,
/root/reference/src/physical/operators/iceberg.rs.)
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import at_rest, slug
from ..sources.iceberg_lite import (
    IcebergLiteTable,
    PartitionFilter,
    upsert_snapshot,
    write_equality_deletes,
    write_position_deletes,
    write_snapshot,
)
from .tpch import tables

# The fixtures' table-format tag, part of every fixture's store kind: a
# format change bumps it, so tables written under an older format (e.g.
# before schema-at-create, which reads refuse) are never served.
_FORMAT = "iceberg_lite_schema0"

_FixtureBuild = Callable[[SparkSession, DataFrame, str], None]
_FixturePath = Callable[[SparkSession, str], str]


def _fixture(name: str) -> Callable[[_FixtureBuild], _FixturePath]:
    """Turn `build(spark, orders, path)` into `(spark, sf_dir) -> path`
    of fixture `name`, built once from `orders` and stored at rest."""

    def wrap(build: _FixtureBuild) -> _FixturePath:
        def get(spark: SparkSession, sf_dir: str) -> str:
            def run(path: str) -> None:
                (orders,) = tables(spark, sf_dir, "orders")
                build(spark, orders, path)

            return at_rest(f"{_FORMAT}_{name}", sf_dir, ("orders",), run)

        get.__doc__ = build.__doc__
        return get

    return wrap


def _scratch(sf_dir: str, name: str) -> str:
    """An empty, unstored table path for the ops that mutate their
    fixture and so rebuild it on every call."""
    import shutil

    path = os.path.join(
        tempfile.gettempdir(), "spark_graft_scratch", _FORMAT, slug(sf_dir), name
    )
    shutil.rmtree(path, ignore_errors=True)
    return path


@_fixture("orders")
def _table(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """Two appends partitioned by o_orderstatus: orders < 500, then
    500..999, with column stats on o_orderkey and o_totalprice."""
    for cond in (F.col("o_orderkey") < 500, F.col("o_orderkey").between(500, 999)):
        write_snapshot(
            orders.filter(cond),
            path,
            partition_by="o_orderstatus",
            stats_columns=["o_orderkey", "o_totalprice"],
        )


def iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row counts + totals at snapshot 1 vs current (snapshot 2)."""
    t = IcebergLiteTable(_table(spark, sf_dir))
    snap1 = t.read(spark, snapshot_id=1).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    ).withColumn("snapshot", F.lit(1))
    cur = t.read(spark).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    ).withColumn("snapshot", F.lit(2))
    return snap1.unionByName(cur).select("snapshot", "n", "total").orderBy("snapshot")


ICEBERG_TIME_TRAVEL_SQL = """
SELECT 1 AS snapshot, CAST(COUNT(*) AS BIGINT) AS n, round(SUM(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey < 500
UNION ALL
SELECT 2 AS snapshot, CAST(COUNT(*) AS BIGINT) AS n, round(SUM(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey < 1000
ORDER BY snapshot
"""


def iceberg_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition + stats pruned read; Spark re-applies exact filters."""
    t = IcebergLiteTable(_table(spark, sf_dir))
    df = t.read(
        spark,
        partition_filters=[PartitionFilter("o_orderstatus", ["F", "O"])],
        predicates=[("o_orderkey", "<", 500)],
    )
    return (
        df.filter((F.col("o_orderkey") < 500) & F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


ICEBERG_PRUNED_SCAN_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderkey < 500 AND o_orderstatus IN ('F', 'O')
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@_fixture("orders_del")
def _delete_table(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """orders<500 snapshot → positional delete (o_orderkey % 7 = 0) →
    equality delete (o_orderstatus = 'P') → append 500..999. The final
    state is fully SQL-expressible, so the oracle replays it exactly."""
    write_snapshot(orders.filter(F.col("o_orderkey") < 500), path)
    write_position_deletes(spark, path, "o_orderkey % 7 = 0")
    write_equality_deletes(
        spark,
        path,
        spark.createDataFrame([("P",)], ["o_orderstatus"]),
        ["o_orderstatus"],
    )
    write_snapshot(orders.filter(F.col("o_orderkey").between(500, 999)), path)


def iceberg_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read over v2 delete files: positional + equality
    deletes applied to snapshot-1 data only (sequence rule); the later
    append is untouched."""
    t = IcebergLiteTable(_delete_table(spark, sf_dir))
    return (
        t.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ICEBERG_DELETES_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(o_totalprice), 2) AS total
FROM orders
WHERE (o_orderkey < 500 AND o_orderkey % 7 <> 0 AND o_orderstatus <> 'P')
   OR (o_orderkey BETWEEN 500 AND 999)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@_fixture("orders_upsert")
def _upsert_table(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """orders<500 base snapshot → MERGE-style upsert of every key
    < 600 with o_orderkey % 10 = 0 at o_totalprice + 1000: keys < 500
    are updates (replace), 500..599 are inserts."""
    write_snapshot(orders.filter(F.col("o_orderkey") < 500), path)
    batch = orders.filter(
        (F.col("o_orderkey") < 600) & (F.col("o_orderkey") % 10 == 0)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 1000)
    upsert_snapshot(spark, path, batch, ["o_orderkey"])


def iceberg_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO-style upsert (one snapshot = equality-delete manifest
    + data manifest, shared sequence number): updated keys read back
    with the new price, inserted keys appear, untouched rows survive."""
    t = IcebergLiteTable(_upsert_table(spark, sf_dir))
    return (
        t.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ICEBERG_UPSERT_SQL = """
WITH up AS (
  SELECT o_orderstatus, o_totalprice + 1000 AS o_totalprice
  FROM orders WHERE o_orderkey < 600 AND o_orderkey % 10 = 0
), merged AS (
  SELECT o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey < 500 AND o_orderkey % 10 <> 0
  UNION ALL SELECT o_orderstatus, o_totalprice FROM up
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(o_totalprice), 2) AS total
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def iceberg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan (changelog read): rows added AFTER
    snapshot 1 of the delete table — the 500..999 append — while the
    positional/equality delete snapshots in between are skipped
    (append-only changelog, Iceberg IncrementalAppendScan semantics).
    Planning is a metadata-only manifest diff: the scan reads only the
    new files, so incremental cost tracks new data, not table size."""
    t = IcebergLiteTable(_delete_table(spark, sf_dir))
    return (
        t.read_incremental(spark, from_snapshot_id=1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ICEBERG_INCREMENTAL_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey BETWEEN 500 AND 999
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@_fixture("orders_ivm")
def _ivm_tables(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """Incremental view maintenance: an aggregate table (rows/total per
    o_orderstatus) kept current by reading ONLY the new snapshot's rows.

    Build: source table gets snapshot 1 (keys < 500) then snapshot 2
    (500..999). The agg table is initialized from snapshot 1; the
    maintenance step reads read_incremental(1→2) — never the full
    source — aggregates the delta, merges it with the current agg rows
    for the touched keys, and commits the result as one MERGE upsert.
    At 100 TB this is the difference between re-aggregating the table
    and touching just the day's partition: maintenance cost tracks new
    data. Totals are stored UNROUNDED and rounded only at read, so
    repeated maintenance never accumulates rounding drift. The source
    (src/) and the aggregate (agg/) are one store, built together."""
    src_path, agg_path = os.path.join(path, "src"), os.path.join(path, "agg")
    s1 = write_snapshot(orders.filter(F.col("o_orderkey") < 500), src_path)
    write_snapshot(orders.filter(F.col("o_orderkey").between(500, 999)), src_path)
    src = IcebergLiteTable(src_path)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total")
        )

    write_snapshot(agg(src.read(spark, snapshot_id=s1)), agg_path)
    delta = agg(src.read_incremental(spark, from_snapshot_id=s1)).select(
        "o_orderstatus", F.col("n").alias("dn"), F.col("total").alias("dtotal")
    )
    cur = IcebergLiteTable(agg_path).read(spark)
    batch = delta.join(cur, "o_orderstatus", "left").select(
        "o_orderstatus",
        (F.coalesce(F.col("n"), F.lit(0)) + F.col("dn")).alias("n"),
        (F.coalesce(F.col("total"), F.lit(0.0)) + F.col("dtotal")).alias("total"),
    )
    upsert_snapshot(spark, agg_path, batch, ["o_orderstatus"])


def iceberg_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the incrementally-maintained aggregate table; must equal a
    full recompute over keys < 1000 (the oracle)."""
    t = IcebergLiteTable(os.path.join(_ivm_tables(spark, sf_dir), "agg"))
    return (
        t.read(spark)
        .select("o_orderstatus", "n", F.round(F.col("total"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


ICEBERG_INCREMENTAL_AGG_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey < 1000
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def catalog_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metastore-shaped catalog registration: two tables registered in
    the session catalog from a REST-payload-shaped descriptor document
    (sources/catalog.py — reference /root/reference/src/metastore/
    mod.rs:282-372), then joined through plain `db.tbl` SQL names."""
    from ..sources.catalog import CatalogClient, register_catalog

    client = CatalogClient(
        {
            "databases": {
                "meta_demo": {
                    "tables": [
                        {
                            "table_name": "nation",
                            "table_location": f"{sf_dir}/nation.parquet",
                            "columns": [
                                {"name": "n_nationkey", "data_type": "BIGINT"},
                                {"name": "n_name", "data_type": "VARCHAR"},
                                {"name": "n_regionkey", "data_type": "BIGINT"},
                            ],
                        },
                        {
                            "table_name": "region",
                            "table_location": f"{sf_dir}/region.parquet",
                            "columns": [
                                {"name": "r_regionkey", "data_type": "BIGINT"},
                                {"name": "r_name", "data_type": "VARCHAR"},
                            ],
                        },
                    ]
                }
            }
        }
    )
    register_catalog(spark, client)
    return spark.sql(
        """
        SELECT r.r_name AS region_name, CAST(COUNT(*) AS BIGINT) AS n_nations,
               MIN(n.n_name) AS first_nation
        FROM meta_demo.nation n
        JOIN meta_demo.region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        ORDER BY region_name
        """
    )


CATALOG_JOIN_SQL = """
SELECT r.r_name AS region_name, CAST(COUNT(*) AS BIGINT) AS n_nations,
       MIN(n.n_name) AS first_nation
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY region_name
"""


def iceberg_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry + orphan-file cleanup after compaction — the
    storage-amplification half of the maintenance loop (compact bounds
    read amplification; without expiry every REPLACE strands its
    predecessors' files forever). Build: two appends (keys <400,
    400..799) → compact (REPLACE snapshot 3) → expire keep_last=1.
    Output proves the three invariants: both pre-compaction snapshots
    expired, one remains, and zero stranded paths survive in data/
    (every physical file is referenced by a live snapshot). The final
    readable state is untouched — the oracle replays it on raw orders."""
    from ..sources.iceberg_lite import compact, expire_snapshots

    # expiry MUTATES table state: rebuild fresh each call (idempotence)
    path = _scratch(sf_dir, "orders_expire")
    (orders,) = tables(spark, sf_dir, "orders")
    write_snapshot(orders.filter(F.col("o_orderkey") < 400), path)
    write_snapshot(orders.filter(F.col("o_orderkey").between(400, 799)), path)
    compact(spark, path)
    res = expire_snapshots(path, keep_last=1)
    from ..sources.iceberg_lite import _referenced_paths

    live = _referenced_paths(path, res.remaining_snapshot_ids)
    stranded = sum(
        1
        for fn in os.listdir(os.path.join(path, "data"))
        if os.path.join("data", fn) not in live
    )
    t = IcebergLiteTable(path)
    return (
        t.read(spark)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.lit(len(res.expired_snapshot_ids)).alias("expired"),
            F.lit(len(res.remaining_snapshot_ids)).alias("remaining"),
            F.lit(stranded).alias("stranded"),
            "n",
            "total",
        )
    )


ICEBERG_EXPIRE_SQL = """
SELECT 2 AS expired, 1 AS remaining, 0 AS stranded,
       CAST(COUNT(*) AS BIGINT) AS n, round(SUM(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey < 800
"""


def iceberg_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 over iceberg-lite: the
    versioned dimension-maintenance pattern every warehouse runs.
    Base version (valid_from=1, open valid_to) → a change batch
    arrives (every custkey%10==0 gets +100 balance at t=2) →
    close-out is a composite-key MERGE (upsert on
    (c_custkey, valid_from) setting valid_to=2), new versions are an
    append snapshot. History stays queryable (the closed rows remain;
    time travel sees the pre-merge state). Output: versions per key +
    the current (open) balance; oracle derives both closed-form.
    Scale: the close-out upsert's equality-delete keys are only the
    CHANGED keys — merge cost tracks the change batch, not dimension
    size."""
    path = _scratch(sf_dir, "cust_scd2")
    (customer,) = tables(spark, sf_dir, "customer")
    dim = customer.filter(F.col("c_custkey") < 200).select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        F.lit(1).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    write_snapshot(dim, path)
    changed = dim.filter(F.col("c_custkey") % 10 == 0)
    closed = changed.withColumn("valid_to", F.lit(2).cast("long"))
    upsert_snapshot(spark, path, closed, ["c_custkey", "valid_from"])
    write_snapshot(
        changed.select(
            "c_custkey",
            (F.col("bal") + 100).alias("bal"),
            F.lit(2).cast("long").alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
        ),
        path,
    )
    t = IcebergLiteTable(path)
    cur = t.read(spark)
    return (
        cur.groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.round(
                F.max(F.when(F.col("valid_to").isNull(), F.col("bal"))), 2
            ).alias("current_bal"),
        )
        .orderBy("c_custkey")
    )


ICEBERG_SCD2_MERGE_SQL = """
SELECT c_custkey,
  CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_versions,
  round(c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 100 ELSE 0 END, 2)
    AS current_bal
FROM customer WHERE c_custkey < 200 ORDER BY c_custkey
"""


@_fixture("orders_wap")
def _wap_table(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """Write-audit-publish fixture: main gets orders < 800; a GOOD
    batch (800–999) lands on branch `audit`, passes the audit and is
    fast-forwarded into main; a BAD batch (1000–1099, prices negated)
    lands on branch `audit_bad`, fails the audit and the branch is
    dropped — main must never see it."""
    from ..sources.iceberg_lite import create_branch, create_tag, drop_ref, fast_forward

    write_snapshot(orders.filter(F.col("o_orderkey") < 800), path)
    create_tag(path, "v1")
    t = IcebergLiteTable(path)
    # --- good batch: write to branch, audit, publish ---
    create_branch(path, "audit")
    write_snapshot(
        orders.filter(F.col("o_orderkey").between(800, 999)),
        path,
        branch="audit",
    )
    bad = t.read(spark, ref="audit").filter(F.col("o_totalprice") <= 0).count()
    assert bad == 0, "good batch must pass its own audit"
    fast_forward(path, "main", "audit")
    # --- bad batch: write to branch, audit fails, drop branch ---
    create_branch(path, "audit_bad")
    write_snapshot(
        orders.filter(F.col("o_orderkey").between(1000, 1099)).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        ),
        path,
        branch="audit_bad",
    )
    n_bad = t.read(spark, ref="audit_bad").filter(F.col("o_totalprice") <= 0).count()
    assert n_bad > 0, "bad batch must fail its audit"
    drop_ref(path, "audit_bad")


def iceberg_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish via branch refs (Iceberg WAP): stage each
    batch on an isolated branch, audit THAT branch, and publish by
    metadata-only fast-forward — the pattern that keeps a 100 TB main
    always-consistent while audits run on staged data. Also reads the
    immutable `v1` tag, proving ref time travel. The rejected batch's
    negated prices would shift every sum if branch isolation leaked.

    Beyond reference: its iceberg.rs is read-only single-ref
    (/root/reference/src/physical/operators/iceberg.rs:27-110); refs,
    WAP, and fast-forward are surplus matching real Iceberg semantics.
    """
    path = _wap_table(spark, sf_dir)
    t = IcebergLiteTable(path)

    def agg(df: DataFrame, scope: str) -> DataFrame:
        return df.groupBy(F.lit(scope).alias("scope"), "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )

    published = agg(t.read(spark), "published_main")
    at_tag = agg(t.read(spark, ref="v1"), "tag_v1")
    return published.unionByName(at_tag).orderBy("scope", "o_orderstatus")


ICEBERG_WAP_SQL = """
SELECT 'published_main' AS scope, o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n, round(SUM(o_totalprice), 4) AS total
FROM orders WHERE o_orderkey < 1000 GROUP BY o_orderstatus
UNION ALL
SELECT 'tag_v1' AS scope, o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n, round(SUM(o_totalprice), 4) AS total
FROM orders WHERE o_orderkey < 800 GROUP BY o_orderstatus
ORDER BY scope, o_orderstatus
"""


def snapshots_meta_rows(path: str) -> list[tuple]:
    """(snapshot_id, parent_id, operation, rows_added) per snapshot.
    Per-snapshot file inventories are keyed by id so rows_added diffs
    each snapshot against its PARENT's file set — not the previous
    snapshot in global id order, which on a table with interleaved
    branch commits can be an unrelated branch snapshot (ADVICE r6)."""
    import json as _json

    t = IcebergLiteTable(path)
    snaps = t.snapshots()
    file_counts: dict[int, dict[str, int]] = {}
    for s in snaps:
        with open(os.path.join(path, s["manifest_list"])) as f:
            manifests = _json.load(f)
        counts: dict[str, int] = {}
        for m in manifests:
            with open(os.path.join(path, m["manifest_path"])) as f:
                for e in _json.load(f)["entries"]:
                    df_entry = e["data_file"]
                    counts[df_entry["file_path"]] = df_entry.get("record_count", 0)
        file_counts[s["snapshot_id"]] = counts
    rows = []
    for s in snaps:
        parent = s.get("parent_snapshot_id")
        prev_files = set(file_counts.get(parent, {}))
        added = sum(
            rc
            for fp, rc in file_counts[s["snapshot_id"]].items()
            if fp not in prev_files
        )
        rows.append((s["snapshot_id"], parent, s["summary"]["operation"], added))
    return rows


def iceberg_snapshots_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg metadata tables (`table.snapshots` / `table.history`):
    per-snapshot operation, parent, and rows-added computed from the
    MANIFESTS ONLY — a metadata-scale scan (one JSON per snapshot,
    never touching data files), exactly how Iceberg's snapshots
    metadata table answers 'what changed when'. The oracle recomputes
    expected added-row counts from the deterministic fixture filters.

    Beyond reference: its iceberg.rs reads data snapshots but exposes
    no metadata relations (/root/reference/src/physical/operators/
    iceberg.rs:27-110)."""
    path = _table(spark, sf_dir)
    rows = snapshots_meta_rows(path)
    return spark.createDataFrame(
        rows, "snapshot_id bigint, parent_id bigint, operation string, rows_added bigint"
    ).orderBy("snapshot_id")


ICEBERG_SNAPSHOTS_META_SQL = """
SELECT 1 AS snapshot_id, CAST(NULL AS BIGINT) AS parent_id,
       'append' AS operation,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey < 500) AS rows_added
UNION ALL
SELECT 2, 1, 'append',
       (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 500 AND 999)
ORDER BY snapshot_id
"""


@_fixture("orders_orphan")
def _orphan_table(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """Two committed snapshots (orders <500, 500..999) plus planted
    uncommitted data files (orders 1000..1199) — the debris a crashed
    writer leaves: parquet under data/ that no manifest references."""
    import glob
    import shutil

    write_snapshot(orders.filter(F.col("o_orderkey") < 500), path)
    write_snapshot(orders.filter(F.col("o_orderkey").between(500, 999)), path)
    # plant the crashed write: data files bypassing the commit
    tmp = os.path.join(path, "_orphan_build")
    orders.filter(F.col("o_orderkey").between(1000, 1199)).coalesce(
        2
    ).write.mode("overwrite").parquet(tmp)
    for i, src in enumerate(sorted(glob.glob(os.path.join(tmp, "*.parquet")))):
        os.replace(src, os.path.join(path, "data", f"orphan-{i}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)


def iceberg_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg `remove_orphan_files` (dry run): detect data files no
    snapshot references, then prove detection found exactly the
    planted crashed-write debris by reading BOTH populations back —
    the live table through its manifests, the orphans directly.

    Beyond reference: its iceberg.rs is scan-only; table maintenance
    (expire / compact / orphan removal) is the 100 TB storage-
    amplification loop this repo adds
    (/root/reference/src/physical/operators/iceberg.rs:27-110)."""
    from ..sources.iceberg_lite import remove_orphan_files

    path = _orphan_table(spark, sf_dir)
    res = remove_orphan_files(path, dry_run=True)
    live = (
        IcebergLiteTable(path)
        .read(spark)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit("live").alias("kind"), "n_rows")
    )
    orphan_df = spark.read.parquet(
        *[os.path.join(path, rel) for rel in res.orphan_paths]
    )
    orphans = orphan_df.agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.lit("orphan").alias("kind"), "n_rows"
    )
    return live.unionByName(orphans).orderBy("kind")


ICEBERG_ORPHANS_SQL = """
SELECT 'live' AS kind, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders WHERE o_orderkey < 1000
UNION ALL
SELECT 'orphan', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_orderkey BETWEEN 1000 AND 1199
ORDER BY kind
"""


@_fixture("orders_evo")
def _evo_table(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """Schema-evolution fixture: snapshot 1 under (o_orderkey,
    o_totalprice); then RENAME o_totalprice→price and ADD channel
    (both metadata-only); snapshot 2 appends under the evolved names.
    Deterministic, so the oracle replays both eras from raw orders."""
    from ..sources.iceberg_lite import add_column, rename_column

    write_snapshot(
        orders.filter(F.col("o_orderkey") < 500).select("o_orderkey", "o_totalprice"),
        path,
    )
    rename_column(path, "o_totalprice", "price")
    add_column(path, "channel", "string")
    write_snapshot(
        orders.filter(F.col("o_orderkey").between(500, 999)).select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.col("o_orderstatus").alias("channel"),
        ),
        path,
    )


def iceberg_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg schema evolution read: files written before a RENAME
    resolve through field ids (no rewrite), files predating an ADDed
    column read it as NULL — one scan unifies both eras under the
    current schema. Beyond reference: its iceberg.rs reads one fixed
    schema (/root/reference/src/physical/operators/iceberg.rs:27-110)."""
    path = _evo_table(spark, sf_dir)
    df = IcebergLiteTable(path).read(spark)
    return (
        df.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price"), 2).alias("revenue"),
        )
        .orderBy(F.col("channel").asc_nulls_first())
    )


ICEBERG_SCHEMA_EVOLUTION_SQL = """
SELECT CASE WHEN o_orderkey < 500 THEN NULL ELSE o_orderstatus END AS channel,
  CAST(COUNT(*) AS BIGINT) AS n,
  round(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderkey < 1000
GROUP BY 1
ORDER BY channel ASC NULLS FIRST
"""


@_fixture("orders_pevo")
def _pevo_table(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """Partition-evolution fixture: snapshot 1 UNPARTITIONED
    (orders < 500), snapshot 2 partitioned by o_orderstatus
    (500..999) — two specs live in one table, as Iceberg allows."""
    write_snapshot(orders.filter(F.col("o_orderkey") < 500), path)
    write_snapshot(
        orders.filter(F.col("o_orderkey").between(500, 999)),
        path,
        partition_by="o_orderstatus",
    )


def iceberg_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution read: one scan over files written under
    TWO specs (unpartitioned era + o_orderstatus era); the partition
    filter prunes new-spec files and conservatively keeps old-spec
    files, and the exact filter on top restores correctness — Iceberg's
    mixed-spec contract. Beyond reference: iceberg.rs assumes a single
    spec (/root/reference/src/physical/operators/iceberg.rs:542-560)."""
    path = _pevo_table(spark, sf_dir)
    df = IcebergLiteTable(path).read(
        spark, partition_filters=[PartitionFilter("o_orderstatus", ["F", "O"])]
    )
    return (
        df.filter(F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


ICEBERG_PARTITION_EVOLUTION_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
  round(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderkey < 1000 AND o_orderstatus IN ('F', 'O')
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@_fixture("orders_rb")
def _rb_table(spark: SparkSession, orders: DataFrame, path: str) -> None:
    """Rollback fixture, built in one shot to a FIXED final state:
    snapshots 1..3 append orders [<300, 300..599, 600..899]; the third
    (the 'poisoned batch') is rolled back; snapshot 4 appends
    900..1199 on the rolled-back head. Deterministic, so the oracle
    replays both the final chain and the rollback point."""
    from ..sources.iceberg_lite import rollback_to_snapshot

    write_snapshot(orders.filter(F.col("o_orderkey") < 300), path)
    write_snapshot(orders.filter(F.col("o_orderkey").between(300, 599)), path)
    write_snapshot(orders.filter(F.col("o_orderkey").between(600, 899)), path)
    rollback_to_snapshot(path, 2)
    write_snapshot(orders.filter(F.col("o_orderkey").between(900, 1199)), path)


def iceberg_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg rollback_to_snapshot: after a poisoned batch is rolled
    back, the current chain shows [s1, s2, s4] — the bad snapshot's
    rows are invisible at the head AND at the rollback point, while
    time travel to the retained ancestor still works. Beyond
    reference: its iceberg.rs has no write/maintenance path at all."""
    path = _rb_table(spark, sf_dir)
    t = IcebergLiteTable(path)
    cur = t.read(spark).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    ).select(F.lit("current").alias("state"), "n", "revenue")
    rb = t.read(spark, snapshot_id=2).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    ).select(F.lit("rollback_point").alias("state"), "n", "revenue")
    return cur.unionByName(rb).orderBy("state")


ICEBERG_ROLLBACK_SQL = """
SELECT 'current' AS state, CAST(COUNT(*) AS BIGINT) AS n,
  round(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderkey < 600 OR o_orderkey BETWEEN 900 AND 1199
UNION ALL
SELECT 'rollback_point', CAST(COUNT(*) AS BIGINT),
  round(SUM(o_totalprice), 2)
FROM orders WHERE o_orderkey < 600
ORDER BY state
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "iceberg_rollback": iceberg_rollback,
    "iceberg_partition_evolution": iceberg_partition_evolution,
    "iceberg_schema_evolution": iceberg_schema_evolution,
    "iceberg_orphans": iceberg_orphans,
    "iceberg_snapshots_meta": iceberg_snapshots_meta,
    "iceberg_wap": iceberg_wap,
    "catalog_join": catalog_join,
    "iceberg_time_travel": iceberg_time_travel,
    "iceberg_pruned_scan": iceberg_pruned_scan,
    "iceberg_deletes": iceberg_deletes,
    "iceberg_upsert": iceberg_upsert,
    "iceberg_incremental": iceberg_incremental,
    "iceberg_incremental_agg": iceberg_incremental_agg,
    "iceberg_expire": iceberg_expire,
    "iceberg_scd2_merge": iceberg_scd2_merge,
}

ORACLE: dict[str, str] = {
    "iceberg_rollback": ICEBERG_ROLLBACK_SQL,
    "iceberg_partition_evolution": ICEBERG_PARTITION_EVOLUTION_SQL,
    "iceberg_schema_evolution": ICEBERG_SCHEMA_EVOLUTION_SQL,
    "iceberg_orphans": ICEBERG_ORPHANS_SQL,
    "iceberg_snapshots_meta": ICEBERG_SNAPSHOTS_META_SQL,
    "iceberg_wap": ICEBERG_WAP_SQL,
    "catalog_join": CATALOG_JOIN_SQL,
    "iceberg_time_travel": ICEBERG_TIME_TRAVEL_SQL,
    "iceberg_pruned_scan": ICEBERG_PRUNED_SCAN_SQL,
    "iceberg_deletes": ICEBERG_DELETES_SQL,
    "iceberg_upsert": ICEBERG_UPSERT_SQL,
    "iceberg_incremental": ICEBERG_INCREMENTAL_SQL,
    "iceberg_incremental_agg": ICEBERG_INCREMENTAL_AGG_SQL,
    "iceberg_expire": ICEBERG_EXPIRE_SQL,
    "iceberg_scd2_merge": ICEBERG_SCD2_MERGE_SQL,
}
