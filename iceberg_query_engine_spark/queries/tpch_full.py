"""The genuine TPC-H 22 — unadapted query texts over the full 8-table schema.

The driver's testdata is a slimmed star schema (no partsupp, fewer
columns), so queries/tpch.py runs *adapted* shapes. This module closes
that parity gap: it runs the reference's query texts **verbatim**
(/root/reference/src/tpch/queries.rs:70-660 — the reference's own
mild adaptations included: q9/q20 use ``LIKE 'Part 1%'``, q4 has no
EXISTS, q13/q16 drop the comment filters) over data produced by
``sources/generator.generate_tpch_full`` — all 8 tables, every TPC-H
column, partsupp included.

Correctness strategy — exact binary arithmetic instead of query
rewrites: the generator emits monetary/rate columns as multiples of
2^-4/2^-6, so products and SUMs are exactly-representable doubles.
Exact sums are order-independent, so Spark's parallel partial
aggregation and DuckDB's sequential sum produce bit-identical values
and the *same SQL text* passes a value-hash compare on both engines
(cf. the dsum() quantization queries/tpch.py needs for the driver's
non-binary-exact testdata).

Oracles are self-contained: each prefixes the verbatim text with CTEs
binding the 8 table names to the committed sf0.01 parquet under
``data/tpch_full/`` (CTEs shadow the driver's pre-registered views).
The one dialect accommodation lives on the ORACLE side only: q12's
SUM(CASE->1) is HUGEINT in DuckDB (pandas float), so its oracle wraps
the verbatim text with a BIGINT cast to match Spark's native type.

Scale: identical plans to queries/tpch.py (same joins/aggregations —
dim broadcasts, partial+final agg, TakeOrderedAndProject); partsupp
joins in q2/q9/q11/q16/q20 shuffle on ps_partkey/ps_suppkey, both
uniform by construction. See SCALE.md §TPC-H.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..sources.generator import generate_tpch_full

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FULL_DATA_ROOT = os.path.join(REPO_ROOT, "data", "tpch_full")
# The driver's correctness gate runs at sf0.01; oracles read this
# committed directory so they work regardless of execution order.
ORACLE_DIR = os.path.join(FULL_DATA_ROOT, "sf0.01")

FULL_TABLES = (
    "region",
    "nation",
    "supplier",
    "customer",
    "part",
    "partsupp",
    "orders",
    "lineitem",
)


def sf_of(sf_dir: str) -> float:
    """Parse the scale factor from a testdata dir name ('.../sf0.01')."""
    base = os.path.basename(os.path.normpath(sf_dir))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.01


def warehouse_table_dir(sf_name: str, table: str) -> str:
    """Path of a fact table's bucketed warehouse copy (may not exist)."""
    warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sg_warehouse")
    db = f"tpch_{sf_name.replace('.', '_')}"
    return os.path.join(warehouse, f"{db}.db", table)


def ensure_full_data(spark: SparkSession, sf_dir: str) -> str:
    """Return the full-schema data dir for sf_dir's scale, generating
    (deterministically) whichever tables' flat parquet is absent.
    sf0.001/sf0.01 ship committed in the repo, so the oracle scales
    never generate. The bucketed catalog layout is written from these flat
    files and never deletes them, so one check serves every reader."""
    base = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(FULL_DATA_ROOT, base)
    missing = {
        t for t in FULL_TABLES if not os.path.exists(os.path.join(out, f"{t}.parquet"))
    }
    if not missing:
        return out
    sf = sf_of(sf_dir)
    # Driver-side single-file concat only for the small committed
    # corpora (<= sf0.1); bench-scale corpora keep Spark's distributed
    # directory output (generator docstring; threshold aligned ADVICE r4).
    generate_tpch_full(
        spark,
        sf,
        out,
        single_file=sf <= 0.1,
        only=missing if missing != set(FULL_TABLES) else None,
    )
    return out


# Bumped whenever the canonical view names are re-pointed at the full
# schema; queries/subqueries._sql keys its registration memo on it so
# slim-schema SQL queries re-register instead of reading stale views.
REGISTRATION_EPOCH: list[int] = [0]


def _register(spark: SparkSession, data_dir: str) -> None:
    for t in FULL_TABLES:
        spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")).createOrReplaceTempView(t)
    REGISTRATION_EPOCH[0] += 1


# Storage-partitioned (bucketed) deployment layout: the fact tables a
# 100 TB warehouse co-locates on their join keys. lineitem/orders
# bucket on the orderkey (the 1:N fact-fact join q3/q4/q9/q12/q18/q21
# hit); partsupp buckets on its compound PK, which lineitem meets with
# (l_suppkey, l_partkey) in q9.
BUCKET_SPECS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "partsupp": ["ps_suppkey", "ps_partkey"],
}

# Above this size (or when registry.table_bytes cannot tell it) the
# bucketed write skips the one-file-per-bucket repartition: the
# exchange needs ~2x the table's parquet bytes in transient shuffle
# disk, which neither this VM nor a sane ingest pipeline pays for a
# layout nicety (see the write path below).
BUCKET_SHUFFLE_MAX_BYTES = 8 << 30


_BUCKET_SIDECAR = "_bucket_count"


def _bucket_count_of(loc: str, files: list[str]) -> int:
    """Bucket count a table was WRITTEN with. Source of truth is the
    sidecar file persisted at write time (ADVICE r5: inferring
    max(file bucket id)+1 under-declares when the highest bucket hashed
    no rows, and Spark would then silently mis-bucket every join).
    Legacy dirs without a sidecar fall back to inference ROUNDED UP to
    the next power of two — pick_bucket_count's contract — so an empty
    top bucket can't shrink the declared modulus."""
    sidecar = os.path.join(loc, _BUCKET_SIDECAR)
    if os.path.exists(sidecar):
        with open(sidecar) as fh:
            return int(fh.read().strip())
    ids = [
        int(m.group(1)) for f in files if (m := re.search(r"_(\d{5})\.c\d+", f))
    ]
    inferred = (max(ids) + 1) if ids else len(files)
    count = 1
    while count < inferred:
        count *= 2
    return max(count, 1)


def _write_bucket_sidecar(loc: str, buckets: int) -> None:
    try:
        with open(os.path.join(loc, _BUCKET_SIDECAR), "w") as fh:
            fh.write(str(buckets))
    except OSError:
        pass  # layout still re-attachable via the pow2-rounded inference


def pick_bucket_count(data_dir: str, floor: int = 64) -> int:
    """Size-aware bucket count: target ~256 MB of lineitem parquet per
    bucket file, floored at 64 and rounded to a power of two. sf10
    (1.9 GB lineitem) stays at the measured-best 64; sf100 (~19 GB)
    doubles to 128 so the one-file-per-bucket sorted write and the
    per-bucket scan tasks keep the same ~constant rows-per-task a
    cluster deployment targets, instead of growing with sf."""
    from ..sources.registry import table_bytes

    total = table_bytes(data_dir, "lineitem") or 0  # unknown size: the floor
    buckets = floor
    while buckets * 256 * 1024 * 1024 < total:
        buckets *= 2
    return buckets


def register_catalog_layout(
    spark: SparkSession,
    data_dir: str,
    sf_name: str,
    buckets: int | None = None,
    analyze: bool = True,
) -> str:
    """Register the full schema as CATALOG tables — fact tables
    bucketed+sorted on their join keys, dimensions external — and feed
    the CBO with column statistics. Returns the database name (set as
    current; temp views are dropped so the verbatim texts resolve to
    the catalog tables).

    This is the Spark answer to the reference's JoinReorder rule
    (join_reorder.rs; CLAUDE.md's Q9 336 s → 2.4 s): instead of a
    hand-built greedy order over in-memory hash joins, give Catalyst's
    CBO real NDV/row statistics and a co-located storage layout, and
    it reorders q9 to (lineitem ⋈ orders) first — an EXCHANGE-FREE
    sort-merge join over co-bucketed scans — with the part runtime
    bloom filter reaching the lineitem scan, leaving ONE big exchange
    (the joined stream meeting bucketed partsupp). Measured at sf10:
    the same shape a 1000-executor cluster wants, since bucketed scans
    shard by bucket file.

    Idempotent per process; the bucketed write happens once per
    warehouse (re-registered from the existing files on later
    sessions via CREATE TABLE ... CLUSTERED BY ... LOCATION). The flat
    parquet stays where it is: dimensions are registered on it, and the
    facts' bucketed copies are written from it.
    """
    from ..sources.registry import table_bytes

    if buckets is None:
        buckets = pick_bucket_count(data_dir)
    db = f"tpch_{sf_name.replace('.', '_')}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for t in FULL_TABLES:
        full = f"{db}.{t}"
        if spark.catalog.tableExists(full):
            continue
        path = os.path.join(data_dir, f"{t}.parquet")
        if t in BUCKET_SPECS:
            cols = BUCKET_SPECS[t]
            warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix(
                "file:"
            )
            loc = os.path.join(warehouse, f"{db}.db", t)
            existing = (
                [f for f in os.listdir(loc) if f.endswith(".parquet")]
                if os.path.isdir(loc)
                else []
            )
            if existing:
                # Files from a prior session: re-attach with the bucket
                # spec they were WRITTEN with — a mismatched declared
                # count would silently mis-bucket every join. Per-table
                # LOCAL count (ADVICE r5: reassigning the loop-shared
                # `buckets` leaked one table's inferred count into the
                # next table's fresh write). Schema comes from the
                # warehouse files themselves.
                t_buckets = _bucket_count_of(loc, existing)
                schema = spark.read.parquet(loc).schema
                ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
                spark.sql(
                    f"CREATE TABLE {full} ({ddl}) USING parquet "
                    f"CLUSTERED BY ({', '.join(cols)}) "
                    f"SORTED BY ({', '.join(cols)}) INTO {t_buckets} BUCKETS "
                    f"LOCATION '{loc}'"
                )
            elif (size := table_bytes(data_dir, t)) is not None and (
                size <= BUCKET_SHUFFLE_MAX_BYTES
            ):
                # one file per bucket so sorted-bucket scans stay sorted
                src = spark.read.parquet(path)
                (
                    src.repartition(buckets, *cols)
                    .write.bucketBy(buckets, *cols)
                    .sortBy(*cols)
                    .saveAsTable(full)
                )
                _write_bucket_sidecar(loc, buckets)
            else:
                # Big facts (sf100 lineitem = 19 GB parquet), or a size
                # the walker cannot read (the safe side): the
                # repartition exchange row-serializes the whole table
                # (~2x parquet bytes of transient shuffle disk), which a
                # single-disk bench box can't hold and a 1000-executor
                # ingest wouldn't pay either. Write SHUFFLE-FREE: each
                # input task buckets+sorts its own rows, yielding
                # n_tasks files per bucket. Joins stay exchange-free
                # (bucketed scan → one task per bucket); the only cost
                # is an in-task merge sort before SMJ, which AQE-size
                # tasks absorb. coalesce bounds the per-bucket file
                # count without any shuffle.
                src = spark.read.parquet(path)
                (
                    src.coalesce(2 * int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
                    .write.bucketBy(buckets, *cols)
                    .sortBy(*cols)
                    .saveAsTable(full)
                )
                _write_bucket_sidecar(loc, buckets)
        else:
            spark.sql(f"CREATE TABLE {full} USING parquet LOCATION '{path}'")
        if analyze:
            spark.sql(f"ANALYZE TABLE {full} COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.catalog.setCurrentDatabase(db)
    for t in FULL_TABLES:
        try:
            spark.catalog.dropTempView(t)
        except Exception:
            pass
    return db


def _run(n: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..plans.rewrites import apply_rewrites

        _register(spark, ensure_full_data(spark, sf_dir))
        # dialect-layer rewrites (q9 selective semi-join pushdown);
        # semantics-preserving — the driver's DuckDB gate compares this
        # rewritten plan against the UN-rewritten oracle every round
        return spark.sql(apply_rewrites(QUERY_TEXTS[n]))

    fn.__name__ = f"tpchfull_q{n}"
    fn.__doc__ = (
        f"TPC-H Q{n}, verbatim text of /root/reference/src/tpch/queries.rs, "
        "over the full 8-table generated schema."
    )
    return fn


def _oracle(n: int) -> str:
    """Verbatim text prefixed with CTEs binding tables to committed parquet."""
    defs = ",\n".join(
        f"{t} AS (SELECT * FROM read_parquet('{os.path.join(ORACLE_DIR, t)}.parquet'))"
        for t in FULL_TABLES
    )
    text = QUERY_TEXTS[n].strip()
    if text.upper().startswith("WITH"):
        # merge the query's own CTEs (q15) into ours
        body = "WITH " + defs + ",\n" + text[4:].lstrip()
    else:
        body = "WITH " + defs + "\n" + text
    if n == 12:
        # DuckDB SUM(int) is HUGEINT (pandas float); Spark's is BIGINT.
        # Oracle-side cast only — the engine text stays verbatim.
        return (
            "SELECT l_shipmode, CAST(high_line_count AS BIGINT) AS high_line_count, "
            "CAST(low_line_count AS BIGINT) AS low_line_count FROM (" + body + ") q12"
        )
    return body


# ---------------------------------------------------------------------------
# Query texts — verbatim from /root/reference/src/tpch/queries.rs (public
# TPC-H spec SQL with the reference's documented adaptations).
# ---------------------------------------------------------------------------

QUERY_TEXTS: dict[int, str] = {}

QUERY_TEXTS[1] = """
SELECT
    l_returnflag,
    l_linestatus,
    SUM(l_quantity) AS sum_qty,
    SUM(l_extendedprice) AS sum_base_price,
    SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
    SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
    AVG(l_quantity) AS avg_qty,
    AVG(l_extendedprice) AS avg_price,
    AVG(l_discount) AS avg_disc,
    COUNT(*) AS count_order
FROM
    lineitem
WHERE
    l_shipdate <= DATE '1998-09-02'
GROUP BY
    l_returnflag,
    l_linestatus
ORDER BY
    l_returnflag,
    l_linestatus
"""

QUERY_TEXTS[2] = """
SELECT
    s_acctbal,
    s_name,
    n_name,
    p_partkey,
    p_mfgr,
    s_address,
    s_phone,
    s_comment
FROM
    part,
    supplier,
    partsupp,
    nation,
    region
WHERE
    p_partkey = ps_partkey
    AND s_suppkey = ps_suppkey
    AND p_size = 15
    AND s_nationkey = n_nationkey
    AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE'
ORDER BY
    s_acctbal DESC,
    n_name,
    s_name,
    p_partkey
LIMIT 100
"""

QUERY_TEXTS[3] = """
SELECT
    l_orderkey,
    SUM(l_extendedprice * (1 - l_discount)) AS revenue,
    o_orderdate,
    o_shippriority
FROM
    customer,
    orders,
    lineitem
WHERE
    c_mktsegment = 'BUILDING'
    AND c_custkey = o_custkey
    AND l_orderkey = o_orderkey
    AND o_orderdate < DATE '1995-03-15'
    AND l_shipdate > DATE '1995-03-15'
GROUP BY
    l_orderkey,
    o_orderdate,
    o_shippriority
ORDER BY
    revenue DESC,
    o_orderdate
LIMIT 10
"""

QUERY_TEXTS[4] = """
SELECT
    o_orderpriority,
    COUNT(*) AS order_count
FROM
    orders
WHERE
    o_orderdate >= DATE '1993-07-01'
    AND o_orderdate < DATE '1993-10-01'
GROUP BY
    o_orderpriority
ORDER BY
    o_orderpriority
"""

QUERY_TEXTS[5] = """
SELECT
    n_name,
    SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM
    customer,
    orders,
    lineitem,
    supplier,
    nation,
    region
WHERE
    c_custkey = o_custkey
    AND l_orderkey = o_orderkey
    AND l_suppkey = s_suppkey
    AND c_nationkey = s_nationkey
    AND s_nationkey = n_nationkey
    AND n_regionkey = r_regionkey
    AND r_name = 'ASIA'
    AND o_orderdate >= DATE '1994-01-01'
    AND o_orderdate < DATE '1995-01-01'
GROUP BY
    n_name
ORDER BY
    revenue DESC
"""

QUERY_TEXTS[6] = """
SELECT
    SUM(l_extendedprice * l_discount) AS revenue
FROM
    lineitem
WHERE
    l_shipdate >= DATE '1994-01-01'
    AND l_shipdate < DATE '1995-01-01'
    AND l_discount >= 0.05
    AND l_discount <= 0.07
    AND l_quantity < 24
"""

QUERY_TEXTS[7] = """
SELECT
    n1.n_name AS supp_nation,
    n2.n_name AS cust_nation,
    EXTRACT(YEAR FROM l_shipdate) AS l_year,
    SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM
    supplier,
    lineitem,
    orders,
    customer,
    nation n1,
    nation n2
WHERE
    s_suppkey = l_suppkey
    AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
        OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
    AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
GROUP BY
    n1.n_name,
    n2.n_name,
    EXTRACT(YEAR FROM l_shipdate)
ORDER BY
    supp_nation,
    cust_nation,
    l_year
"""

QUERY_TEXTS[8] = """
SELECT
    EXTRACT(YEAR FROM o_orderdate) AS o_year,
    SUM(CASE WHEN n2.n_name = 'BRAZIL' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) / SUM(l_extendedprice * (1 - l_discount)) AS mkt_share
FROM
    part,
    supplier,
    lineitem,
    orders,
    customer,
    nation n1,
    nation n2,
    region
WHERE
    p_partkey = l_partkey
    AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey
    AND r_name = 'AMERICA'
    AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    AND p_type = 'STANDARD ANODIZED TIN'
GROUP BY
    EXTRACT(YEAR FROM o_orderdate)
ORDER BY
    o_year
"""

QUERY_TEXTS[9] = """
SELECT
    n_name AS nation,
    EXTRACT(YEAR FROM o_orderdate) AS o_year,
    SUM(l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity) AS sum_profit
FROM
    part,
    supplier,
    lineitem,
    partsupp,
    orders,
    nation
WHERE
    s_suppkey = l_suppkey
    AND ps_suppkey = l_suppkey
    AND ps_partkey = l_partkey
    AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey
    AND s_nationkey = n_nationkey
    AND p_name LIKE 'Part 1%'
GROUP BY
    n_name,
    EXTRACT(YEAR FROM o_orderdate)
ORDER BY
    nation,
    o_year DESC
"""

QUERY_TEXTS[10] = """
SELECT
    c_custkey,
    c_name,
    SUM(l_extendedprice * (1 - l_discount)) AS revenue,
    c_acctbal,
    n_name,
    c_address,
    c_phone,
    c_comment
FROM
    customer,
    orders,
    lineitem,
    nation
WHERE
    c_custkey = o_custkey
    AND l_orderkey = o_orderkey
    AND o_orderdate >= DATE '1993-10-01'
    AND o_orderdate < DATE '1994-01-01'
    AND l_returnflag = 'R'
    AND c_nationkey = n_nationkey
GROUP BY
    c_custkey,
    c_name,
    c_acctbal,
    c_phone,
    n_name,
    c_address,
    c_comment
ORDER BY
    revenue DESC
LIMIT 20
"""

QUERY_TEXTS[11] = """
SELECT
    ps_partkey,
    SUM(ps_supplycost * ps_availqty) AS value
FROM
    partsupp,
    supplier,
    nation
WHERE
    ps_suppkey = s_suppkey
    AND s_nationkey = n_nationkey
    AND n_name = 'GERMANY'
GROUP BY
    ps_partkey
HAVING
    SUM(ps_supplycost * ps_availqty) > (
        SELECT SUM(ps_supplycost * ps_availqty) * 0.0001
        FROM partsupp, supplier, nation
        WHERE ps_suppkey = s_suppkey
        AND s_nationkey = n_nationkey
        AND n_name = 'GERMANY'
    )
ORDER BY
    value DESC
LIMIT 100
"""

QUERY_TEXTS[12] = """
SELECT
    l_shipmode,
    SUM(CASE
        WHEN o_orderpriority = '1-URGENT'
            OR o_orderpriority = '2-HIGH'
            THEN 1
        ELSE 0
    END) AS high_line_count,
    SUM(CASE
        WHEN o_orderpriority <> '1-URGENT'
            AND o_orderpriority <> '2-HIGH'
            THEN 1
        ELSE 0
    END) AS low_line_count
FROM
    orders,
    lineitem
WHERE
    o_orderkey = l_orderkey
    AND l_shipmode IN ('MAIL', 'SHIP')
    AND l_commitdate < l_receiptdate
    AND l_shipdate < l_commitdate
    AND l_receiptdate >= DATE '1994-01-01'
    AND l_receiptdate < DATE '1995-01-01'
GROUP BY
    l_shipmode
ORDER BY
    l_shipmode
"""

QUERY_TEXTS[13] = """
SELECT
    c_count,
    COUNT(*) AS custdist
FROM (
    SELECT
        c_custkey,
        COUNT(o_orderkey) AS c_count
    FROM
        customer
        LEFT OUTER JOIN orders ON c_custkey = o_custkey
    GROUP BY
        c_custkey
) AS c_orders
GROUP BY
    c_count
ORDER BY
    custdist DESC,
    c_count DESC
LIMIT 100
"""

QUERY_TEXTS[14] = """
SELECT
    SUM(l_extendedprice * (1 - l_discount)) AS promo_revenue
FROM
    lineitem,
    part
WHERE
    l_partkey = p_partkey
    AND l_shipdate >= DATE '1995-09-01'
    AND l_shipdate < DATE '1995-10-01'
"""

QUERY_TEXTS[15] = """
WITH revenue AS (
    SELECT
        l_suppkey,
        SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
    FROM
        lineitem
    WHERE
        l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
    GROUP BY
        l_suppkey
)
SELECT
    s_suppkey,
    s_name,
    s_address,
    s_phone,
    total_revenue
FROM
    supplier,
    revenue
WHERE
    s_suppkey = revenue.l_suppkey
    AND total_revenue = (
        SELECT MAX(total_revenue)
        FROM revenue
    )
ORDER BY
    total_revenue DESC
"""

QUERY_TEXTS[16] = """
SELECT
    p_brand,
    p_type,
    p_size,
    COUNT(ps_suppkey) AS supplier_cnt
FROM
    partsupp,
    part
WHERE
    p_partkey = ps_partkey
    AND p_brand <> 'Brand#45'
    AND p_size >= 1
GROUP BY
    p_brand,
    p_type,
    p_size
ORDER BY
    supplier_cnt DESC,
    p_brand,
    p_type,
    p_size
LIMIT 100
"""

QUERY_TEXTS[17] = """
SELECT
    SUM(l_extendedprice) / 7.0 AS avg_yearly
FROM
    lineitem,
    part
WHERE
    p_partkey = l_partkey
    AND p_brand = 'Brand#23'
    AND p_container = 'MED BOX'
    AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity)
        FROM lineitem
        WHERE l_partkey = p_partkey
    )
"""

QUERY_TEXTS[18] = """
SELECT
    c_name,
    c_custkey,
    o_orderkey,
    o_orderdate,
    o_totalprice,
    SUM(l_quantity) AS total_quantity
FROM
    customer,
    orders,
    lineitem
WHERE
    c_custkey = o_custkey
    AND o_orderkey = l_orderkey
GROUP BY
    c_name,
    c_custkey,
    o_orderkey,
    o_orderdate,
    o_totalprice
ORDER BY
    o_totalprice DESC,
    o_orderdate
LIMIT 100
"""

QUERY_TEXTS[19] = """
SELECT
    SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM
    lineitem,
    part
WHERE
    p_partkey = l_partkey
    AND (
        (p_brand = 'Brand#12'
        AND p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
        AND l_quantity >= 1 AND l_quantity <= 11)
        OR (p_brand = 'Brand#23'
        AND p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
        AND l_quantity >= 10 AND l_quantity <= 20)
        OR (p_brand = 'Brand#34'
        AND p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
        AND l_quantity >= 20 AND l_quantity <= 30)
    )
    AND (
        (p_brand = 'Brand#12' AND l_shipmode IN ('AIR', 'AIR REG'))
        OR (p_brand = 'Brand#23' AND l_shipmode IN ('AIR', 'AIR REG'))
        OR (p_brand = 'Brand#34' AND l_shipmode IN ('AIR', 'AIR REG'))
    )
"""

QUERY_TEXTS[20] = """
SELECT
    s_name,
    s_address
FROM
    supplier,
    nation
WHERE
    s_suppkey IN (
        SELECT ps_suppkey
        FROM partsupp
        WHERE ps_partkey IN (
            SELECT p_partkey
            FROM part
            WHERE p_name LIKE 'Part 1%'
        )
        AND ps_availqty > (
            SELECT 0.5 * SUM(l_quantity)
            FROM lineitem
            WHERE l_partkey = ps_partkey
            AND l_suppkey = ps_suppkey
            AND l_shipdate >= DATE '1994-01-01'
            AND l_shipdate < DATE '1995-01-01'
        )
    )
    AND s_nationkey = n_nationkey
    AND n_name = 'CANADA'
ORDER BY
    s_name
"""

QUERY_TEXTS[21] = """
SELECT
    s_name,
    COUNT(*) AS numwait
FROM
    supplier,
    lineitem l1,
    orders,
    nation
WHERE
    s_suppkey = l1.l_suppkey
    AND o_orderkey = l1.l_orderkey
    AND o_orderstatus = 'F'
    AND l1.l_receiptdate > l1.l_commitdate
    AND EXISTS (
        SELECT *
        FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT *
        FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_receiptdate > l3.l_commitdate
    )
    AND s_nationkey = n_nationkey
    AND n_name = 'SAUDI ARABIA'
GROUP BY
    s_name
ORDER BY
    numwait DESC,
    s_name
LIMIT 100
"""

QUERY_TEXTS[22] = """
SELECT
    cntrycode,
    COUNT(*) AS numcust,
    SUM(c_acctbal) AS totacctbal
FROM (
    SELECT
        SUBSTRING(c_phone FROM 1 FOR 2) AS cntrycode,
        c_acctbal
    FROM
        customer
    WHERE
        SUBSTRING(c_phone FROM 1 FOR 2) IN ('13', '31', '23', '29', '30', '18', '17')
        AND c_acctbal > (
            SELECT AVG(c_acctbal)
            FROM customer
            WHERE c_acctbal > 0.00
            AND SUBSTRING(c_phone FROM 1 FOR 2) IN ('13', '31', '23', '29', '30', '18', '17')
        )
        AND NOT EXISTS (
            SELECT *
            FROM orders
            WHERE o_custkey = c_custkey
        )
) AS custsale
GROUP BY
    cntrycode
ORDER BY
    cntrycode
"""

QUERIES = {f"tpchfull_q{n}": _run(n) for n in range(1, 23)}
ORACLE = {f"tpchfull_q{n}": _oracle(n) for n in range(1, 23)}
