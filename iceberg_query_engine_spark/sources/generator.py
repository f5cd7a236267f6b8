"""Distributed TPC-H-ish data generator (CLI `generate-parquet`).

Counterpart of the reference's generator (/root/reference/src/tpch/
generator.rs, seed 42; CLI `generate-parquet`, src/main.rs:59-75) —
but distributed: every table is `spark.range(n)` plus deterministic
hash-derived column expressions, so generation is embarrassingly
parallel with NO driver-side data. dbgen at 100 TB is exactly this
shape: scale-out row-id ranges, per-row pure functions, direct
parquet writes from every executor.

Determinism: all pseudo-randomness is xxhash64(id, salt) — same
output for the same (sf, seed) on any cluster layout. Schemas match
/root/testdata exactly (TESTDATA.md); value distributions are
synthetic look-alikes, not dbgen-exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
FLAGS = ["A", "N", "R"]
BRANDS = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
TYPES = [
    f"{a} {b} {c}"
    for a in ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
    for b in ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
    for c in ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
]
EVENT_TYPES = ["click", "view", "purchase", "scroll", "hover"]
LANGS = ["en", "es", "fr", "de", "zh"]
VOCAB = [
    "the", "a", "of", "and", "table", "row", "scan", "fast", "slow",
    "value", "part", "hash", "merge", "batch", "spark", "window",
    "key", "agg", "join", "sort", "query", "data", "column", "order",
    "small", "big", "line", "customer", "stream", "group", "filter",
    "vector",
]
EMBED_DIM = 64


def _u(id_col, salt: int):
    """Deterministic uniform [0, 1) double from (id, salt)."""
    return (
        F.pmod(F.xxhash64(id_col, F.lit(salt), F.lit(SEED)), F.lit(1_000_000))
        / 1_000_000.0
    )


def _pick(id_col, salt: int, options: list[str]):
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(
        arr,
        (F.pmod(F.xxhash64(id_col, F.lit(salt), F.lit(SEED)), F.lit(len(options))) + 1)
        .cast("int"),
    )


def _ts(id_col, salt: int, start: str, days: int, unit: str = "us"):
    """Deterministic timestamp in [start, start + days), emitted as an
    epoch int64 in `unit` — the arrow finalize step reinterprets it as
    parquet timestamp[unit], matching the driver's testdata encodings
    (all µs since the round-2 regeneration; the ms/ns paths remain for
    foreign corpora — sources/registry.py normalizes ns under
    nanosAsLong)."""
    mult = {"ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}[unit]
    offset = F.pmod(F.xxhash64(id_col, F.lit(salt), F.lit(SEED)), F.lit(days * 86400))
    return (
        (F.unix_timestamp(F.lit(start).cast("timestamp")) + offset) * F.lit(mult)
    ).cast("long")


# epoch-long columns finalized to parquet timestamp[unit] (testdata encodings)
_TS_COLS = {
    "orders": [("o_orderdate", "us")],
    "lineitem": [("l_shipdate", "us")],
    "events": [("ts", "us")],
}


def _finalize_single_file(
    tmp_dir: str, dest: str, ts_cols: list[tuple[str, str]]
) -> int:
    """Concatenate Spark's partitioned output into ONE `<table>.parquet`
    file, reinterpreting epoch-long columns as timestamp[unit] —
    footer-compatible with /root/testdata (single file per table,
    µs timestamp encodings). This pass is driver-side by design at
    test scale; at cluster scale you keep Spark's directory output
    (µs timestamps) and skip it."""
    import shutil

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    table = ds.dataset(tmp_dir, format="parquet").to_table()
    for c, unit in ts_cols:
        idx = table.schema.get_field_index(c)
        table = table.set_column(idx, c, table.column(c).cast(pa.timestamp(unit)))
    # drop Spark's embedded row-metadata: it still declares the epoch
    # longs as LONG, and Spark trusts it over the parquet logical type
    table = table.replace_schema_metadata(None)
    # Bounded row groups: pyarrow's default (1Mi rows) can put an entire
    # multi-hundred-MB table into ONE row group, and Spark cannot split
    # inside a row group — every downstream scan stage then runs on ONE
    # task no matter how many cores the session has. (Found by the r5
    # sf100 pipeline sweep: 10x the data ran FASTER than the sf10
    # single-file corpus because the directory output parallelized.)
    pq.write_table(table, dest, row_group_size=65536)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return table.num_rows


def generate_tpch(
    spark: SparkSession,
    sf: float,
    out_dir: str,
    single_file: bool = True,
    only: set[str] | None = None,
) -> dict[str, int]:
    """Write all ten tables at scale factor `sf`; returns row counts.
    Row counts mirror /root/testdata (TESTDATA.md): lineitem ≈ 6M·sf.

    single_file=True concatenates each table to one `<t>.parquet` file
    (footer-compatible with /root/testdata); past sf~1 the driver-side
    concat stops paying — pass False to keep Spark's distributed
    directory output (epoch-long ts columns are cast to real
    timestamps Spark-side instead of in the Arrow finalize).
    `only` restricts to a subset — every table is an independent pure
    function of spark.range, so any subset is self-consistent (the
    pipeline sweeps need just documents+embeddings, not a 600M-row
    lineitem rebuild)."""
    os.makedirs(out_dir, exist_ok=True)
    n_supp = max(1, int(10_000 * sf))
    n_cust = max(1, int(150_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_doc = max(1, int(50_000 * sf))

    def write(df: DataFrame, name: str) -> int:
        if only is not None and name not in only:
            return -1
        dest = os.path.join(out_dir, f"{name}.parquet")
        if not single_file:
            for c, unit in _TS_COLS.get(name, []):
                to_ts = {"us": F.timestamp_micros, "ms": F.timestamp_millis}[unit]
                df = df.withColumn(c, to_ts(F.col(c)))
            # match /root/testdata's timestamp[us] encoding — the stock
            # INT96 output reads back as arrow timestamp[ns], which
            # downstream footer-driven readers must special-case
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
            df.write.mode("overwrite").parquet(dest)
            return spark.read.parquet(dest).count()
        tmp = os.path.join(out_dir, f"_tmp_{name}")
        df.write.mode("overwrite").parquet(tmp)
        return _finalize_single_file(tmp, dest, _TS_COLS.get(name, []))

    counts = {}
    region = spark.range(5).select(
        F.col("id").cast("int").alias("r_regionkey"),
        _pick_exact("id", REGIONS).alias("r_name"),
    )
    counts["region"] = write(region, "region")

    nation = spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        _pick_exact("id", NATIONS).alias("n_name"),
        (F.col("id") % 5).cast("int").alias("n_regionkey"),
    )
    counts["nation"] = write(nation, "nation")

    supplier = spark.range(n_supp).select(
        F.col("id").alias("s_suppkey"),
        F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
        (F.pmod(F.xxhash64("id", F.lit(1), F.lit(SEED)), F.lit(25)))
        .cast("int")
        .alias("s_nationkey"),
        F.round(_u(F.col("id"), 2) * 11_000 - 1_000, 2).alias("s_acctbal"),
    )
    counts["supplier"] = write(supplier, "supplier")

    customer = spark.range(n_cust).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        (F.pmod(F.xxhash64("id", F.lit(3), F.lit(SEED)), F.lit(25)))
        .cast("int")
        .alias("c_nationkey"),
        F.round(_u(F.col("id"), 4) * 11_000 - 1_000, 2).alias("c_acctbal"),
        _pick(F.col("id"), 5, SEGMENTS).alias("c_mktsegment"),
    )
    counts["customer"] = write(customer, "customer")

    part = spark.range(n_part).select(
        F.col("id").alias("p_partkey"),
        F.format_string("part %d name", F.col("id")).alias("p_name"),
        _pick(F.col("id"), 6, BRANDS).alias("p_brand"),
        _pick(F.col("id"), 7, TYPES).alias("p_type"),
        (F.pmod(F.xxhash64("id", F.lit(8), F.lit(SEED)), F.lit(50)) + 1)
        .cast("int")
        .alias("p_size"),
        F.round(900 + _u(F.col("id"), 9) * 1_200, 2).alias("p_retailprice"),
    )
    counts["part"] = write(part, "part")

    orders = spark.range(n_ord).select(
        F.col("id").alias("o_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(10), F.lit(SEED)), F.lit(n_cust)).alias(
            "o_custkey"
        ),
        _pick(F.col("id"), 11, STATUSES).alias("o_orderstatus"),
        F.round(1_000 + _u(F.col("id"), 12) * 450_000, 2).alias("o_totalprice"),
        _ts(F.col("id"), 13, "1992-01-01 00:00:00", 2400, "us").alias("o_orderdate"),
        _pick(F.col("id"), 14, PRIORITIES).alias("o_orderpriority"),
    )
    counts["orders"] = write(orders, "orders")

    lineitem = (
        spark.range(n_ord)
        .select(
            F.col("id").alias("l_orderkey"),
            F.explode(
                F.sequence(
                    F.lit(1),
                    (F.pmod(F.xxhash64("id", F.lit(15), F.lit(SEED)), F.lit(7)) + 1)
                    .cast("int"),
                )
            ).alias("l_linenumber"),
        )
        .select(
            "l_orderkey",
            F.pmod(
                F.xxhash64("l_orderkey", "l_linenumber", F.lit(16), F.lit(SEED)),
                F.lit(n_part),
            ).alias("l_partkey"),
            F.pmod(
                F.xxhash64("l_orderkey", "l_linenumber", F.lit(17), F.lit(SEED)),
                F.lit(n_supp),
            ).alias("l_suppkey"),
            F.col("l_linenumber").cast("int").alias("l_linenumber"),
            (
                F.pmod(
                    F.xxhash64("l_orderkey", "l_linenumber", F.lit(18), F.lit(SEED)),
                    F.lit(50),
                )
                + 1
            )
            .cast("double")
            .alias("l_quantity"),
            F.round(
                _u(F.xxhash64("l_orderkey", "l_linenumber"), 19) * 100_000 + 900, 2
            ).alias("l_extendedprice"),
            (
                F.pmod(
                    F.xxhash64("l_orderkey", "l_linenumber", F.lit(20), F.lit(SEED)),
                    F.lit(11),
                )
                / 100.0
            ).alias("l_discount"),
            (
                F.pmod(
                    F.xxhash64("l_orderkey", "l_linenumber", F.lit(21), F.lit(SEED)),
                    F.lit(9),
                )
                / 100.0
            ).alias("l_tax"),
            _pick(F.xxhash64("l_orderkey", "l_linenumber"), 22, FLAGS).alias(
                "l_returnflag"
            ),
            _pick(F.xxhash64("l_orderkey", "l_linenumber"), 23, ["F", "O"]).alias(
                "l_linestatus"
            ),
            _ts(
                F.xxhash64("l_orderkey", "l_linenumber"),
                24,
                "1992-01-03 00:00:00",
                2400,
                "us",
            ).alias("l_shipdate"),
        )
    )
    counts["lineitem"] = write(lineitem, "lineitem")

    events = spark.range(n_ev).select(
        F.col("id").alias("event_id"),
        _ts(F.col("id"), 25, "2024-01-01 00:00:00", 30, "us").alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(26), F.lit(SEED)), F.lit(max(1, n_ev // 100)))
        .alias("user_id"),
        _pick(F.col("id"), 27, EVENT_TYPES).alias("event_type"),
        F.round(_u(F.col("id"), 28) * 100, 4).alias("value"),
        F.to_json(
            F.struct(
                F.pmod(F.xxhash64("id", F.lit(29), F.lit(SEED)), F.lit(10)).alias("p")
            )
        ).alias("props"),
    )
    counts["events"] = write(events, "events")

    n_toks = (F.pmod(F.xxhash64("id", F.lit(30), F.lit(SEED)), F.lit(90)) + 10).cast(
        "int"
    )
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_toks),
            lambda i: F.element_at(
                F.array(*[F.lit(w) for w in VOCAB]),
                (
                    F.pmod(F.xxhash64(F.col("id"), i, F.lit(SEED)), F.lit(len(VOCAB)))
                    + 1
                ).cast("int"),
            ),
        ),
        " ",
    )
    documents = spark.range(n_doc).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        _pick(F.col("id"), 31, LANGS).alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.xxhash64("id", F.lit(32), F.lit(SEED)), F.lit(20)))
        .alias("source"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    counts["documents"] = write(documents, "documents")

    embedding = F.transform(
        F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
        lambda i: (
            (
                F.pmod(F.xxhash64(F.col("id"), i, F.lit(SEED)), F.lit(2_000_001))
                - 1_000_000
            )
            / 1_000_000.0
        ).cast("float"),
    )
    embeddings = spark.range(n_doc).select(
        F.col("id").alias("vec_id"),
        embedding.alias("embedding"),
        F.pmod(F.xxhash64("id", F.lit(33), F.lit(SEED)), F.lit(10))
        .cast("int")
        .alias("label"),
    )
    counts["embeddings"] = write(embeddings, "embeddings")
    return counts


def _pick_exact(id_col: str, options: list[str]):
    """id-indexed (not hashed) pick — for the fixed region/nation lists."""
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (F.col(id_col) % len(options) + 1).cast("int"))


# ---------------------------------------------------------------------------
# Full TPC-H schema generator (all 8 tables, every column, incl. partsupp)
# ---------------------------------------------------------------------------
#
# Counterpart of the reference's full generator (/root/reference/src/tpch/
# generator.rs) so the *unadapted* 22 query texts of
# /root/reference/src/tpch/queries.rs run as-is (queries/tpch_full.py).
#
# Exactness contract with the DuckDB oracle: every monetary/rate column
# is an exact binary fraction (multiples of 2^-4 or 2^-6), so products
# like l_extendedprice*(1-l_discount)*(1+l_tax) are exactly
# representable doubles and their SUMs are exact integers in units of
# 2^-16 — order-independent and bit-identical across Spark's parallel
# partial aggregation and DuckDB's sequential sum (numerators stay
# < 2^53 through sf0.1). That is what lets the unadapted SQL pass a
# value-hash compare without any dsum-style quantization.

# Real TPC-H nationkey -> regionkey mapping (public spec, dbgen nations.tbl)
TPCH_NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
CONTAINERS = [
    f"{a} {b}"
    for a in ["SM", "LG", "MED", "JUMBO", "WRAP"]
    for b in ["CASE", "BOX", "BAG", "JAR", "PKG", "PACK", "CAN", "DRUM"]
]
SHIPMODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
SHIPINSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
MFGRS = [f"Manufacturer#{i}" for i in range(1, 6)]
BASE_DATE = "1992-01-01"
ORDERDATE_DAYS = 2406  # 1992-01-01 .. 1998-08-03


def _money16(id_col, salt: int, lo: int, hi: int):
    """Exact 1/16-step double in [lo, hi) — binary-exact, sum-stable."""
    return (
        F.pmod(F.xxhash64(id_col, F.lit(salt), F.lit(SEED)), F.lit((hi - lo) * 16))
        / 16.0
        + F.lit(float(lo))
    )


def _date_col(id_col, salt: int, days: int, base: str = BASE_DATE):
    """Deterministic DATE in [base, base + days)."""
    return F.date_add(
        F.lit(base).cast("date"),
        F.pmod(F.xxhash64(id_col, F.lit(salt), F.lit(SEED)), F.lit(days)).cast("int"),
    )


def _words(id_col, salt: int, lo: int, hi: int):
    """Deterministic comment text: lo..hi words from VOCAB."""
    n = (F.pmod(F.xxhash64(id_col, F.lit(salt), F.lit(SEED)), F.lit(hi - lo)) + lo).cast(
        "int"
    )
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.element_at(
                F.array(*[F.lit(w) for w in VOCAB]),
                (
                    F.pmod(
                        F.xxhash64(id_col, i, F.lit(salt + 1), F.lit(SEED)),
                        F.lit(len(VOCAB)),
                    )
                    + 1
                ).cast("int"),
            ),
        ),
        " ",
    )


def _phone(nationkey_col, id_col, salt: int):
    """TPC-H phone 'CC-NNN-NNN-NNNN' with CC = 10 + nationkey (q22 contract)."""
    return F.format_string(
        "%02d-%03d-%03d-%04d",
        (nationkey_col + 10).cast("int"),
        (F.pmod(F.xxhash64(id_col, F.lit(salt), F.lit(SEED)), F.lit(900)) + 100).cast(
            "int"
        ),
        (
            F.pmod(F.xxhash64(id_col, F.lit(salt + 1), F.lit(SEED)), F.lit(900)) + 100
        ).cast("int"),
        (
            F.pmod(F.xxhash64(id_col, F.lit(salt + 2), F.lit(SEED)), F.lit(9000)) + 1000
        ).cast("int"),
    )


def _ps_suppkey(partkey_col, i_col, n_supp: int):
    """Supplier i (0..3) of a part — pure formula shared by partsupp AND
    lineitem generation, so every (l_partkey, l_suppkey) pair exists in
    partsupp (the q9 join contract). The i*S4 stride keeps a part's 4
    suppliers distinct (3*S4 < S)."""
    s4 = max(1, n_supp // 4)
    return F.pmod(partkey_col * 31 + i_col * s4, F.lit(n_supp))


def _orderdate(orderkey_col):
    """o_orderdate as a pure function of orderkey — recomputed inside
    lineitem generation (no join) to keep ship/commit/receipt dates
    consistent with the parent order."""
    return _date_col(orderkey_col, 110, ORDERDATE_DAYS)


def generate_tpch_full(
    spark: SparkSession,
    sf: float,
    out_dir: str,
    single_file: bool = True,
    only: set[str] | None = None,
) -> dict[str, int]:
    """Write the genuine 8-table TPC-H schema at scale factor `sf`.

    Row counts follow the spec ratios: supplier 10k*sf, customer
    150k*sf, part 200k*sf, partsupp 4*part, orders 1.5M*sf,
    lineitem 1..7 per order (~4x orders). Generation is the same
    distributed spark.range + pure-hash-function shape as
    generate_tpch — no driver-side data, scales to any sf.

    single_file=True concatenates each table to one `<t>.parquet` file
    (footer-compatible with the committed sf0.001/sf0.01 corpora); for
    bench-scale corpora (sf>=1) pass False to keep Spark's distributed
    directory output — `spark.read.parquet` reads `<t>.parquet/`
    directories identically, generation stays executor-side end to
    end, and the read side gets one task per split instead of one
    giant row-group file.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_supp = max(4, int(10_000 * sf))
    n_cust = max(1, int(150_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))

    def write(df: DataFrame, name: str) -> int:
        # `only` regenerates a subset (tables are independent pure
        # functions of spark.range, so any subset is self-consistent) —
        # tpch_full.ensure_full_data passes the tables whose flat
        # parquet is missing.
        if only is not None and name not in only:
            return -1
        dest = os.path.join(out_dir, f"{name}.parquet")
        if not single_file:
            df.write.mode("overwrite").parquet(dest)
            return spark.read.parquet(dest).count()
        tmp = os.path.join(out_dir, f"_tmp_{name}")
        df.write.mode("overwrite").parquet(tmp)
        return _finalize_single_file(tmp, dest, [])

    counts = {}
    region = spark.range(5).select(
        F.col("id").cast("int").alias("r_regionkey"),
        _pick_exact("id", REGIONS).alias("r_name"),
        _words(F.col("id"), 100, 3, 8).alias("r_comment"),
    )
    counts["region"] = write(region, "region")

    nation_names = F.array(*[F.lit(n) for n, _ in TPCH_NATIONS])
    nation_regions = F.array(*[F.lit(r) for _, r in TPCH_NATIONS])
    nation = spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.element_at(nation_names, (F.col("id") + 1).cast("int")).alias("n_name"),
        F.element_at(nation_regions, (F.col("id") + 1).cast("int"))
        .cast("int")
        .alias("n_regionkey"),
        _words(F.col("id"), 102, 3, 8).alias("n_comment"),
    )
    counts["nation"] = write(nation, "nation")

    s_nat = F.pmod(F.xxhash64("id", F.lit(104), F.lit(SEED)), F.lit(25))
    supplier = spark.range(n_supp).select(
        F.col("id").alias("s_suppkey"),
        F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
        F.concat(_words(F.col("id"), 105, 2, 5), F.lit(" st")).alias("s_address"),
        s_nat.cast("int").alias("s_nationkey"),
        _phone(s_nat, F.col("id"), 106).alias("s_phone"),
        _money16(F.col("id"), 109, -999, 10000).alias("s_acctbal"),
        _words(F.col("id"), 111, 5, 12).alias("s_comment"),
    )
    counts["supplier"] = write(supplier, "supplier")

    c_nat = F.pmod(F.xxhash64("id", F.lit(112), F.lit(SEED)), F.lit(25))
    customer = spark.range(n_cust).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        F.concat(_words(F.col("id"), 113, 2, 5), F.lit(" ave")).alias("c_address"),
        c_nat.cast("int").alias("c_nationkey"),
        _phone(c_nat, F.col("id"), 114).alias("c_phone"),
        _money16(F.col("id"), 117, -999, 10000).alias("c_acctbal"),
        _pick(F.col("id"), 118, SEGMENTS).alias("c_mktsegment"),
        _words(F.col("id"), 119, 5, 12).alias("c_comment"),
    )
    counts["customer"] = write(customer, "customer")

    part = spark.range(n_part).select(
        F.col("id").alias("p_partkey"),
        # 'Part N' — the reference generator's naming, which its q9/q20
        # texts match with LIKE 'Part 1%'
        F.format_string("Part %d", F.col("id")).alias("p_name"),
        _pick(F.col("id"), 120, MFGRS).alias("p_mfgr"),
        _pick(F.col("id"), 121, BRANDS).alias("p_brand"),
        _pick(F.col("id"), 122, TYPES).alias("p_type"),
        (F.pmod(F.xxhash64("id", F.lit(123), F.lit(SEED)), F.lit(50)) + 1)
        .cast("int")
        .alias("p_size"),
        _pick(F.col("id"), 124, CONTAINERS).alias("p_container"),
        _money16(F.col("id"), 125, 900, 2100).alias("p_retailprice"),
        _words(F.col("id"), 126, 3, 8).alias("p_comment"),
    )
    counts["part"] = write(part, "part")

    partsupp = (
        spark.range(n_part)
        .select(
            F.col("id").alias("ps_partkey"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .select(
            "ps_partkey",
            _ps_suppkey(F.col("ps_partkey"), F.col("i"), n_supp).alias("ps_suppkey"),
            (
                F.pmod(
                    F.xxhash64("ps_partkey", "i", F.lit(127), F.lit(SEED)),
                    F.lit(9999),
                )
                + 1
            )
            .cast("int")
            .alias("ps_availqty"),
            _money16(F.xxhash64("ps_partkey", "i"), 128, 1, 1001).alias(
                "ps_supplycost"
            ),
            _words(F.xxhash64("ps_partkey", "i"), 129, 5, 12).alias("ps_comment"),
        )
    )
    counts["partsupp"] = write(partsupp, "partsupp")

    # TPC-H spec: only 2/3 of customers place orders (custkey % 3 != 0) —
    # q13's c_count=0 spike and q22's NOT EXISTS selectivity depend on it.
    n_with_orders = n_cust - (n_cust + 2) // 3
    k = F.pmod(F.xxhash64("id", F.lit(130), F.lit(SEED)), F.lit(max(1, n_with_orders)))
    orders = spark.range(n_ord).select(
        F.col("id").alias("o_orderkey"),
        ((k / 2).cast("long") * 3 + 1 + F.pmod(k, F.lit(2))).alias("o_custkey"),
        _pick(F.col("id"), 131, STATUSES).alias("o_orderstatus"),
        _money16(F.col("id"), 132, 900, 450000).alias("o_totalprice"),
        _orderdate(F.col("id")).alias("o_orderdate"),
        _pick(F.col("id"), 133, PRIORITIES).alias("o_orderpriority"),
        F.format_string(
            "Clerk#%09d",
            F.pmod(F.xxhash64("id", F.lit(134), F.lit(SEED)), F.lit(1000)).cast("int"),
        ).alias("o_clerk"),
        F.lit(0).alias("o_shippriority"),
        _words(F.col("id"), 135, 5, 15).alias("o_comment"),
    )
    counts["orders"] = write(orders, "orders")

    lk = F.xxhash64("l_orderkey", "l_linenumber")
    l_partkey = F.pmod(
        F.xxhash64("l_orderkey", "l_linenumber", F.lit(136), F.lit(SEED)),
        F.lit(n_part),
    )
    # ship/commit/receipt offsets relative to the parent order's date
    odate = _orderdate(F.col("l_orderkey"))
    ship = F.date_add(
        odate,
        (F.pmod(F.xxhash64(lk, F.lit(140), F.lit(SEED)), F.lit(121)) + 1).cast("int"),
    )
    commit = F.date_add(
        odate,
        (F.pmod(F.xxhash64(lk, F.lit(141), F.lit(SEED)), F.lit(61)) + 30).cast("int"),
    )
    receipt = F.date_add(
        ship,
        (F.pmod(F.xxhash64(lk, F.lit(142), F.lit(SEED)), F.lit(30)) + 1).cast("int"),
    )
    lineitem = (
        spark.range(n_ord)
        .select(
            F.col("id").alias("l_orderkey"),
            F.explode(
                F.sequence(
                    F.lit(1),
                    (F.pmod(F.xxhash64("id", F.lit(137), F.lit(SEED)), F.lit(7)) + 1)
                    .cast("int"),
                )
            ).alias("l_linenumber"),
        )
        .select(
            "l_orderkey",
            l_partkey.alias("l_partkey"),
            # one of the part's 4 partsupp suppliers (q9 join contract)
            _ps_suppkey(
                l_partkey,
                F.pmod(F.xxhash64(lk, F.lit(138), F.lit(SEED)), F.lit(4)),
                n_supp,
            ).alias("l_suppkey"),
            F.col("l_linenumber").cast("int").alias("l_linenumber"),
            (F.pmod(F.xxhash64(lk, F.lit(139), F.lit(SEED)), F.lit(50)) + 1)
            .cast("double")
            .alias("l_quantity"),
            _money16(lk, 143, 900, 105000).alias("l_extendedprice"),
            # {0..6}/64: exact binary, 0..0.094; q6's [0.05,0.07] hits 4/64
            (F.pmod(F.xxhash64(lk, F.lit(144), F.lit(SEED)), F.lit(7)) / F.lit(64.0)).alias(
                "l_discount"
            ),
            # {0..5}/64: exact binary, 0..0.078
            (F.pmod(F.xxhash64(lk, F.lit(145), F.lit(SEED)), F.lit(6)) / F.lit(64.0)).alias(
                "l_tax"
            ),
            _pick(lk, 146, FLAGS).alias("l_returnflag"),
            _pick(lk, 147, ["F", "O"]).alias("l_linestatus"),
            ship.alias("l_shipdate"),
            commit.alias("l_commitdate"),
            receipt.alias("l_receiptdate"),
            _pick(lk, 148, SHIPINSTRUCT).alias("l_shipinstruct"),
            _pick(lk, 149, SHIPMODES).alias("l_shipmode"),
            _words(lk, 150, 2, 6).alias("l_comment"),
        )
    )
    counts["lineitem"] = write(lineitem, "lineitem")
    return counts


# ---------------------------------------------------------------------------
# Media corpus: a real binary parquet column of encoded image bytes.


def generate_media(spark: SparkSession, docs_path: str, out_dir: str) -> int:
    """Write ``media(doc_id, payload BINARY, mime, width, height)`` —
    one real encoded image per document in `docs_path`.

    Payloads are genuine files of the two codec-free formats (24-bit
    BI_RGB BMP for even doc_ids, binary PPM/P6 for odd), built by
    `operators.multimodal.encode_bmp/encode_ppm` from the same
    deterministic pixel pattern the decode oracles use closed-form:
    W=8+d%5, H=6+d%4; R=(d+x+y)%256, G=(2d+3x)%256, B=(x*y+d)%256.
    Determinism is per-row (payload is a pure function of doc_id), so
    any scale regenerates bit-identically, distributed — rows are
    built inside mapInPandas on executors; nothing goes through the
    driver.

    This is the binary-column corpus the r4 verdict asked for (#6):
    the mm_decode_* ops now scan a committed binary parquet column
    instead of synthesizing payloads inside the UDF, so parquet IO of
    binary data (column pruning, metadata-only scans) is exercised
    for real.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_bmp, encode_ppm

    def build(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "payload", "mime", "width", "height")}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 5, 6 + d % 4
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                img = np.stack(
                    [(d + x + y) % 256, (2 * d + 3 * x + 0 * y) % 256, (x * y + d) % 256],
                    axis=-1,
                ).astype(np.uint8)
                if d % 2 == 0:
                    payload, mime = encode_bmp(img), "image/bmp"
                else:
                    payload, mime = encode_ppm(img), "image/x-portable-pixmap"
                out["doc_id"].append(d)
                out["payload"].append(payload)
                out["mime"].append(mime)
                out["width"].append(w)
                out["height"].append(h)
            yield pd.DataFrame(out)

    os.makedirs(out_dir, exist_ok=True)
    docs = spark.read.parquet(docs_path).select("doc_id")
    media = docs.mapInPandas(
        build, "doc_id long, payload binary, mime string, width int, height int"
    )
    tmp = os.path.join(out_dir, "_tmp_media")
    media.write.mode("overwrite").parquet(tmp)
    return _finalize_single_file(tmp, os.path.join(out_dir, "media.parquet"), [])
