"""Table registration: parquet file/dir -> named temp views.

Mirrors the reference's catalog + TableProvider surface
(/root/reference/src/planner/binder.rs:20-48 InMemoryCatalog,
/root/reference/src/storage/parquet.rs:26-260 ParquetTable): a table is
a name bound to a parquet file or directory; schema comes from the
footer. Spark's DSv2 parquet source gives vectorized scan, row-group
pruning, predicate pushdown and column pruning natively (reference
reimplements those at src/storage/row_group_pruning.rs and
src/physical/operators/streaming_parquet_scan.rs).

Column-level normalization applied at registration:
- nanosecond INT64 timestamps (read as LONG via
  spark.sql.legacy.parquet.nanosAsLong) are converted to TIMESTAMP_NTZ
  by integer-dividing to microseconds. DuckDB's ns->us cast truncates
  identically, so oracle comparisons stay exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Canonical test-corpus tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a canonical table from parquet FOOTER metadata
    — no Spark job, no data scan (the count is a required field of
    every parquet footer). Operators that size a partitioning grid by
    row count (e.g. the blocked kNN join) read this instead of running
    a count() job; None when the table is absent or unreadable so
    callers can fall back to an in-plan count."""
    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            parts = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
            if not parts:
                return None
            return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def parquet_bytes(path: str) -> int | None:
    """On-disk bytes of the ``*.parquet`` files at `path`: the file
    itself, or every one under the directory, recursively. Sidecars
    (_SUCCESS, .crc) are not data and would nudge a gate near its
    threshold (r9 ADVICE, low), so they never count. None when the path
    is absent or unreadable or holds no parquet file: a 0 would read as
    "tiny" and flip a size gate to its unsafe side. The one size walker:
    every size gate and corpus-size rule reads it."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path) if path.endswith(".parquet") else None
        sizes = [
            os.path.getsize(os.path.join(dp, f))
            for dp, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        ]
        return sum(sizes) if sizes else None
    except OSError:
        return None


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk byte size of a canonical table's parquet files — no
    Spark job, no data read (see parquet_bytes). The size gates in
    ``materialize`` read this; None means unknown, and each caller
    takes its safe side."""
    return parquet_bytes(os.path.join(sf_dir, f"{name}.parquet"))


def table_fingerprint(sf_dir: str, name: str) -> str | None:
    """Content fingerprint of a canonical table's parquet files: sha256
    over the sorted (filename, size, mtime_ns) triples — no data read.
    Derived caches (e.g. the stored kNN delta index) key on this so a
    REGENERATED dataset at the same path/row-count invalidates them
    instead of silently serving stale state (r8 ADVICE). None when the
    table is absent so callers can fall back to an uncached build."""
    try:
        import hashlib

        path = os.path.join(sf_dir, f"{name}.parquet")
        files = (
            [os.path.join(path, f) for f in sorted(os.listdir(path))
             if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        h = hashlib.sha256()
        for f in files:
            st = os.stat(f)
            h.update(
                f"{os.path.basename(f)}|{st.st_size}|{st.st_mtime_ns}\n".encode()
            )
        return h.hexdigest()
    except Exception:
        return None


def _normalize_ns_timestamps(df: DataFrame, path: str) -> DataFrame:
    """Convert LONG columns that are physically ns-timestamps to TIMESTAMP_NTZ.

    Detection uses the parquet footer (pyarrow) so we only touch true
    ns-timestamp columns, not ordinary bigints.
    """
    try:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            inner = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if not inner:
                return df
            target = os.path.join(path, inner[0])
        schema = pq.read_schema(target)
    except Exception:
        return df
    # INT96 legacy timestamps ALSO surface as timestamp[ns] in arrow,
    # but Spark reads them as TIMESTAMP natively (nanosAsLong only
    # affects INT64-ns) — converting those would div a TIMESTAMP.
    int96_cols: set[str] = set()
    try:
        md = pq.ParquetFile(target).metadata
        if md.num_row_groups:
            rg = md.row_group(0)
            for i in range(rg.num_columns):
                col = rg.column(i)
                if col.physical_type == "INT96":
                    int96_cols.add(col.path_in_schema)
    except Exception:
        pass
    for field in schema:
        if (
            str(field.type) == "timestamp[ns]"
            and field.name in df.columns
            and field.name not in int96_cols
        ):
            # Exact integer division: float division loses µs precision
            # (ns epochs ~1.7e18 exceed double's 53-bit mantissa).
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df


def _parse_bytes(v: str) -> int:
    """Spark size-conf string → bytes ('134217728b', '16m', '128MB')."""
    s = v.strip().lower()
    mult = 1
    for suffix, m in (("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
                      ("kb", 1 << 10), ("t", 1 << 40), ("g", 1 << 30),
                      ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(s) * mult


def _respread_if_unsplittable(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Redistribute inputs whose parquet layout defeats scan parallelism.

    Spark splits parquet scans at ROW-GROUP boundaries; a file written
    as one giant row group (pyarrow's default row_group_size is 1Mi
    rows) is scanned by ONE task regardless of cores, serializing every
    downstream map-side stage (tokenize/hash/decode). When the footer
    shows a row group materially larger than the session's own target
    split size (`spark.sql.files.maxPartitionBytes`), one round-robin
    repartition restores parallelism — the shuffle moves only the
    pruned columns once, vs every per-row operator running 1-wide.
    Well-laid-out inputs (many files or bounded row groups — anything a
    100 TB ingest would produce) never trigger this; it is a guard for
    pathological layouts, found when the r5 sf100 sweep outran the
    single-row-group sf10 corpus 10x its size."""
    try:
        import pyarrow.parquet as pq

        files = (
            [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        if not files:
            return df
        worst = 0  # largest bytes-per-row-group over a sample of files
        for f in files[:16]:
            n_rg = pq.ParquetFile(f).metadata.num_row_groups
            worst = max(worst, os.path.getsize(f) // max(1, n_rg))
        target = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        if worst <= target * 3 // 2:
            return df
        total = sum(os.path.getsize(f) for f in files)
        n = max(
            2 * spark.sparkContext.defaultParallelism,
            -(-total // target),  # ceil
        )
        return df.repartition(n)
    except Exception:
        return df


def load_table(spark: SparkSession, path: str) -> DataFrame:
    """Load one parquet file/dir as a DataFrame (schema from footer)."""
    df = spark.read.parquet(path)
    df = _normalize_ns_timestamps(df, path)
    return _respread_if_unsplittable(spark, df, path)


def register_parquet(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Register a parquet file/dir as temp view `name`; returns the DF."""
    df = load_table(spark, path)
    df.createOrReplaceTempView(name)
    return df


def register_sf_dir(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every canonical table found under an sf directory."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = register_parquet(spark, name, path)
    return out
