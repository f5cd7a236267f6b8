"""DuckDB-as-oracle comparison harness.

Replicates the reference's golden-corpus strategy
(/root/reference/tests/duckdb_validated.rs,
/root/reference/scripts/generate_expected_results.py): run the same
query through the engine (Spark) and DuckDB over identical parquet
inputs and compare results. Mirrors the driver's t2 gate: row count +
schema + order-insensitive value comparison, columns sorted by name.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import DataFrame

from .sources.registry import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the canonical tables registered as views."""
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
    except Exception:
        pass
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all columns; normalize cells."""
    df = df[sorted(df.columns)].copy()

    def norm(v):
        if v is None:
            return "<null>"
        if isinstance(v, float):
            if math.isnan(v):
                return "<null>"
            return repr(v)  # full precision
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(norm(x) for x in v) + "]"
        try:
            if pd.isna(v):
                return "<null>"
        except (TypeError, ValueError):
            pass
        if hasattr(v, "isoformat"):
            # pandas has no date dtype: DuckDB DATE arrives as midnight
            # datetime64 while Spark yields datetime.date. Canonicalize
            # exact-midnight datetimes to the date form (applied to both
            # sides identically).
            iso = v.isoformat()
            return iso[:10] if iso.endswith("T00:00:00") else iso
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    for c in df.columns:
        df[c] = df[c].map(norm)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    duck_rows: int
    detail: str = ""
    mismatches: list[str] = field(default_factory=list)
    # both sides after _canon, (spark, duck): what the verdict was made on
    frames: tuple[pd.DataFrame, pd.DataFrame] | None = field(
        default=None, repr=False, compare=False
    )


def compare(
    name: str,
    spark_df: DataFrame,
    oracle_sql: str,
    sf_dir: str,
    con: duckdb.DuckDBPyConnection | None = None,
) -> CompareResult:
    """Run Spark DF and DuckDB SQL; compare canonicalized results."""
    close = con is None
    con = con or duck_connect(sf_dir)
    try:
        spark_pd = spark_df.toPandas()
        duck_pd = con.execute(oracle_sql).df()
    finally:
        if close:
            con.close()

    a, b = _canon(spark_pd), _canon(duck_pd)
    if len(a) != len(b):
        return CompareResult(
            name, False, len(a), len(b), "row count mismatch", frames=(a, b)
        )
    if list(a.columns) != list(b.columns):
        return CompareResult(
            name,
            False,
            len(a),
            len(b),
            f"column mismatch: spark={list(a.columns)} duck={list(b.columns)}",
            frames=(a, b),
        )
    mism = []
    for c in a.columns:
        neq = a[c] != b[c]
        if neq.any():
            i = int(neq.idxmax())
            mism.append(f"col {c}: e.g. row {i}: spark={a[c][i]!r} duck={b[c][i]!r}")
    return CompareResult(
        name,
        not mism,
        len(a),
        len(b),
        "ok" if not mism else "value mismatch",
        mism,
        frames=(a, b),
    )
