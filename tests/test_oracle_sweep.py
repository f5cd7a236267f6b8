"""oracle_sweep.py's oracle rows: `testing.compare`'s verdict plus the
sha256 of each side's canonical frame, with `ok` exactly when the two
hashes are equal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
import oracle_sweep
from iceberg_query_engine_spark.testing import duck_connect


@pytest.fixture(scope="module")
def con(sf_smoke):
    c = duck_connect(sf_smoke)
    yield c
    c.close()


def _hashes_decide(row: dict) -> None:
    for k in ("spark_sha256", "oracle_sha256"):
        assert len(row[k]) == 64 and int(row[k], 16) >= 0
    assert row["ok"] == (row["spark_sha256"] == row["oracle_sha256"])


@pytest.mark.parametrize("name", ["q1", "dedup_exact"])
def test_oracle_row_hashes_match_on_a_passing_query(spark, sf_smoke, con, name):
    df = entry.queries()[name](spark, sf_smoke)
    row = oracle_sweep.oracle_row(name, df, entry.oracle_sql()[name], sf_smoke, con)
    assert row["ok"] and row["mode"] == "oracle" and row["spark_rows"] > 0
    _hashes_decide(row)


def test_oracle_row_wrong_frame_fails_with_different_hashes(spark, sf_smoke, con):
    name = "q1"
    df = entry.queries()[name](spark, sf_smoke)
    # same rows, columns and types; one value off by one
    wrong = df.withColumn(
        "count_order",
        F.when(F.col("l_returnflag") == "A", F.col("count_order") + 1).otherwise(
            F.col("count_order")
        ),
    )
    row = oracle_sweep.oracle_row(name, wrong, entry.oracle_sql()[name], sf_smoke, con)
    assert not row["ok"] and row["detail"] == "value mismatch"
    assert row["spark_rows"] == row["oracle_rows"]
    _hashes_decide(row)
