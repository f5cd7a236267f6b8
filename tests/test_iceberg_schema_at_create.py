"""One Iceberg-lite schema model, from the first commit.

The commit that creates a table writes schema v0 from the writer's
Spark schema; every data write is checked against the current schema
before it writes a file; and metadata that an engine without
schema-at-create wrote is refused rather than guessed at.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from iceberg_query_engine_spark.sources.iceberg_lite import (
    IcebergLiteTable,
    _append_snapshot_files,
    rename_column,
    upsert_snapshot,
    write_equality_deletes,
    write_snapshot,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v bigint")


def _delete_dirs(path: str) -> set[str]:
    return set(glob.glob(os.path.join(path, "data", "delete-eq-*")))


def test_first_write_carries_v0_from_the_frame_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, decimal.Decimal("2.50"), datetime.date(2024, 1, 2), [1, 2])],
        "id bigint, price decimal(15,2), day date, tags array<int>",
    )
    write_snapshot(df, path)
    t = IcebergLiteTable(path)
    assert t.current_schema() == {
        "schema_id": 0,
        "fields": [
            {"id": 1, "name": "id", "type": "bigint"},
            {"id": 2, "name": "price", "type": "decimal(15,2)"},
            {"id": 3, "name": "day", "type": "date"},
            {"id": 4, "name": "tags", "type": "array<int>"},
        ],
    }
    assert t._snapshot(t.current_snapshot_id())["schema_id"] == 0
    assert all(e["schema_id"] == 0 for e in t.data_files())
    got = t.read(spark).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in df.collect()]


def test_upsert_creates_a_table_with_v0(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_snapshot(spark, path, _kv(spark, [(1, 10), (2, 20)]), ["k"])
    t = IcebergLiteTable(path)
    assert [f["name"] for f in t.current_schema()["fields"]] == ["k", "v"]
    deletes = [e for e, _s, c in t._files_with_meta() if c == "equality_deletes"]
    assert deletes[0]["equality_ids"] == [1]
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, 10), (2, 20)]


def test_first_commit_without_schema_raises(tmp_path):
    path = str(tmp_path / "t")
    entry = {"data_file": {"file_path": "data/x.parquet", "record_count": 0}}
    with pytest.raises(ValueError, match="needs the table's schema"):
        _append_snapshot_files(path, [entry], "data", "append")
    assert not os.path.exists(IcebergLiteTable(path)._meta_path())


def test_metadata_without_schemas_is_refused(spark, tmp_path):
    """A metadata file as an engine before schema-at-create wrote it
    (no `schemas`, no `current-schema-id`) is refused on read, and the
    message names the table."""
    path = str(tmp_path / "old")
    write_snapshot(_kv(spark, [(1, 10)]), path)
    t = IcebergLiteTable(path)
    meta = t.metadata()
    del meta["schemas"], meta["current-schema-id"]
    with open(t._meta_path(), "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="predates schema-at-create") as err:
        t.read(spark)
    assert re.search(re.escape(path), str(err.value))


def test_stale_name_upsert_is_refused_and_table_still_reads(spark, tmp_path):
    """After a rename, an upsert under the old column names is refused
    like an append is, before any file is written, and the table keeps
    reading."""
    path = str(tmp_path / "t")
    write_snapshot(_kv(spark, [(1, 10), (2, 20)]), path)
    rename_column(path, "v", "val")
    files_before = set(os.listdir(os.path.join(path, "data")))
    with pytest.raises(ValueError, match="do not match the current schema"):
        write_snapshot(_kv(spark, [(3, 30)]), path)
    with pytest.raises(ValueError, match="do not match the current schema"):
        upsert_snapshot(spark, path, _kv(spark, [(1, 11)]), ["k"])
    assert set(os.listdir(os.path.join(path, "data"))) == files_before
    out = IcebergLiteTable(path).read(spark)
    assert out.columns == ["k", "val"]
    assert sorted(tuple(r) for r in out.collect()) == [(1, 10), (2, 20)]


def test_refused_deletes_leave_no_delete_file(spark, tmp_path):
    """Key columns are checked before the key file is written, so a
    refused equality delete or upsert leaves no data/delete-eq-* dir."""
    path = str(tmp_path / "t")
    write_snapshot(_kv(spark, [(1, 10), (2, 20)]), path)
    before = _delete_dirs(path)
    keys = spark.createDataFrame([(1,)], "nope bigint")
    with pytest.raises(ValueError, match="not in current schema"):
        write_equality_deletes(spark, path, keys, ["nope"])
    batch = _kv(spark, [(1, 11)]).withColumn("nope", F.lit(1))
    with pytest.raises(ValueError):
        upsert_snapshot(spark, path, batch, ["nope"])
    assert _delete_dirs(path) == before
    assert sorted(tuple(r) for r in IcebergLiteTable(path).read(spark).collect()) == [
        (1, 10),
        (2, 20),
    ]
