"""Engine shell + dialect shim + multimodal stub tests."""

from __future__ import annotations

import pytest

from iceberg_query_engine_spark.functions.dialect import translate


def test_dialect_translations():
    assert translate("SELECT DATE_ADD('day', 3, d)") == "SELECT timestampadd(day, 3, d)"
    assert translate("SELECT DATE_DIFF('hour', a, b)") == "SELECT timestampdiff(hour, a, b)"
    assert translate("SELECT APPROX_DISTINCT(x)") == "SELECT approx_count_distinct(x)"
    assert translate("SELECT ARBITRARY(x), STRPOS(s, 't')") == "SELECT any_value(x), instr(s, 't')"
    assert translate("SELECT CARDINALITY(a)") == "SELECT size(a)"
    # spark-native date_add(date, int) spelling is left alone
    assert translate("SELECT date_add(d, 3)") == "SELECT date_add(d, 3)"


def test_dialect_aggregate_composites_nested_args():
    # balanced-paren capture: nested calls inside the argument
    assert (
        translate("SELECT GEOMETRIC_MEAN(abs(x - round(y, 2))) FROM t")
        == "SELECT exp(avg(ln(abs(x - round(y, 2))))) FROM t"
    )
    assert (
        translate("SELECT CHECKSUM(coalesce(a, 0)) FROM t")
        == "SELECT bit_xor(CAST(coalesce(a, 0) AS BIGINT)) FROM t"
    )
    # function names inside string literals are untouched
    assert (
        translate("SELECT CHECKSUM(a), 'CHECKSUM(not this)' FROM t")
        == "SELECT bit_xor(CAST(a AS BIGINT)), 'CHECKSUM(not this)' FROM t"
    )


@pytest.fixture(scope="module")
def engine(spark, sf_oracle):
    from iceberg_query_engine_spark.engine import Engine

    eng = Engine(spark)
    eng.register_sf_dir(sf_oracle)
    return eng


def test_engine_sql_roundtrip(engine):
    res = engine.sql("SELECT COUNT(*) AS n FROM nation")
    assert res.row_count == 1
    assert res.rows[0].n == 25
    assert res.schema == [("n", "bigint")]
    assert res.metrics.total_ms > 0


def test_engine_trino_sql(engine):
    res = engine.sql(
        "SELECT APPROX_DISTINCT(n_regionkey) AS d, "
        "DATE_ADD('day', 1, DATE '2024-01-01') AS t FROM nation"
    )
    assert res.rows[0].d == 5
    assert str(res.rows[0].t).startswith("2024-01-02")


def test_engine_compat_udfs(engine):
    res = engine.sql("SELECT normal_cdf(0.0, 1.0, 0.0) AS p")
    assert abs(res.rows[0].p - 0.5) < 1e-12


def test_engine_tables_and_schema(engine):
    assert "lineitem" in engine.tables()
    assert ("l_orderkey", "bigint") in engine.schema("lineitem")


def test_engine_explain_shows_pushdown(engine):
    plan = engine.explain("SELECT l_orderkey FROM lineitem WHERE l_quantity > 10")
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,10.0)" in plan


def test_multimodal_decode_boundary():
    """Uncompressed formats decode for real (pure-numpy BMP/PPM codec,
    tests/test_image_codec.py); unknown/compressed bytes still raise
    the documented gate when no codec library is present."""
    from iceberg_query_engine_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
    )

    import numpy as np

    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    assert np.array_equal(decode_image(encode_bmp(img)), img)
    try:
        from PIL import Image  # noqa: F401
    except ImportError:
        with pytest.raises((NotImplementedError, ImportError)):
            decode_image(b"\x00" * 64)


def test_engine_bad_sql_raises_cleanly(engine):
    import pyspark.errors

    with pytest.raises(pyspark.errors.PySparkException):
        engine.sql("SELECT FROM WHERE")
    with pytest.raises(pyspark.errors.PySparkException):
        engine.sql("SELECT no_such_col FROM nation")
    with pytest.raises(pyspark.errors.PySparkException):
        engine.sql("SELECT * FROM no_such_table_xyz")
    # the engine survives errors: next query still works
    assert engine.sql("SELECT 1 AS one").rows[0].one == 1


def test_engine_is_finite_infinite_truncate_semantics(engine):
    """ADVICE round 1: IS_FINITE must be false on ±Infinity (reference
    f64::is_finite, filter.rs:2965) and TRUNCATE is numeric toward-zero
    (filter.rs:1122), not Spark's date trunc. NULL in → NULL out."""
    res = engine.sql(
        "SELECT IS_FINITE(1.5D) AS a, IS_FINITE(double('Infinity')) AS b, "
        "IS_FINITE(double('-Infinity')) AS c, IS_FINITE(double('NaN')) AS d, "
        "IS_FINITE(CAST(NULL AS DOUBLE)) AS e, "
        "IS_INFINITE(double('Infinity')) AS f, IS_INFINITE(2.0D) AS g, "
        "TRUNCATE(3.7D) AS h, TRUNCATE(-3.7D) AS i, "
        "TRUNCATE(double('Infinity')) AS j, TRUNCATE(CAST(NULL AS DOUBLE)) AS k"
    )
    r = res.rows[0]
    assert (r.a, r.b, r.c, r.d, r.e) == (True, False, False, False, None)
    assert (r.f, r.g) == (True, False)
    assert (r.h, r.i) == (3.0, -3.0)
    assert r.j == float("inf") and r.k is None


def test_engine_compat_udfs_null_safety(engine):
    """ADVICE round 1: NULL args to the stat UDFs yield NULL (not a
    TypeError in the executor); wilson_interval_* with trials=0 yields
    NULL (not ZeroDivisionError)."""
    res = engine.sql(
        "SELECT normal_cdf(CAST(NULL AS DOUBLE), 1.0, 0.0) AS a, "
        "t_cdf(CAST(NULL AS DOUBLE), 1.0) AS b, "
        "wilson_interval_lower(0.0, 0.0, 1.96) AS c, "
        "wilson_interval_upper(3.0, 10.0, 1.96) AS d, "
        "inverse_normal_cdf(0.0, 1.0, CAST(NULL AS DOUBLE)) AS e"
    )
    r = res.rows[0]
    assert r.a is None and r.b is None and r.c is None and r.e is None
    assert 0.3 < r.d < 0.7


def test_engine_metrics_parity(engine):
    """QueryMetrics mirrors the reference's (parse/plan/execute/spill,
    context.rs:294-309)."""
    res = engine.sql("SELECT COUNT(*) AS n FROM lineitem")
    m = res.metrics
    assert m.total_ms > 0 and m.execute_ms > 0 and m.plan_ms >= 0
    assert m.parse_ms >= 0 and m.spill_bytes >= 0
    assert m.output_rows == res.row_count == 1
    assert m.codegen_compiles >= 0 and m.codegen_ms >= 0
    # every class the first run generated is now cached
    again = engine.sql("SELECT COUNT(*) AS n FROM lineitem").metrics
    assert again.codegen_compiles == 0 and again.codegen_ms == 0


def test_engine_timezone_functions(engine):
    """Reference semantics: AT_TIMEZONE converts a zone-local reading
    to UTC (micros - offset, filter.rs:4055-4070); WITH_TIMEZONE
    returns the instant unchanged (filter.rs:4077-4095)."""
    res = engine.sql(
        "SELECT CAST(at_timezone(TIMESTAMP '2024-01-01 12:00:00', "
        "'+05:30') AS STRING) AS a, "
        "CAST(with_timezone(TIMESTAMP '2024-01-01 12:00:00', "
        "'-03:00') AS STRING) AS w"
    )
    assert res.rows[0].a == "2024-01-01 06:30:00"
    assert res.rows[0].w == "2024-01-01 12:00:00"


def test_cli_output_formats(engine):
    """table/vertical/csv/json renderings (reference cli/output.rs)."""
    from iceberg_query_engine_spark.engine import _FORMATS

    res = engine.sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    table = _FORMATS["table"](res)
    assert "r_name" in table and "AFRICA" in table
    vert = _FORMATS["vertical"](res)
    assert "-[ RECORD 1 ]-" in vert and "AFRICA" in vert
    csv_out = _FORMATS["csv"](res)
    assert csv_out.splitlines()[0] == "r_regionkey,r_name"
    assert "0,AFRICA" in csv_out
    import json

    line0 = json.loads(_FORMATS["json"](res).splitlines()[0])
    assert line0 == {"r_regionkey": 0, "r_name": "AFRICA"}


def test_engine_register_iceberg(engine, tmp_path):
    """Iceberg-lite tables queryable through the engine shell, with
    time travel and delete files applied."""
    from iceberg_query_engine_spark.sources.iceberg_lite import (
        write_position_deletes,
        write_snapshot,
    )

    path = str(tmp_path / "eng_ice")
    nation = engine.spark.table("nation")
    s1 = write_snapshot(nation.filter("n_nationkey < 10"), path)
    write_position_deletes(engine.spark, path, "n_nationkey >= 8")
    engine.register_iceberg("ice_nation", path)
    assert engine.sql("SELECT COUNT(*) AS n FROM ice_nation").rows[0].n == 8
    engine.register_iceberg("ice_nation_v1", path, snapshot_id=s1)
    assert engine.sql("SELECT COUNT(*) AS n FROM ice_nation_v1").rows[0].n == 10


def test_multimodal_empty_payload_safe(spark):
    """Zero-length payloads yield NULL features / empty resize output
    instead of crashing the executor task."""
    from iceberg_query_engine_spark.operators.multimodal import (
        extract_features,
        extract_metadata,
        resize_payload,
    )

    df = spark.createDataFrame([(1, b""), (2, b"\x01\x02" * 40)], ["doc_id", "payload"])
    feats = {r.doc_id: r for r in extract_features(df).collect()}
    assert feats[1].mean_byte is None and feats[2].mean_byte is not None
    meta = {r.doc_id: r for r in extract_metadata(df).collect()}
    assert meta[1].width is None and meta[1].payload_len == 0
    res = {r.doc_id: r for r in resize_payload(df).collect()}
    assert res[1].out_len == 0 and res[2].out_len == 32


def test_dialect_composite_rewrite_fuzz():
    """Property: for any nesting of calls/strings in the argument, the
    composite rewrite wraps the exact argument text and leaves string
    literals untouched."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    atoms = st.sampled_from(["x", "y + 1", "abs(z)", "round(v, 2)", "'lit)('"])

    @st.composite
    def args(draw, depth=0):
        if depth >= 3 or draw(st.booleans()):
            return draw(atoms)
        inner = draw(args(depth + 1))
        fn = draw(st.sampled_from(["coalesce", "abs", "least"]))
        return f"{fn}({inner})"

    @given(arg=args())
    @settings(max_examples=60, deadline=None, derandomize=True)
    def check(arg):
        out = translate(f"SELECT GEOMETRIC_MEAN({arg}), CHECKSUM({arg}) FROM t")
        assert out == (
            f"SELECT exp(avg(ln({arg}))), bit_xor(CAST({arg} AS BIGINT)) FROM t"
        )

    check()


def test_query_registry_surface_pinned():
    """The driver-visible query surface can only grow: a broken suite
    import now raises (no silent ImportError swallow), and this count
    pin catches a suite accidentally dropping queries."""
    from iceberg_query_engine_spark.queries import catalog

    qs, osql = catalog.all_queries(), catalog.all_oracles()
    assert len(qs) >= 193
    assert set(osql) <= set(qs)
    # only genuinely non-SQL-expressible ops may omit an oracle
    assert set(qs) - set(osql) == {"f_approx"}


def test_cli_catalog_subcommand(spark, sf_oracle, tmp_path, capsys):
    """`catalog --descriptor d.json --query ...` registers descriptor
    tables in the session catalog and runs SQL over db.tbl names."""
    import json

    from iceberg_query_engine_spark.engine import main

    doc = {
        "databases": {
            "cli_demo": {
                "tables": [
                    {
                        "table_name": "nation",
                        "table_location": f"{sf_oracle}/nation.parquet",
                    },
                    {
                        "table_name": "region",
                        "table_location": f"{sf_oracle}/region.parquet",
                    },
                ]
            }
        }
    }
    desc = tmp_path / "cat.json"
    desc.write_text(json.dumps(doc))
    rc = main(
        [
            "catalog",
            "--descriptor",
            str(desc),
            "--query",
            "SELECT COUNT(*) AS n FROM cli_demo.nation n "
            "JOIN cli_demo.region r ON n.n_regionkey = r.r_regionkey",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "cli_demo.nation" in out and "cli_demo.region" in out
    assert "25" in out
    spark.sql("DROP DATABASE IF EXISTS cli_demo CASCADE")


def test_cli_branch_subcommand(spark, tmp_path, capsys):
    """branch list/create/tag/fast-forward/drop drive the WAP surface
    end-to-end from the CLI (surplus vs the reference's read-only
    iceberg.rs; semantics match Iceberg's branch procedures)."""
    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.engine import main
    from iceberg_query_engine_spark.sources.iceberg_lite import write_snapshot

    path = str(tmp_path / "t")
    df = spark.range(5).select(F.col("id").alias("k"))
    write_snapshot(df, path)

    assert main(["branch", "--table", path, "create", "audit"]) == 0
    write_snapshot(df, path, branch="audit")
    assert main(["branch", "--table", path, "tag", "v1", "--at", "1"]) == 0
    assert main(["branch", "--table", path, "list"]) == 0
    out = capsys.readouterr().out
    assert "audit" in out and "v1" in out and "main" in out
    assert main(["branch", "--table", path, "fast-forward", "main", "--to", "audit"]) == 0
    assert main(["branch", "--table", path, "drop", "audit"]) == 0
    out = capsys.readouterr().out
    assert "fast-forwarded" in out and "dropped audit" in out


def test_cli_maintenance_subcommand(spark, tmp_path, capsys):
    """maintenance snapshots/expire/orphans/rollback/schema DDL drive
    the table-maintenance surface end-to-end from the CLI (surplus vs
    the reference's read-only iceberg.rs; semantics match Iceberg's
    procedures)."""
    import os

    from pyspark.sql import functions as F

    from iceberg_query_engine_spark.engine import main
    from iceberg_query_engine_spark.sources.iceberg_lite import write_snapshot

    path = str(tmp_path / "t")
    for lo in (0, 10, 20):
        df = spark.range(lo, lo + 10).select(F.col("id").alias("k"))
        write_snapshot(df, path)

    assert main(["maintenance", "--table", path, "snapshots"]) == 0
    out = capsys.readouterr().out
    assert out.count("snapshot") == 3 and "append" in out

    # plant an orphan, dry-run lists it, --apply removes it
    with open(os.path.join(path, "data", "stray.parquet"), "wb") as f:
        f.write(b"junk")
    assert main(["maintenance", "--table", path, "orphans"]) == 0
    assert "found (dry run) 1 orphans" in capsys.readouterr().out
    assert main(["maintenance", "--table", path, "orphans", "--apply"]) == 0
    assert "removed 1 orphans" in capsys.readouterr().out
    assert not os.path.exists(os.path.join(path, "data", "stray.parquet"))

    # plant metadata debris (atomic-write temp), sweep via the CLI
    tmp_debris = os.path.join(path, "metadata", "metadata.json.tmp-dead")
    with open(tmp_debris, "w") as f:
        f.write("{}")
    assert main(["maintenance", "--table", path, "orphan-metadata"]) == 0
    assert "found (dry run) 1 metadata orphans" in capsys.readouterr().out
    assert main(["maintenance", "--table", path, "orphan-metadata",
                 "--apply"]) == 0
    assert "removed 1 metadata orphans" in capsys.readouterr().out
    assert not os.path.exists(tmp_debris)

    assert main(["maintenance", "--table", path, "rollback",
                 "--to-snapshot", "2"]) == 0
    assert "rolled back to snapshot 2" in capsys.readouterr().out

    assert main(["maintenance", "--table", path, "expire",
                 "--keep-last", "10"]) == 0
    assert "expired 1 snapshots" in capsys.readouterr().out  # abandoned #3

    assert main(["maintenance", "--table", path,
                 "rename-column", "--old", "k", "--new", "key"]) == 0
    assert main(["maintenance", "--table", path,
                 "add-column", "--name", "tag", "--type", "string"]) == 0
    assert main(["maintenance", "--table", path, "schema"]) == 0
    out = capsys.readouterr().out
    assert "key" in out and "tag" in out and "renamed k -> key" in out


def test_cli_run_subcommand(spark, sf_oracle, capsys):
    """`run <name>` executes any catalog query by name; `run --list
    <prefix>` enumerates; unknown names exit 2 with suggestions."""
    from iceberg_query_engine_spark.engine import main

    assert main(["--sf-dir", sf_oracle, "run", "--list", "set_"]) == 0
    names = capsys.readouterr().out.split()
    assert "set_union_all" in names and all(n.startswith("set_") for n in names)

    assert main(["--sf-dir", sf_oracle, "run", "set_values_inline"]) == 0
    out = capsys.readouterr().out
    assert "rows" in out

    assert main(["--sf-dir", sf_oracle, "run", "set_nope"]) == 2
    assert "unknown query" in capsys.readouterr().out


def test_cli_run_releases_scratch_dirs(spark, sf_smoke, tmp_path, monkeypatch, capsys):
    """`run` frees what the query left behind once it has printed the
    rows: the streaming MERGE's table directory is gone on exit."""
    import os
    import tempfile

    from iceberg_query_engine_spark.engine import main

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert main(["--sf-dir", sf_smoke, "run", "stream_upsert_iceberg"]) == 0
    assert "user_id" in capsys.readouterr().out
    assert os.listdir(tmp_path / "sg_stream_ice") == []
