"""Engine shell: the user-facing entry point, mirroring the reference's
ExecutionContext + CLI.

Reference parity:
- ``Engine.register_parquet`` ↔ ExecutionContext::register_parquet
  (/root/reference/src/execution/context.rs:206-214)
- ``Engine.sql`` → QueryResult{rows, schema, row_count, metrics} ↔
  ExecutionContext::sql (/root/reference/src/execution/context.rs:217-317)
- CLI subcommands ↔ /root/reference/src/main.rs:24-120 (`sql`,
  `query --num N [--plan]`, `benchmark`, `repl`)

SQL accepts Trino-flavored spellings (functions/dialect.py) and the
compat UDF pack is pre-registered, so the reference's documented
function list resolves.
"""

from __future__ import annotations

import argparse
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .functions import compat, dialect
from .session import codegen_counts, get_spark
from .sources import registry


@dataclass
class QueryMetrics:
    """Mirrors the reference's QueryMetrics (context.rs:294-309):
    parse/plan/execute wall times plus executor spill totals pulled
    from the executed plan's SQL metrics (the Spark analogue of the
    reference's memory-pool spill counters). ``codegen_compiles`` /
    ``codegen_ms`` are the classes Janino compiled over analysis plus
    collect (session.codegen_counts deltas; 0 when every class was
    cached). The counter is JVM-global, so queries running concurrently
    in one JVM blend into each other's counts."""

    parse_ms: float = 0.0
    plan_ms: float = 0.0
    execute_ms: float = 0.0
    total_ms: float = 0.0
    spill_bytes: int = 0
    output_rows: int = 0
    codegen_compiles: int = 0
    codegen_ms: float = 0.0


@dataclass
class QueryResult:
    rows: list
    schema: list[tuple[str, str]]
    row_count: int
    metrics: QueryMetrics = field(default_factory=QueryMetrics)


def _spill_bytes(df: DataFrame) -> int:
    """Sum every 'spill size' SQL metric in the executed plan — the
    Spark analogue of the reference's memory-pool spill counter
    (execution/memory.rs). Best-effort: returns 0 if the JVM walk
    fails (e.g. plan not executed)."""
    try:
        total = 0
        stack = [df._jdf.queryExecution().executedPlan()]  # noqa: SLF001
        while stack:
            node = stack.pop()
            mit = node.metrics().iterator()
            while mit.hasNext():
                kv = mit.next()
                if "spill" in kv._1().lower():
                    total += max(0, kv._2().value())
            cit = node.children().iterator()
            while cit.hasNext():
                stack.append(cit.next())
        return total
    except Exception:
        return 0


class Engine:
    """One long-lived session; tables registered by name; SQL in,
    results + metrics out."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        compat.register_all(self.spark)

    # -- catalog ---------------------------------------------------------
    def register_parquet(self, name: str, path: str) -> DataFrame:
        return registry.register_parquet(self.spark, name, path)

    def register_sf_dir(self, sf_dir: str) -> dict[str, DataFrame]:
        return registry.register_sf_dir(self.spark, sf_dir)

    def register_iceberg(
        self, name: str, path: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """Register an iceberg-lite table (optionally at a past
        snapshot) as a queryable view — the engine-level analogue of
        the reference's IcebergScanExec registration (iceberg.rs
        builder, 111-183), with v2 delete files applied."""
        from .sources.iceberg_lite import IcebergLiteTable

        df = IcebergLiteTable(path).read(self.spark, snapshot_id=snapshot_id)
        df.createOrReplaceTempView(name)
        return df

    def tables(self) -> list[str]:
        return sorted(t.name for t in self.spark.catalog.listTables())

    def schema(self, table: str) -> list[tuple[str, str]]:
        df = self.spark.table(table)
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    # -- queries ---------------------------------------------------------
    def dataframe(self, query: str) -> DataFrame:
        return self.spark.sql(dialect.translate(query))

    def sql(self, query: str) -> QueryResult:
        t0 = time.perf_counter()
        translated = dialect.translate(query)
        t1 = time.perf_counter()
        c0, ms0 = codegen_counts(self.spark)
        df = self.spark.sql(translated)
        df.schema  # force analysis so plan_ms covers Catalyst work
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        c1, ms1 = codegen_counts(self.spark)
        return QueryResult(
            rows=rows,
            schema=[(f.name, f.dataType.simpleString()) for f in df.schema.fields],
            row_count=len(rows),
            metrics=QueryMetrics(
                parse_ms=(t1 - t0) * 1000,
                plan_ms=(t2 - t1) * 1000,
                execute_ms=(t3 - t2) * 1000,
                total_ms=(t3 - t0) * 1000,
                spill_bytes=_spill_bytes(df),
                output_rows=len(rows),
                codegen_compiles=c1 - c0,
                codegen_ms=ms1 - ms0,
            ),
        )

    # -- sinks -------------------------------------------------------------
    # parity: ParquetWriter + CLI output formats (reference
    # src/physical/operators/parquet.rs:149-244, src/cli/output.rs)
    def write_parquet(
        self,
        query: str,
        path: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        """Parquet sink; `partition_by` produces hive-style partition
        directories — at scale the sink must be partition-pruned on
        read just like the Iceberg source path."""
        w = self.dataframe(query).write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def write_csv(self, query: str, path: str, mode: str = "overwrite") -> None:
        self.dataframe(query).write.mode(mode).option("header", True).csv(path)

    def write_json(self, query: str, path: str, mode: str = "overwrite") -> None:
        self.dataframe(query).write.mode(mode).json(path)

    def explain(self, query: str) -> str:
        df = self.dataframe(query)
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )


def _fmt_vertical(res: QueryResult, max_rows: int = 50) -> str:
    """Vertical record rendering (reference cli/output.rs vertical mode)."""
    names = [c for c, _ in res.schema]
    w = max((len(n) for n in names), default=0)
    out = []
    for i, row in enumerate(res.rows[:max_rows]):
        out.append(f"-[ RECORD {i + 1} ]-")
        for n, v in zip(names, row):
            out.append(f"{n:<{w}} | {'' if v is None else v}")
    out.append(f"{res.row_count} rows ({res.metrics.total_ms:.1f} ms)")
    return "\n".join(out)


def _fmt_csv(res: QueryResult) -> str:
    import csv
    import io

    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow([c for c, _ in res.schema])
    for row in res.rows:
        w.writerow(["" if v is None else v for v in row])
    return buf.getvalue().rstrip("\n")


def _fmt_json(res: QueryResult) -> str:
    import json as _json

    names = [c for c, _ in res.schema]
    return "\n".join(
        _json.dumps(dict(zip(names, row)), default=str) for row in res.rows
    )


_FORMATS = {
    "table": lambda res: _fmt_table(res),
    "vertical": lambda res: _fmt_vertical(res),
    "csv": _fmt_csv,
    "json": _fmt_json,
}


def _fmt_table(res: QueryResult, max_rows: int = 50) -> str:
    names = [c for c, _ in res.schema]
    shown = res.rows[:max_rows]
    cells = [[("" if v is None else str(v)) for v in row] for row in shown]
    widths = [
        max(len(n), *(len(r[i]) for r in cells)) if cells else len(n)
        for i, n in enumerate(names)
    ]
    line = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [line, "|" + "|".join(f" {n:<{w}} " for n, w in zip(names, widths)) + "|", line]
    for r in cells:
        out.append("|" + "|".join(f" {v:<{w}} " for v, w in zip(r, widths)) + "|")
    out.append(line)
    out.append(f"{res.row_count} rows ({res.metrics.total_ms:.1f} ms)")
    return "\n".join(out)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="iceberg-query-engine-spark")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sub = p.add_subparsers(dest="cmd", required=True)
    sql_p = sub.add_parser("sql", help="run one SQL statement")
    sql_p.add_argument("query")
    sql_p.add_argument("--plan", action="store_true")
    sql_p.add_argument(
        "--format", choices=sorted(_FORMATS), default="table",
        help="result rendering (reference cli/output.rs formats)",
    )
    q_p = sub.add_parser("query", help="run TPC-H query N")
    q_p.add_argument("--num", type=int, required=True)
    q_p.add_argument("--plan", action="store_true")
    q_p.add_argument(
        "--full", action="store_true",
        help="run the verbatim TPC-H text over the full 8-table generated "
        "schema (queries/tpch_full.py) instead of the testdata adaptation",
    )
    sub.add_parser("tables", help="list registered tables")
    sub.add_parser("repl", help="interactive SQL loop")
    r_p = sub.add_parser(
        "run",
        help="run any catalog query by name (the full driver-visible "
        "surface: tpch/dedup/sim/text/ev/op/iceberg/stream/win/f "
        "families); `run --list [prefix]` enumerates names",
    )
    r_p.add_argument("name", nargs="?", help="query name (see --list)")
    r_p.add_argument("--list", action="store_true", dest="list_names",
                     help="list catalog query names (optionally by prefix)")
    r_p.add_argument("--plan", action="store_true")
    r_p.add_argument(
        "--format", choices=sorted(_FORMATS), default="table",
        help="result rendering (reference cli/output.rs formats)",
    )
    b_p = sub.add_parser(
        "benchmark", help="time all 22 TPC-H queries (reference `benchmark`)"
    )
    b_p.add_argument("--repeat", type=int, default=1)
    bp_p = sub.add_parser(
        "benchmark-parquet",
        help="time all 22 TPC-H queries over a parquet dir (reference "
        "`benchmark-parquet --path`)",
    )
    bp_p.add_argument("--path", required=True)
    bp_p.add_argument("--iterations", type=int, default=1)
    g_p = sub.add_parser(
        "generate-parquet",
        help="generate TPC-H-ish tables at --sf (reference `generate-parquet`; "
        "distributed spark.range + hash exprs, no driver-side data)",
    )
    g_p.add_argument("--sf", type=float, required=True)
    g_p.add_argument("--output", required=True)
    l_p = sub.add_parser(
        "load-parquet", help="load a parquet file/dir as a table, then run --query"
    )
    l_p.add_argument("--path", required=True)
    l_p.add_argument("--name", required=True)
    l_p.add_argument("--query", required=True)
    c_p = sub.add_parser(
        "catalog",
        help="register tables from a metastore-style JSON descriptor "
        "(reference metastore client surface), then optionally run --query",
    )
    c_p.add_argument("--descriptor", required=True)
    c_p.add_argument("--query")
    br_p = sub.add_parser(
        "branch",
        help="iceberg-lite ref management (create/tag/list/drop/"
        "fast-forward) — the write-audit-publish control surface",
    )
    br_p.add_argument("--table", required=True, help="iceberg-lite table path")
    br_p.add_argument(
        "action", choices=["list", "create", "tag", "drop", "fast-forward"]
    )
    br_p.add_argument("name", nargs="?", help="ref name (not needed for list)")
    br_p.add_argument("--at", type=int, help="snapshot id for create/tag")
    br_p.add_argument("--to", help="source ref for fast-forward")
    m_p = sub.add_parser(
        "maintenance",
        help="iceberg-lite table maintenance (expire / compact / "
        "orphans / rollback / schema DDL) — the storage-amplification "
        "control loop",
    )
    m_p.add_argument("--table", required=True, help="iceberg-lite table path")
    m_p.add_argument(
        "action",
        choices=[
            "snapshots", "expire", "compact", "orphans", "orphan-metadata",
            "rollback", "schema", "rename-column", "add-column",
            "drop-column",
        ],
    )
    m_p.add_argument("--keep-last", type=int, help="expire: retain N on main")
    m_p.add_argument("--older-than-ms", type=int,
                     help="expire/orphans: age horizon (epoch ms)")
    m_p.add_argument("--apply", action="store_true",
                     help="orphans: actually delete (default dry run)")
    m_p.add_argument("--to-snapshot", type=int, help="rollback target")
    m_p.add_argument("--partition-by", help="compact: output partition column")
    m_p.add_argument("--old", help="rename-column: current name")
    m_p.add_argument("--new", help="rename-column: new name")
    m_p.add_argument("--name", dest="col_name",
                     help="add-column/drop-column: column name")
    m_p.add_argument("--type", dest="col_type", default="string",
                     help="add-column: SQL type (default string)")
    args = p.parse_args(argv)

    eng = Engine()
    if args.cmd == "benchmark-parquet":
        args.sf_dir = args.path
        args.repeat = args.iterations
    if args.cmd not in (
        "generate-parquet", "load-parquet", "catalog", "branch", "maintenance"
    ):
        eng.register_sf_dir(args.sf_dir)

    if args.cmd == "sql":
        if args.plan:
            print(eng.explain(args.query))
        print(_FORMATS[args.format](eng.sql(args.query)))
    elif args.cmd == "query":
        if args.full:
            from .queries import tpch_full as _tf

            fn = _tf.QUERIES[f"tpchfull_q{args.num}"]
        else:
            from .queries import tpch

            fn = tpch.QUERIES[f"q{args.num}"]
        df = fn(eng.spark, args.sf_dir)
        if args.plan:
            df.explain(mode="formatted")
        t0 = time.perf_counter()
        rows = df.collect()
        ms = (time.perf_counter() - t0) * 1000
        res = QueryResult(
            rows=rows,
            schema=[(f.name, f.dataType.simpleString()) for f in df.schema.fields],
            row_count=len(rows),
            metrics=QueryMetrics(total_ms=ms, execute_ms=ms),
        )
        print(_fmt_table(res))
    elif args.cmd == "run":
        from .materialize import release
        from .queries import catalog as _catalog

        qs = _catalog.all_queries()
        if args.list_names:
            prefix = args.name or ""
            for n in sorted(qs):
                if n.startswith(prefix):
                    print(n)
            return 0
        if not args.name or args.name not in qs:
            near = sorted(n for n in qs if n.startswith((args.name or "")[:4]))
            print(
                f"unknown query {args.name!r}; try `run --list`"
                + (f" (close: {', '.join(near[:5])})" if near else "")
            )
            return 2
        df = qs[args.name](eng.spark, args.sf_dir)
        if args.plan:
            df.explain(mode="formatted")
        t0 = time.perf_counter()
        rows = df.collect()
        ms = (time.perf_counter() - t0) * 1000
        schema = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        release()  # the action is done: free what the catalog query pinned
        res = QueryResult(
            rows=rows,
            schema=schema,
            row_count=len(rows),
            metrics=QueryMetrics(total_ms=ms, execute_ms=ms),
        )
        print(_FORMATS[args.format](res))
    elif args.cmd == "tables":
        for t in eng.tables():
            print(t)
    elif args.cmd in ("benchmark", "benchmark-parquet"):
        from .queries import tpch

        total = 0.0
        for name in sorted(tpch.QUERIES, key=lambda q: int(q[1:])):
            best = float("inf")
            for _ in range(args.repeat):
                t0 = time.perf_counter()
                tpch.QUERIES[name](eng.spark, args.sf_dir).collect()
                best = min(best, time.perf_counter() - t0)
            total += best
            print(f"{name:>4}: {best * 1000:8.1f} ms")
        print(f"total: {total:.2f} s")
    elif args.cmd == "generate-parquet":
        from .sources.generator import generate_tpch

        counts = generate_tpch(eng.spark, args.sf, args.output)
        for name, n in counts.items():
            print(f"{name:>10}: {n:>10} rows")
    elif args.cmd == "load-parquet":
        eng.register_parquet(args.name, args.path)
        print(_fmt_table(eng.sql(args.query)))
    elif args.cmd == "catalog":
        from .sources.catalog import CatalogClient, register_catalog

        tables = register_catalog(eng.spark, CatalogClient(args.descriptor))
        for name in sorted(tables):
            print(name)
        if args.query:
            print(_fmt_table(eng.sql(args.query)))
    elif args.cmd == "branch":
        from .sources import iceberg_lite as il

        if args.action != "list" and not args.name:
            p.error(f"branch {args.action} requires a ref name")
        if args.action == "fast-forward" and not args.to:
            p.error("branch fast-forward requires --to <source ref>")
        t = il.IcebergLiteTable(args.table)
        if args.action == "list":
            for name, r in sorted(t.refs().items()):
                print(f"{name:>16}  {r['type']:>6}  snapshot {r['snapshot_id']}")
        elif args.action == "create":
            sid = il.create_branch(args.table, args.name, at_snapshot=args.at)
            print(f"branch {args.name} -> snapshot {sid}")
        elif args.action == "tag":
            sid = il.create_tag(args.table, args.name, at_snapshot=args.at)
            print(f"tag {args.name} -> snapshot {sid}")
        elif args.action == "drop":
            il.drop_ref(args.table, args.name)
            print(f"dropped {args.name}")
        elif args.action == "fast-forward":
            sid = il.fast_forward(args.table, args.name, args.to)
            print(f"{args.name} fast-forwarded to {args.to} (snapshot {sid})")
    elif args.cmd == "maintenance":
        from .sources import iceberg_lite as il

        t = il.IcebergLiteTable(args.table)
        if args.action == "snapshots":
            for s in t.snapshots():
                print(
                    f"snapshot {s['snapshot_id']:>4}  parent "
                    f"{str(s.get('parent_snapshot_id')):>4}  "
                    f"{s['summary']['operation']:>9}  "
                    f"schema {s.get('schema_id', 0)}"
                )
        elif args.action == "expire":
            res = il.expire_snapshots(
                args.table,
                keep_last=args.keep_last,
                older_than_ms=args.older_than_ms,
            )
            print(
                f"expired {len(res.expired_snapshot_ids)} snapshots, "
                f"reclaimed {res.bytes_reclaimed} bytes "
                f"({res.removed_data_paths} data paths)"
            )
        elif args.action == "compact":
            sid = il.compact(eng.spark, args.table, partition_by=args.partition_by)
            print(f"compacted -> snapshot {sid}")
        elif args.action == "orphans":
            res = il.remove_orphan_files(
                args.table,
                dry_run=not args.apply,
                older_than_ms=args.older_than_ms,
            )
            verb = "removed" if res.removed else "found (dry run)"
            print(f"{verb} {len(res.orphan_paths)} orphans, {res.bytes_total} bytes")
            for rel in res.orphan_paths:
                print(f"  {rel}")
        elif args.action == "orphan-metadata":
            res = il.remove_orphan_metadata(args.table, dry_run=not args.apply)
            verb = "removed" if res.removed else "found (dry run)"
            print(
                f"{verb} {len(res.orphan_paths)} metadata orphans, "
                f"{res.bytes_total} bytes"
            )
            for rel in res.orphan_paths:
                print(f"  {rel}")
        elif args.action == "rollback":
            if args.to_snapshot is None:
                p.error("rollback requires --to-snapshot")
            sid = il.rollback_to_snapshot(args.table, args.to_snapshot)
            print(f"main rolled back to snapshot {sid}")
        elif args.action == "schema":
            cur = t.current_schema()
            print(f"current schema id {cur['schema_id']}")
            for f in cur["fields"]:
                print(f"  {f['id']:>3}  {f['name']:<24} {f['type']}")
        elif args.action == "rename-column":
            if not (args.old and args.new):
                p.error("rename-column requires --old and --new")
            sid = il.rename_column(args.table, args.old, args.new)
            print(f"renamed {args.old} -> {args.new} (schema {sid})")
        elif args.action == "add-column":
            if not args.col_name:
                p.error("add-column requires --name")
            sid = il.add_column(args.table, args.col_name, args.col_type)
            print(f"added {args.col_name} {args.col_type} (schema {sid})")
        elif args.action == "drop-column":
            if not args.col_name:
                p.error("drop-column requires --name")
            sid = il.drop_column(args.table, args.col_name)
            print(f"dropped {args.col_name} (schema {sid})")
    elif args.cmd == "repl":
        from .repl import Repl

        Repl(eng).run()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
