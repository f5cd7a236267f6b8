"""table-churn: an Iceberg-lite table under interleaved writes and reads.

The benchmark keeps its own model of the live rows (key -> status) and
checks every read, and every compaction, against it: row count, key
sum and a key-set hash.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq

HASH_MUL = 2654435761
HASH_MOD = 1_000_000_007
STATUSES = ("F", "O", "P")
# Commits between compactions. Reads cost 0.3 s right after a compaction
# and 1.5 s six commits (four delete files) later on sf0.01 orders, so the
# cycle reaches the regime where merge-on-read has made reads about five
# times slower (see README.md, "table-churn cycle").
COMMITS_PER_COMPACTION = 6
COMMIT_KINDS = ("append", "upsert", "delete")
READ_KINDS = ("read_full", "read_pred", "read_agg")
APPEND_ROWS = 60
UPSERT_EXISTING = 40
UPSERT_NEW = 20
DELETE_MODULUS = 101
AGG_VIEW = "churn_orders"
AGG_SQL = (
    f"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS revenue FROM {AGG_VIEW} "
    "GROUP BY o_orderstatus"
)


def key_hash(k: int) -> int:
    return (k * HASH_MUL) % HASH_MOD


class ChurnModel:
    """Expected live rows of the table: key -> o_orderstatus."""

    def __init__(self, rows: dict[int, str]):
        self.rows = dict(rows)

    def put(self, rows: dict[int, str]) -> None:
        """An append of new keys, or an upsert: both leave one row per key."""
        self.rows.update(rows)

    def delete_mod(self, modulus: int, residue: int) -> None:
        self.rows = {k: s for k, s in self.rows.items() if k % modulus != residue}

    def expected(self, lo: int | None = None, hi: int | None = None) -> tuple[int, int, int]:
        keys = [k for k in self.rows if (lo is None or k >= lo) and (hi is None or k < hi)]
        return len(keys), sum(keys), sum(key_hash(k) for k in keys)

    def status_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.rows.values():
            out[s] = out.get(s, 0) + 1
        return out


@dataclass
class ChurnOp:
    kind: str  # read_full | read_pred | read_agg | append | upsert | delete | compact
    args: dict = field(default_factory=dict)
    depth: int = 0  # commits since the last compaction

    @property
    def label(self) -> str:
        """Reads are told apart by how many commits precede them, since
        that sets their cost."""
        return f"{self.kind}@{self.depth}" if self.role == "read" else self.kind

    @property
    def role(self) -> str:
        if self.kind.startswith("read"):
            return "read"
        return "compact" if self.kind == "compact" else "commit"


def _tree_bytes(path: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class TableChurn:
    name = "table-churn"
    # two cycles: two reads at each delete-file count
    min_passes = 2

    def __init__(self, root: str, work: str, sf_name: str = "sf0.01"):
        self.sf_dir = os.path.join(root, "data", "tpch_full", sf_name)
        self.orders_path = os.path.join(self.sf_dir, "orders.parquet")
        self.work = work
        self.path: str | None = None
        self.model: ChurnModel | None = None
        self.mismatches: list[str] = []
        self.bytes_written = 0
        self.payload_bytes = 0
        self.bytes_per_row = 1.0
        self.compact_bytes: list[int] = []
        self._setups = 0

    # -- setup --------------------------------------------------------
    def register(self, spark, tr) -> None:
        """Create a fresh table seeded from ``orders`` (one append)."""
        from iceberg_query_engine_spark.sources import iceberg_lite, registry

        self.close()
        self._setups += 1
        self.path = os.path.join(self.work, f"churn-table-{os.getpid()}-{self._setups}")
        with tr.span("registry.register_parquet", "registry"):
            base = registry.register_parquet(spark, "orders", self.orders_path)
        self.schema = base.schema
        with tr.span("iceberg.write_snapshot", "iceberg"):
            iceberg_lite.write_snapshot(base, self.path)
        t = pq.read_table(self.orders_path, columns=["o_orderkey", "o_orderstatus"])
        keys = t.column("o_orderkey").to_pylist()
        self.model = ChurnModel(dict(zip(keys, t.column("o_orderstatus").to_pylist())))
        self.next_key = max(keys) + 1
        sizes = _tree_bytes(self.path)
        self.bytes_per_row = sum(sizes.values()) / max(1, len(keys))
        self.bytes_written = self.payload_bytes = 0
        self.compact_bytes = []
        self.mismatches = []

    def warm_up(self, spark) -> None:
        """Every op kind once, ending with a compaction so the timed cycles
        start from a compacted table."""
        from .trace import NullTracer

        rng = random.Random(0)
        for kind in READ_KINDS + COMMIT_KINDS + ("compact",):
            op = self._commit_op(kind, rng) if kind in ("append", "upsert", "delete") \
                else ChurnOp(kind, self._read_args(rng))
            before = self.before_op(op)
            self.after_op(spark, op, self.run_op(spark, op, NullTracer()), True, before)

    # -- op stream ----------------------------------------------------
    @staticmethod
    def label(op: "ChurnOp") -> str:
        return op.label

    @staticmethod
    def role(op: "ChurnOp") -> str:
        return op.role

    def passes(self, rng: random.Random):
        """Endless cycles: a read of the compacted table, then
        COMMITS_PER_COMPACTION commits (append, upsert, positional delete,
        in turn), then a compaction. An upsert and a delete each add a
        delete file and are followed by one read, so every cycle reads the
        table once at each delete-file count; the read kinds rotate. The
        order is fixed, because a read's cost depends on the writes before
        it; the seed draws every key, predicate and row."""
        while True:
            cycle = [ChurnOp(READ_KINDS[0], self._read_args(rng))]
            for i in range(COMMITS_PER_COMPACTION):
                kind = COMMIT_KINDS[i % len(COMMIT_KINDS)]
                op = self._commit_op(kind, rng)
                op.depth = i + 1
                cycle.append(op)
                if kind != "append":
                    read = READ_KINDS[sum(o.role == "read" for o in cycle) % len(READ_KINDS)]
                    cycle.append(ChurnOp(read, self._read_args(rng), depth=i + 1))
            yield cycle + [ChurnOp("compact", depth=COMMITS_PER_COMPACTION)]

    def _read_args(self, rng: random.Random) -> dict:
        width = max(1, self.next_key // 10)
        lo = rng.randrange(0, max(1, self.next_key - width))
        return {"lo": lo, "hi": lo + width}

    def _commit_op(self, kind: str, rng: random.Random) -> ChurnOp:
        if kind == "delete":
            return ChurnOp(kind, {"residue": rng.randrange(DELETE_MODULUS)})
        n_new = APPEND_ROWS if kind == "append" else UPSERT_NEW
        new_keys = list(range(self.next_key, self.next_key + n_new))
        self.next_key += n_new
        # existing keys are drawn when the op runs, from the live model
        return ChurnOp(kind, {"new_keys": new_keys, "rng": random.Random(rng.random())})

    # -- execution ----------------------------------------------------
    def _rows(self, keys: list[int], rng: random.Random) -> list[tuple]:
        base = datetime.date(1995, 1, 1)
        return [
            (k, rng.randrange(1, 1500), rng.choice(STATUSES), rng.randrange(16, 1 << 20) / 16.0,
             base + datetime.timedelta(days=rng.randrange(1000)), "3-MEDIUM",
             f"Clerk#{rng.randrange(1000):09d}", 0, "churn")
            for k in keys
        ]

    def _table(self):
        from iceberg_query_engine_spark.sources.iceberg_lite import IcebergLiteTable

        return IcebergLiteTable(self.path)

    def _agg(self, df):
        from pyspark.sql import functions as F

        k = F.col("o_orderkey")
        h = F.pmod(k * F.lit(HASH_MUL), F.lit(HASH_MOD))
        return df.agg(F.count(F.lit(1)).alias("n"), F.sum(k).alias("s"), F.sum(h).alias("h"))

    def _read_full(self, spark, tr=None):
        from .trace import NullTracer

        tr = tr or NullTracer()
        with tr.span("iceberg.read", "iceberg"):
            df = self._table().read(spark)
        df = self._agg(df)
        with tr.span("collect", "collect") as a:
            r = df.collect()[0]
            a["rows"] = 1
        return df, (r["n"], r["s"] or 0, r["h"] or 0)

    def run_op(self, spark, op: ChurnOp, tr):
        from pyspark.sql import functions as F

        from iceberg_query_engine_spark.sources import iceberg_lite

        if op.kind == "read_full":
            df, got = self._read_full(spark, tr)
            return df, ("full", got)
        if op.kind == "read_pred":
            lo, hi = op.args["lo"], op.args["hi"]
            with tr.span("iceberg.read", "iceberg"):
                df = self._table().read(
                    spark, predicates=[("o_orderkey", ">=", lo), ("o_orderkey", "<", hi)])
            df = self._agg(df.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)))
            with tr.span("collect", "collect") as a:
                r = df.collect()[0]
                a["rows"] = 1
            return df, ("pred", (r["n"], r["s"] or 0, r["h"] or 0))
        if op.kind == "read_agg":
            # an analyst's SQL over the table, as Engine.register_iceberg
            # and Engine.sql run it
            from iceberg_query_engine_spark.functions import dialect
            from iceberg_query_engine_spark.plans.rewrites import apply_rewrites

            with tr.span("iceberg.read", "iceberg"):
                self._table().read(spark).createOrReplaceTempView(AGG_VIEW)
            with tr.span("dialect.translate", "dialect"):
                text = dialect.translate(AGG_SQL)
            with tr.span("rewrites.apply", "rewrites"):
                text = apply_rewrites(text)
            with tr.span("catalyst.sql", "catalyst"):
                df = spark.sql(text)
            with tr.span("collect", "collect") as a:
                rows = df.collect()
                a["rows"] = len(rows)
            return df, ("agg", {r["o_orderstatus"]: r["n"] for r in rows})
        if op.kind == "compact":
            with tr.span("iceberg.compact", "iceberg"):
                iceberg_lite.compact(spark, self.path)
            return None, None
        with tr.span(f"iceberg.{op.kind}", "iceberg"):
            if op.kind == "delete":
                iceberg_lite.write_position_deletes(
                    spark, self.path, f"o_orderkey % {DELETE_MODULUS} = {op.args['residue']}")
            else:
                keys = list(op.args["new_keys"])
                if op.kind == "upsert":
                    live = sorted(self.model.rows)
                    keys = op.args["rng"].sample(live, min(UPSERT_EXISTING, len(live))) + keys
                rows = self._rows(keys, op.args["rng"])
                df = spark.createDataFrame(rows, self.schema)
                if op.kind == "append":
                    iceberg_lite.write_snapshot(df, self.path)
                else:
                    iceberg_lite.upsert_snapshot(spark, self.path, df, ["o_orderkey"])
                op.args["written"] = {r[0]: r[2] for r in rows}
        return None, None

    def file_counts(self) -> tuple[int, int]:
        triples = self._table()._files_with_meta()
        data = sum(1 for _e, _s, c in triples if c == "data")
        return data, len(triples) - data

    def after_op(self, spark, op: ChurnOp, outcome, ok: bool, before: dict[str, int] | None) -> None:
        """Advance the model and check the table against it (untimed)."""
        if not ok:
            return
        if op.role == "read":
            kind, got = outcome[1]
            if kind == "agg":
                want = self.model.status_counts()
            elif kind == "pred":
                want = self.model.expected(op.args["lo"], op.args["hi"])
            else:
                want = self.model.expected()
            if got != want:
                self.mismatches.append(f"{op.kind}: table {got} != model {want}")
            return
        if op.kind == "delete":
            self.model.delete_mod(DELETE_MODULUS, op.args["residue"])
        elif op.kind in ("append", "upsert"):
            self.model.put(op.args["written"])
        after = _tree_bytes(self.path)
        new = {p: n for p, n in after.items() if p not in before}
        written = sum(new.values())
        self.bytes_written += written
        if op.kind in ("append", "upsert"):
            self.payload_bytes += sum(
                n for p, n in new.items()
                if p.endswith(".parquet") and "/delete-" not in p and "/metadata/" not in p)
        if op.kind == "compact":
            self.compact_bytes.append(written)
            _df, got = self._read_full(spark)
            want = self.model.expected()
            if got != want:
                self.mismatches.append(f"after compact: table {got} != model {want}")
            deletes = self.file_counts()[1]
            if deletes:
                self.mismatches.append(f"after compact: {deletes} delete files remain")

    def before_op(self, op: ChurnOp) -> dict[str, int] | None:
        """Files on disk before a write, to measure what the write adds."""
        return None if op.role == "read" else _tree_bytes(self.path)

    def space_amp(self) -> float:
        live = len(self.model.rows) * self.bytes_per_row
        return sum(_tree_bytes(self.path).values()) / max(live, 1.0)

    def write_amp(self) -> float:
        return self.bytes_written / self.payload_bytes if self.payload_bytes else 1.0

    def verify(self, spark) -> list[str]:
        return list(self.mismatches)

    def close(self) -> None:
        if self.path and os.path.isdir(self.path):
            shutil.rmtree(self.path, ignore_errors=True)
