"""The read-only workloads (tpch-adhoc, llm-scrub) and the workload table.

Each workload registers its corpus, warms up, yields a seeded endless
stream of operations, runs one operation through the engine's public
functions with a span around each layer call, and checks its results
against the repository's DuckDB oracles after the timed loop.
"""

from __future__ import annotations

import hashlib
import os
import random

from .churn import TableChurn

TPCH_SF_DIR = ("data", "tpch_full", "sf0.01")
SCRUB_SF = 0.01
SCRUB_TABLES = {"documents", "embeddings"}
SCRUB_OPS = (
    "dedup_embedding_cosine",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "sim_knn_join",
    "text_tfidf",
)


class _Checked:
    """Keeps each operation's collected rows and checks them, after the
    timed loop, against the DuckDB oracle's canonical answer.

    Oracle answers are cached under the work directory, keyed by the
    oracle text and the corpus bytes, because some take seconds in
    DuckDB and the corpus never changes between runs."""

    def __init__(self, cache_dir: str):
        self.cache_dir = cache_dir
        self.results: list[tuple[str, object, list]] = []
        self._keys: dict[tuple[str, str], str] = {}

    def keep(self, name: str, df, rows: list) -> None:
        self.results.append((name, df.schema, rows))

    @staticmethod
    def _digest(rows: list) -> str:
        return hashlib.sha1("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()

    def _oracle_path(self, name: str, sql: str, sf_dir: str) -> str:
        key = self._keys.get((name, sf_dir))
        if key is None:
            h = hashlib.sha1(sql.encode())
            for f in sorted(os.listdir(sf_dir)):
                if f.endswith(".parquet"):
                    with open(os.path.join(sf_dir, f), "rb") as fh:
                        h.update(f.encode() + hashlib.sha1(fh.read()).digest())
            key = self._keys[(name, sf_dir)] = h.hexdigest()[:16]
        return os.path.join(self.cache_dir, f"{name}-{key}.parquet")

    @staticmethod
    def _verified(path: str) -> set[str]:
        try:
            with open(f"{path}.verified") as f:
                return set(f.read().split())
        except FileNotFoundError:
            return set()

    def _oracle(self, path: str, sql: str, con):
        import pandas as pd

        from iceberg_query_engine_spark.testing import _canon

        if os.path.exists(path):
            return pd.read_parquet(path)
        want = _canon(con.execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        want.to_parquet(tmp, index=False)
        os.replace(tmp, path)
        return want

    def compare_all(self, spark, sf_dir: str, oracles: dict[str, str]) -> list[str]:
        """Check every kept result. A result whose rows are identical to
        one already shown equal to the oracle (in this run or, through the
        digest file beside the cached oracle answer, an earlier one) passes
        without another comparison."""
        from iceberg_query_engine_spark.testing import _canon, duck_connect

        bad = []
        con = duck_connect(sf_dir)
        try:
            for name, schema, rows in self.results:
                path = self._oracle_path(name, oracles[name], sf_dir)
                digest = self._digest(rows)
                if digest in self._verified(path):
                    continue
                got = _canon(spark.createDataFrame(rows, schema).toPandas())
                want = self._oracle(path, oracles[name], con)
                if list(got.columns) != list(want.columns) or len(got) != len(want):
                    bad.append(f"{name}: shape {list(got.columns)}x{len(got)} != "
                               f"{list(want.columns)}x{len(want)}")
                elif not got.equals(want):
                    col = next(c for c in got.columns if not got[c].equals(want[c]))
                    bad.append(f"{name}: values differ in column {col}")
                else:
                    with open(f"{path}.verified", "a") as f:
                        f.write(digest + "\n")
        finally:
            con.close()
        return bad


class TpchAdhoc:
    """The 22 TPC-H texts, one at a time, as an analyst at the REPL."""

    name = "tpch-adhoc"
    min_passes = 1

    def __init__(self, root: str, work: str):
        self.sf_dir = os.path.join(root, *TPCH_SF_DIR)
        self.checked = _Checked(os.path.join(work, "oracles"))

    def register(self, spark, tr) -> None:
        from iceberg_query_engine_spark.queries import tpch_full

        with tr.span("tpch_full._register", "registry"):
            tpch_full._register(spark, self.sf_dir)

    def warm_up(self, spark) -> None:
        from .trace import NullTracer

        for n in range(1, 23):
            self.run_op(spark, n, NullTracer())

    def passes(self, rng: random.Random):
        order = list(range(1, 23))
        while True:
            rng.shuffle(order)
            yield list(order)

    @staticmethod
    def label(op) -> str:
        return f"q{op}"

    @staticmethod
    def role(op) -> str:
        return "query"

    def run_op(self, spark, n: int, tr):
        from iceberg_query_engine_spark.functions import dialect
        from iceberg_query_engine_spark.plans.rewrites import apply_rewrites
        from iceberg_query_engine_spark.queries import tpch_full

        with tr.span("dialect.translate", "dialect"):
            text = dialect.translate(tpch_full.QUERY_TEXTS[n])
        with tr.span("rewrites.apply", "rewrites"):
            text = apply_rewrites(text)
        with tr.span("catalyst.sql", "catalyst"):
            df = spark.sql(text)
        with tr.span("collect", "collect") as a:
            rows = df.collect()
            a["rows"] = len(rows)
        return df, rows

    def before_op(self, op) -> None:
        return None

    def after_op(self, spark, n, outcome, ok: bool, before) -> None:
        if ok:
            self.checked.keep(f"tpchfull_q{n}", *outcome)

    def verify(self, spark) -> list[str]:
        from iceberg_query_engine_spark.queries import tpch_full

        return self.checked.compare_all(spark, self.sf_dir, tpch_full.ORACLE)

    def close(self) -> None:
        pass


class LlmScrub:
    """Heavy Python-kernel and eager-build corpus-scrub operations."""

    name = "llm-scrub"
    # two samples of each op kind, for a median over ten
    min_passes = 2

    def __init__(self, root: str, work: str):
        self.sf_dir = os.path.join(work, "corpus", f"sf{SCRUB_SF}")
        self.checked = _Checked(os.path.join(work, "oracles"))

    def corpus_ready(self) -> bool:
        return os.path.exists(os.path.join(self.sf_dir, "_READY"))

    def build_corpus(self, spark) -> None:
        """Generate the deterministic corpus once per checkout."""
        from iceberg_query_engine_spark.sources.generator import generate_tpch

        generate_tpch(spark, SCRUB_SF, self.sf_dir, only=SCRUB_TABLES)
        with open(os.path.join(self.sf_dir, "_READY"), "w") as f:
            f.write("ok\n")

    def register(self, spark, tr) -> None:
        from iceberg_query_engine_spark.queries import tpch
        from iceberg_query_engine_spark.sources import registry

        with tr.span("registry.register_sf_dir", "registry"):
            registry.register_sf_dir(spark, self.sf_dir)
        # the operations read through the per-session table cache
        with tr.span("tpch.tables", "registry"):
            tpch.tables(spark, self.sf_dir, *sorted(SCRUB_TABLES))

    def warm_up(self, spark) -> None:
        from .trace import NullTracer

        for name in SCRUB_OPS:
            self.run_op(spark, name, NullTracer())
            self.release(spark)

    def passes(self, rng: random.Random):
        order = list(SCRUB_OPS)
        while True:
            rng.shuffle(order)
            yield list(order)

    @staticmethod
    def label(op) -> str:
        return op

    @staticmethod
    def role(op) -> str:
        return "query"

    def run_op(self, spark, name: str, tr):
        from iceberg_query_engine_spark.queries import catalog

        fn = catalog.all_queries()[name]
        with tr.span("queries.build", "queries"):
            df = fn(spark, self.sf_dir)
        with tr.span("collect", "collect") as a:
            rows = df.collect()
            a["rows"] = len(rows)
        return df, rows

    @staticmethod
    def release(spark) -> None:
        from iceberg_query_engine_spark.queries import tpch

        tpch.release_gated_persists()
        spark.catalog.clearCache()

    def before_op(self, op) -> None:
        return None

    def after_op(self, spark, name, outcome, ok: bool, before) -> None:
        self.release(spark)
        if ok:
            self.checked.keep(name, *outcome)

    def verify(self, spark) -> list[str]:
        from iceberg_query_engine_spark.queries import catalog

        return self.checked.compare_all(spark, self.sf_dir, catalog.all_oracles())

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (TpchAdhoc, LlmScrub, TableChurn)}
