"""One home for size gates and materialisation (materialize.py) and the
one size walker (sources.registry.parquet_bytes).

- release() frees everything a query pinned: one op per family of
  materialisation sites (localCheckpoint in the dedup, similarity and
  operators suites and in operators/rank.py; the ungated ledger
  persist; a persist_if_large frame) leaves 0 persistent RDDs after its
  action and a release, and a rebuild returns the same rows. The two
  streaming ops whose frames read their own output lazily leave no
  scratch directory once the action and release() have run.
- A size the walker cannot tell is None, and each consumer takes its
  documented side: the bucket-count floor, stock session confs.
- at_rest() is the one home for stored derivations: a hit does not
  build, a changed source is a new path that reclaims the old one, a
  raising build is never served. The sites that used to decide "is it
  built?" themselves serve oracle rows after an interrupted build or a
  regenerated corpus.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_query_engine_spark import materialize
from iceberg_query_engine_spark import session as S
from iceberg_query_engine_spark.materialize import release
from iceberg_query_engine_spark.operators.rank import ranked_by_range
from iceberg_query_engine_spark.queries import catalog
from iceberg_query_engine_spark.queries.tpch import tables
from iceberg_query_engine_spark.queries.tpch_full import pick_bucket_count
from iceberg_query_engine_spark.sources.registry import parquet_bytes
from iceberg_query_engine_spark.testing import compare


def _ranked(spark, sf_dir):
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    df, _total = ranked_by_range(
        lineitem.select("l_orderkey", "l_linenumber"),
        ["l_orderkey", "l_linenumber"],
        checkpoint=True,
        small_threshold_bytes=0,  # the range path, which checkpoints
    )
    return df


def _catalog_op(name):
    return lambda spark, sf_dir: catalog.all_queries()[name](spark, sf_dir)


SITES = {
    "dedup_embedding_cosine": _catalog_op("dedup_embedding_cosine"),
    "dedup_clusters": _catalog_op("dedup_clusters"),
    "sim_knn_clusters": _catalog_op("sim_knn_clusters"),
    "dedup_pipeline_resolve": _catalog_op("dedup_pipeline_resolve"),
    "sim_ivf_persist": _catalog_op("sim_ivf_persist"),
    "op_mixture_weights": _catalog_op("op_mixture_weights"),
    "rank_checkpoint": _ranked,
    "persist_if_large": _catalog_op("op_gini"),
}


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _digest(rows) -> list[str]:
    return sorted(repr(tuple(r)) for r in rows)


@pytest.mark.parametrize("site", sorted(SITES))
def test_release_frees_every_pin(spark, sf_smoke, site, monkeypatch):
    if site == "persist_if_large":
        monkeypatch.setattr(materialize, "MATERIALIZE_MIN_BYTES", 0)
    build = SITES[site]
    release()
    first = build(spark, sf_smoke).collect()
    assert _persistent(spark) > 0, "the op pinned nothing; the test proves nothing"
    assert release() > 0
    assert _persistent(spark) == 0
    # nothing a later query needs went with the release
    again = build(spark, sf_smoke).collect()
    release()
    assert _digest(again) == _digest(first)


def test_release_without_a_context_is_a_noop(monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert release() == 0


def test_release_removes_streaming_scratch_dirs(spark, sf_smoke, private_tmp, tmp_path):
    from iceberg_query_engine_spark.streaming.jobs import stream_upsert_iceberg
    from iceberg_query_engine_spark.streaming.scrub import stream_dedup_pipeline

    release()
    own_run = str(tmp_path / "own_run")
    assert stream_dedup_pipeline(spark, sf_smoke).collect()
    assert stream_dedup_pipeline(spark, sf_smoke, run_dir=own_run).collect()
    assert stream_upsert_iceberg(spark, sf_smoke).collect()
    roots = [os.path.join(private_tmp, d) for d in ("sg_stream_scrub", "sg_stream_ice")]
    assert all(len(os.listdir(r)) == 1 for r in roots), "the ops wrote no scratch dir"
    release()
    assert [os.listdir(r) for r in roots] == [[], []]
    # a caller-chosen run dir is the caller's: never registered, never removed
    assert os.path.isdir(os.path.join(own_run, "overlay"))


# ------------------------------------------------------------ unknown sizes
def test_walker_counts_parquet_only(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.parquet.crc").write_bytes(b"\0" * 12)
    assert parquet_bytes(str(d)) is None  # sidecars only: unknown, not 0
    assert parquet_bytes(str(tmp_path / "absent")) is None
    (d / "k=1").mkdir()
    (d / "k=1" / "part-0.parquet").write_bytes(b"\0" * 100)
    assert parquet_bytes(str(d)) == 100  # recursive
    assert parquet_bytes(str(d / "k=1" / "part-0.parquet")) == 100
    assert parquet_bytes(str(d / "_SUCCESS")) is None


def test_bucket_count_ignores_sidecars(tmp_path):
    li = tmp_path / "lineitem.parquet"
    li.mkdir()
    # a 19 GB sparse sidecar (no disk used) is not lineitem data: the
    # size is unknown, so the count takes its floor
    with open(li / "_SUCCESS", "wb") as f:
        f.truncate(19 * 1024**3)
    assert pick_bucket_count(str(tmp_path)) == 64


def test_tune_for_corpus_without_parquet_keeps_stock_confs(spark, tmp_path):
    (tmp_path / "_SUCCESS").write_text("")
    assert S.tune_for_corpus(spark, str(tmp_path), cpus=32) == {}


# --------------------------------------------------------- stored at rest
@pytest.fixture()
def private_tmp(tmp_path, monkeypatch) -> str:
    """Route the default store root (the system tempdir) into tmp_path."""
    d = tmp_path / "tempdir"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return str(d)


def _copy_tables(src_sf: str, dst_sf: str, *names: str) -> str:
    os.makedirs(dst_sf)
    for n in names:
        shutil.copy2(
            os.path.join(src_sf, f"{n}.parquet"), os.path.join(dst_sf, f"{n}.parquet")
        )
    return dst_sf


def _bump_mtime(path: str) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10_000_000_000))


def test_at_rest_hit_does_not_build(tmp_path, private_tmp):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq.write_table(pa.table({"k": [1, 2]}), os.path.join(sf, "t.parquet"))
    calls = []

    def build(path):
        calls.append(path)
        os.makedirs(path)

    p1 = materialize.at_rest("fake", sf, ("t",), build, tag="x")
    assert p1.startswith(os.path.join(private_tmp, "spark_graft_store", "fake"))
    assert os.path.exists(os.path.join(p1, materialize.SENTINEL))
    assert materialize.at_rest("fake", sf, ("t",), build, tag="x") == p1
    assert calls == [p1]


def test_at_rest_changed_source_reclaims_old_path(tmp_path, private_tmp):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    t = os.path.join(sf, "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), t)
    p1 = materialize.at_rest("fake", sf, ("t",), os.makedirs)
    # a store of another source dir shares the kind, not the slug dir
    other = str(tmp_path / "other")
    _copy_tables(sf, other, "t")
    p_other = materialize.at_rest("fake", other, ("t",), os.makedirs)
    _bump_mtime(t)
    p2 = materialize.at_rest("fake", sf, ("t",), os.makedirs)
    assert p2 != p1 and os.path.dirname(p2) == os.path.dirname(p1)
    assert not os.path.exists(p1)
    assert os.listdir(os.path.dirname(p2)) == [os.path.basename(p2)]
    assert os.path.exists(os.path.join(p_other, materialize.SENTINEL))


def test_at_rest_raising_build_is_never_served(tmp_path, private_tmp):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq.write_table(pa.table({"k": [1, 2]}), os.path.join(sf, "t.parquet"))
    seen = []

    def crash(path):
        os.makedirs(path)
        open(os.path.join(path, "half"), "w").close()
        raise RuntimeError("interrupted build")

    def build(path):
        seen.append(os.path.exists(path))
        os.makedirs(path)

    with pytest.raises(RuntimeError):
        materialize.at_rest("fake", sf, ("t",), crash)
    p = materialize.at_rest("fake", sf, ("t",), build)
    assert seen == [False]  # the partial dir was removed before the rebuild
    assert sorted(os.listdir(p)) == [materialize.SENTINEL]


def _fail_once(monkeypatch, module, name, at_call):
    """Make module.<name> raise on its `at_call`-th call (1-based), once."""
    real = getattr(module, name)
    n = {"calls": 0}

    def flaky(*a, **k):
        n["calls"] += 1
        if n["calls"] == at_call:
            raise RuntimeError("interrupted build")
        return real(*a, **k)

    monkeypatch.setattr(module, name, flaky)


@pytest.mark.parametrize(
    "op, at_call",
    [
        # the second append of the time-travel fixture
        ("iceberg_time_travel", 2),
        # the aggregate's first commit, after both source appends
        ("iceberg_incremental_agg", 3),
    ],
)
def test_interrupted_fixture_build_is_rebuilt(
    spark, sf_smoke, tmp_path, private_tmp, monkeypatch, op, at_call
):
    from iceberg_query_engine_spark.queries import iceberg_suite

    sf = _copy_tables(sf_smoke, str(tmp_path / "sf"), "orders")
    _fail_once(monkeypatch, iceberg_suite, "write_snapshot", at_call)
    with pytest.raises(RuntimeError, match="interrupted build"):
        iceberg_suite.QUERIES[op](spark, sf).collect()
    r = compare(op, iceberg_suite.QUERIES[op](spark, sf), iceberg_suite.ORACLE[op], sf)
    assert r.ok, (r.detail, r.mismatches[:3])


def test_ivf_index_tracks_a_regenerated_corpus(
    spark, sf_smoke, tmp_path, private_tmp, monkeypatch
):
    from iceberg_query_engine_spark.queries import similarity_suite as sim
    from iceberg_query_engine_spark.queries import tpch

    sf = _copy_tables(sf_smoke, str(tmp_path / "sf"), "embeddings")
    monkeypatch.setattr(tpch, "_TABLE_CACHE", {})
    first = sim.sim_ivf_persist(spark, sf).collect()
    # regenerate the corpus at the same path and row count: every
    # vector moves to another id
    path = os.path.join(sf, "embeddings.parquet")
    t = pq.read_table(path)
    emb = t.column("embedding").to_pylist()
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        pa.field("embedding", t.schema.field("embedding").type),
        pa.array(emb[7:] + emb[:7], t.schema.field("embedding").type),
    )
    pq.write_table(t, path)
    monkeypatch.setattr(tpch, "_TABLE_CACHE", {})  # a new session's view
    again = sim.sim_ivf_persist(spark, sf)
    r = compare("sim_ivf_persist", again, sim.ORACLE["sim_ivf_persist"], sf)
    assert r.ok, (r.detail, r.mismatches[:3])
    assert sorted(map(tuple, again.collect())) != sorted(map(tuple, first))
