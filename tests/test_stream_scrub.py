"""stream_dedup_pipeline — the streaming landing scrub with index
absorption (streaming/scrub.py).

A synthetic 60-doc corpus pins the cross-micro-batch behaviors the
sf-catalog oracle can't isolate: the chunk cuts are
t=54, chunks [54,56) [56,58) [58,60), and every interesting pair
crosses a chunk boundary, so each assertion proves the overlay
(absorb-as-you-land state) or the sequential-visibility rule, not
the base index.

  doc 54 (c0, train): text C             -> kept, and STAYS kept even
       though doc 56 lands the same text as eval later (sequential
       visibility; the full-visibility delta marks it contaminated)
  doc 55 (c0, train): text Y             -> kept
  doc 56 (c1, eval src0): text C         -> eval_split
  doc 57 (c1, train): C token-set permuted -> near_dup(54): the band
       rows absorbed from chunk 0 are probed by chunk 1
  doc 58 (c2, train): text Y verbatim    -> exact_dup(55): the content
       hash absorbed from chunk 0 is probed by chunk 2
  doc 59 (c2, train): C's first shingle + 25 unique tokens
                                         -> contaminated: the eval
       shingles absorbed from chunk 1's src0 doc are probed by chunk 2
       (J vs C = 8/35, far below the near-dup bar)
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_query_engine_spark.queries.dedup_suite import (
    PIPE_DELTA_SPLIT,
    STREAM_SCRUB_SQL,
    _pipeline_delta_index_dir,
    dedup_pipeline_delta,
)
from iceberg_query_engine_spark.streaming.scrub import stream_dedup_pipeline
from iceberg_query_engine_spark.testing import compare

C = " ".join(f"e{i}" for i in range(1, 11))
C_PERM = " ".join(f"e{i}" for i in range(10, 0, -1))
Y = " ".join(f"y{i}" for i in range(1, 11))
CONTAM = " ".join(f"e{i}" for i in range(1, 9)) + " " + " ".join(
    f"u{i}" for i in range(1, 26)
)


@pytest.fixture(scope="module", autouse=True)
def private_tempdir(tmp_path_factory):
    """Keep every store, run dir and checkpoint this module makes under
    its own tmp dir: the stores key on the synthetic corpus' path, so
    in the shared tempdir they would outlive the test session."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tempfile, "tempdir", str(tmp_path_factory.mktemp("tempdir")))
        yield


@pytest.fixture(scope="module")
def synth_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("stream_scrub")
    rows = []
    for i in range(54):
        src = "src0" if i < 2 else "src1"
        text = (
            " ".join(f"q{j}" for j in range(1, 11))
            if i == 0
            else " ".join(f"r{j}" for j in range(1, 11))
            if i == 1
            else " ".join(f"c{i}t{j}" for j in range(10))
        )
        rows.append((i, src, text))
    rows += [
        (54, "src1", C),
        (55, "src1", Y),
        (56, "src0", C),
        (57, "src1", C_PERM),
        (58, "src1", Y),
        (59, "src1", CONTAM),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "source": pa.array([r[1] for r in rows]),
            "text": pa.array([r[2] for r in rows]),
        }
    )
    pq.write_table(tbl, os.path.join(d, "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def ledger(spark, synth_dir):
    return {
        r.doc_id: r for r in stream_dedup_pipeline(spark, synth_dir).collect()
    }


def test_matches_sequential_oracle(spark, synth_dir):
    res = compare(
        "stream_dedup_pipeline",
        stream_dedup_pipeline(spark, synth_dir),
        STREAM_SCRUB_SQL,
        synth_dir,
    )
    assert res.ok, f"{res.detail}\n" + "\n".join(res.mismatches[:5])


def test_cross_batch_absorption(ledger):
    assert len(ledger) == 6
    assert ledger[55].status == "kept"
    assert ledger[56].status == "eval_split"
    # chunk-0 band rows catch the chunk-1 permutation
    assert (ledger[57].status, ledger[57].replacement) == ("near_dup", 54)
    # chunk-0 content hash catches the chunk-2 verbatim copy
    assert (ledger[58].status, ledger[58].replacement) == ("exact_dup", 55)
    # chunk-1 eval shingles catch the chunk-2 overlapping doc
    assert ledger[59].status == "contaminated"


def test_sequential_visibility_differs_from_full(spark, synth_dir, ledger):
    """doc 54 landed BEFORE the eval doc that shares its text, so the
    stream keeps it — while the single-batch delta (full visibility
    over the whole span) marks it contaminated. This is the semantic
    the streaming deployment adds; everything else agrees."""
    assert ledger[54].status == "kept"
    full = {r.doc_id: r for r in dedup_pipeline_delta(spark, synth_dir).collect()}
    assert full[54].status == "contaminated"
    for d in (55, 56, 57, 58, 59):
        assert full[d].status == ledger[d].status, d


def test_checkpoint_resume(spark, synth_dir, tmp_path, monkeypatch, ledger):
    """Crash after the first committed micro-batch, resume with the
    same run_dir: the checkpoint skips the committed epoch, the
    overlay already holds chunk 0's absorbed state, and the final
    ledger is identical to an uninterrupted run's. The injected crash
    fires BEFORE the batch's dispositions are staged, so nothing from
    the failed epoch reaches the ledger (the at-least-once window the
    docstring concedes is only between ledger append and epoch
    commit)."""
    from iceberg_query_engine_spark.queries import dedup_suite as ds

    run_dir = str(tmp_path / "resume_run")
    real = ds._delta_stages_from_stores
    calls = {"n": 0}

    def flaky(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash in micro-batch 1")
        return real(*a, **k)

    monkeypatch.setattr(ds, "_delta_stages_from_stores", flaky)
    with pytest.raises(Exception, match="injected crash|Writing job aborted|terminated"):
        stream_dedup_pipeline(spark, synth_dir, run_dir=run_dir)
    monkeypatch.setattr(ds, "_delta_stages_from_stores", real)

    timings: list = []
    resumed = {
        r.doc_id: r
        for r in stream_dedup_pipeline(
            spark, synth_dir, run_dir=run_dir, timings=timings
        ).collect()
    }
    # only the two uncommitted chunks replayed (epoch 0 stays committed)
    assert [b["batch"] for b in timings] == [1, 2]
    assert sum(b["rows"] for b in timings) == 4
    assert {d: (r.status, r.replacement) for d, r in resumed.items()} == {
        d: (r.status, r.replacement) for d, r in ledger.items()
    }


def test_base_index_never_mutated(spark, synth_dir):
    """Absorption writes to the per-run overlay only: the shared
    build-once index (also used by dedup_pipeline_delta_indexed) must
    be byte-stable across a whole stream run."""
    t = int(PIPE_DELTA_SPLIT * 60)
    base = _pipeline_delta_index_dir(spark, synth_dir, t)

    def snap() -> dict[str, tuple[int, float]]:
        out = {}
        for root, _, files in os.walk(base):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, base)] = (st.st_size, st.st_mtime)
        return out

    before = snap()
    stream_dedup_pipeline(spark, synth_dir)
    assert snap() == before
