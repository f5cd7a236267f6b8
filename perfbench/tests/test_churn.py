"""The table-churn model, alone and against a tiny sf0.001 engine run."""

from __future__ import annotations

import os
import random

import pytest

from perfbench import churn
from perfbench.trace import NullTracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_model_tracks_appends_upserts_and_deletes():
    m = churn.ChurnModel({1: "F", 2: "O", 102: "P"})
    m.put({3: "O", 2: "F"})
    assert m.expected() == (4, 108, sum(churn.key_hash(k) for k in (1, 2, 3, 102)))
    m.delete_mod(101, 1)  # removes 1 and 102
    assert m.expected() == (2, 5, churn.key_hash(2) + churn.key_hash(3))
    assert m.expected(lo=3, hi=10)[:2] == (1, 3)
    assert m.status_counts() == {"F": 1, "O": 1}


def test_op_stream_cycles_every_commit_kind_then_compacts():
    wl = churn.TableChurn(ROOT, "unused")
    wl.next_key = 1000
    cycle = next(wl.passes(random.Random(3)))
    n = churn.COMMITS_PER_COMPACTION
    assert cycle[0].role == "read" and cycle[-1].kind == "compact"
    commits = [o for o in cycle if o.role == "commit"]
    assert [o.kind for o in commits] == [churn.COMMIT_KINDS[i % 3] for i in range(n)]
    # one read after the compaction and after every commit that adds a
    # delete file, labelled with the commits before it
    reads = [o for o in cycle if o.role == "read"]
    depths = [0] + [i + 1 for i in range(n) if churn.COMMIT_KINDS[i % 3] != "append"]
    assert [o.label for o in reads] == [
        f"{churn.READ_KINDS[j % 3]}@{d}" for j, d in enumerate(depths)]
    assert len(cycle) == 1 + n + len(depths)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from iceberg_query_engine_spark.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=4)
    yield s


def test_model_agrees_with_a_tiny_engine_run(spark, tmp_path):
    wl = churn.TableChurn(ROOT, str(tmp_path), sf_name="sf0.001")
    tr = NullTracer()
    wl.register(spark, tr)
    deletes_seen = []
    try:
        passes = wl.passes(random.Random(7))
        for op in next(passes) + next(passes):  # two compaction cycles
            before = wl.before_op(op)
            outcome = wl.run_op(spark, op, tr)
            wl.after_op(spark, op, outcome, True, before)
            deletes_seen.append((op.kind, wl.file_counts()[1]))
        assert wl.verify(spark) == []
        # delete files pile up between compactions and are gone after each
        after_compact = [n for kind, n in deletes_seen if kind == "compact"]
        assert after_compact == [0, 0]
        # an upsert and a delete each add a delete file
        assert max(n for _kind, n in deletes_seen) == 2 * churn.COMMITS_PER_COMPACTION // 3
        assert wl.space_amp() > 1.0 and wl.write_amp() > 1.0
    finally:
        wl.close()
    assert not os.path.exists(wl.path)
