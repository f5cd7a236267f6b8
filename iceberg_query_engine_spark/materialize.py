"""Size gates and materialisation: whether a derived frame is persisted
or broadcast, and the one release that frees what a query pinned.

The gates compare source sizes (``sources.registry.table_bytes``) with
two constants; an unknown size takes the gate's safe side.

Release contract. A query pins storage through ``persist_if_large``,
the few ungated ``persist`` calls (the ``dedup_pipeline_resolve``
ledger) and every ``localCheckpoint``. The frame it returns owns none of
these, so the ContextCleaner frees them only when both collectors happen
to run. Call ``release()`` between queries, after the action, when no
frame built on a checkpoint will be acted on again: such a frame fails
on its next action once its blocks are gone. ``Engine.sql`` does not
call it: SQL text reaches none of these sites, and a user may still
hold frames from ``Engine.dataframe``.
"""

from __future__ import annotations

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources import registry

# Materialize-vs-recompute gate for MULTIPLY-REFERENCED derived frames.
# Catalyst does not de-duplicate subtrees: a frame referenced N times
# re-runs its whole lineage — source scan included — N times. Above
# this source size, one lazy persist (computed inside the consuming
# action, shared by every reference; freed by release() after the
# action) replaces N-1 corpus scans. Below it, recomputation is
# CHEAPER: the duplicated sub-second subtrees run fully parallel,
# while the materialization barrier serializes the stage graph and
# pays cache write/read (measured r9-opt at sf0.1: persist cost
# 1.2-3x on ev_dau_wau_mau/op_ks_test/op_freq_itemsets — the same
# lesson as the reverted corpus-wide respread). The production value
# is argued in OPTIMIZATION_r09.md.
MATERIALIZE_MIN_BYTES = 256 << 20

# Broadcast-HINT gate (r9 verdict, What's wrong #1): F.broadcast() is
# honored unconditionally by the planner, so a hard hint on a frame
# whose cardinality grows with the corpus (per-user aggregates,
# vocabularies, filtered dimensions) trades the planner's sort-merge
# fallback for a build-side OOM at scale. Below this SOURCE size the
# derived frame is provably tiny (it is at most an aggregate of the
# source) and the hint merely restores the choice the planner would
# make from fresh estimates (a persisted frame's RDD-backed stats hide
# them); above it, no hint — the planner/AQE pick from real sizes.
BROADCAST_HINT_MAX_SOURCE_BYTES = 1 << 30


def _source_bytes(sf_dir: str, source_tables: tuple[str, ...]) -> int | None:
    """Total on-disk bytes of the named source tables; None if any is
    unknown (caller picks its safe side)."""
    total = 0
    for t in source_tables:
        b = registry.table_bytes(sf_dir, t)
        if b is None:
            return None
        total += b
    return total


def persist_if_large(df: DataFrame, sf_dir: str, *source_tables: str) -> DataFrame:
    """Lazily persist `df` when its source tables are big enough that
    re-running its lineage per reference would dominate (see
    MATERIALIZE_MIN_BYTES). Unknown sizes persist (the scale-safe
    side — a missed persist costs corpus re-scans, a spurious one
    costs a bounded cache write)."""
    total = _source_bytes(sf_dir, source_tables)
    if total is None or total >= MATERIALIZE_MIN_BYTES:
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def broadcast_if_small(df: DataFrame, sf_dir: str, *source_tables: str) -> DataFrame:
    """Broadcast hint gated on SOURCE size (see
    BROADCAST_HINT_MAX_SOURCE_BYTES): below the gate the hint is safe
    and keeps the sub-second BroadcastHashJoin the planner would pick
    from fresh estimates; above it (or when sizes are unknown) the
    frame is returned unhinted so the planner/AQE keep their sort-merge
    fallback — a user-count- or vocabulary-sized frame at 100 TB is not
    broadcastable and a hard hint OOMs the build side instead of
    degrading gracefully."""
    total = _source_bytes(sf_dir, source_tables)
    if total is not None and total <= BROADCAST_HINT_MAX_SOURCE_BYTES:
        return F.broadcast(df)
    return df


def release() -> int:
    """Free everything the finished query pinned: clear the SQL cache,
    then unpersist, blocking, every RDD of the active context's
    persistent map (persisted frames and localCheckpoint blocks alike;
    the cache's own unpersist does not wait for its blocks to go).
    Returns how many RDDs it unpersisted; 0 when no SparkContext is
    running. See the module docstring for when it is safe to call."""
    sc = SparkContext._active_spark_context  # noqa: SLF001
    if sc is None:
        return 0
    rdds = list(sc._jsc.getPersistentRDDs().values())  # noqa: SLF001
    SparkSession.active().catalog.clearCache()
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds)
