"""Dialect-layer SQL rewrites: plan shapes Spark 4.1's optimizer cannot
reach from the verbatim text.

The one registered rewrite is the SELECTIVE-DIMENSION SEMI-JOIN
PUSHDOWN that TPC-H Q9 needs at scale. Q9 filters `part` with a LIKE
(spec '%green%' ≈ 1/11; this corpus's 'Part 1%' ≈ 55% — the rewrite
honors whatever predicate the text carries) and joins it to BOTH fact
tables (`lineitem` on l_partkey, `partsupp` on ps_partkey). The reference reaches 2.4 s at
SF=10 through its JoinReorder rule (join_reorder.rs — greedy
selectivity-first ordering); Spark's equivalent lever, the runtime
bloom filter, is size-thresholded only: the beneficial part-side bloom
(creation-side estimate 256-512 MB, but a CHEAP part re-scan) is
indistinguishable-by-conf from the harmful fact-rescan blooms that made
q14 69x at sf100 (BENCH_SCALE r5; `SET -v` audit found no cost-aware
knob). So the bloom stays off and q9 pays a full 600M-row exchange into
partsupp.

This rewrite makes the semi-reduction explicit and PLANNING-TIME: each
fact table referenced by the filtered dimension is replaced with

    (SELECT /*+ BROADCAST(part) */ f.* FROM f
     LEFT SEMI JOIN part ON f.<key> = p_partkey AND <the query's own
     p_name predicate>) f

which is semantics-preserving (the semi condition is implied by the
query's join+filter: it can only DROP rows the final inner join would
drop anyway — p_partkey is the part PK) and cuts both fact streams
~11x before any exchange. The broadcast hint is safe by construction:
the filtered part PROJECTION is only its join key, ~1 M keys / 8 MB at
SF=100, and grows with the dimension, not the fact.

Applied by `tpch_full._run` (so the driver's DuckDB gate checks the
REWRITTEN plan against the oracle every round) and by `bench_scale.py`.
"""

from __future__ import annotations

import re

_Q9_MARKERS = ("p_name like", "partsupp", "lineitem", "ps_supplycost")


def _is_q9_shape(sql: str) -> bool:
    low = sql.lower()
    return all(m in low for m in _Q9_MARKERS)


def q9_selective_semijoin(sql: str) -> str:
    """Inject part-key LEFT SEMI JOIN filters into q9's fact scans.

    Pattern-gated: only fires on the q9 shape (part LIKE filter joined
    to lineitem AND partsupp) and extracts the LIKE pattern from the
    query's own text, so any q9 parameterization is honored.
    """
    if not _is_q9_shape(sql):
        return sql
    m = re.search(r"p_name\s+like\s+('(?:[^']|'')*')", sql, re.IGNORECASE)
    if not m:
        return sql
    pat = m.group(1)

    def semi(fact: str, key: str) -> str:
        return (
            f"(select /*+ BROADCAST(part) */ {fact}.* from {fact} "
            f"left semi join part on {fact}.{key} = part.p_partkey "
            f"and part.p_name like {pat}) {fact}"
        )

    out = re.sub(r"\blineitem\b(?!\.)", semi("lineitem", "l_partkey"), sql, count=1)
    out = re.sub(r"\bpartsupp\b(?!\.)", semi("partsupp", "ps_partkey"), out, count=1)

    # REDUNDANT-JOIN ELIMINATION: q9 projects nothing from part — the
    # outer part ref exists only to apply (p_partkey = l_partkey AND
    # p_name LIKE ...), which the injected lineitem semi now enforces.
    # Because p_partkey is the part PRIMARY KEY (TPC-H schema; the
    # generator enforces uniqueness), the inner join cannot duplicate
    # rows, so dropping it is semantics-preserving. Spark 4.1 has no
    # constraint metadata to do this itself; measured at sf100 the
    # retained join costs either a SECOND fact-scale exchange (filtered
    # part > autoBroadcastJoinThreshold → SMJ re-hashing the 330M-row
    # stream by p_partkey) or, broadcast-hinted, a planner-chosen
    # part×supplier cross product. Only fires on the exact q9 comma-
    # list/WHERE shape; anything else keeps the join.
    steps = [
        (r"(?i)(FROM\s*\n?\s*)part\s*,", r"\1"),
        (r"(?i)\s*AND\s+p_partkey\s*=\s*l_partkey", ""),
        (r"(?i)\s*AND\s+p_name\s+like\s+" + re.escape(pat), ""),
    ]
    dropped = out
    for pattern, repl in steps:
        nxt, n = re.subn(pattern, repl, dropped, count=1)
        if n != 1:
            # shape mismatch — keep the (still-correct) semi-only form
            return out
        dropped = nxt
    return dropped


def apply_rewrites(sql: str) -> str:
    """All registered dialect rewrites, in order. Every rewrite must be
    semantics-preserving (validated against the DuckDB oracle on the
    UN-rewritten text in every oracle run). An A/B of the rewrites
    takes a git revision without them as its other arm."""
    return q9_selective_semijoin(sql)
