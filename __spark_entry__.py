"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``itdb_spark`` package (queries registry:
itdb_spark/queries/); this module just adapts it to the contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from itdb_spark.queries import load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's signature computation: per-playlist star histogram —
    join + null-safe star bucketization + 2-key group-count, collapsing the
    reference's N+1 per-playlist loop (itdbloader.py:260-293) into one
    shuffle (SURVEY.md §7.2 M0)."""
    registry = load_all()
    return registry["agg-pl-stats"].spark(spark, SMOKE_SF_DIR)


# Ordering contract: the driver grades a fixed-size window from the front
# of the registry, so entries it has NEVER recorded a CORRECTNESS row for
# must lead. Rather than hand-maintained per-round lists (round 2 left 6
# queries ungraded through a bookkeeping gap), the queue derives itself
# from the committed grading record: every CORRECTNESS_r*.json in the repo
# root is read, and queries sort by the LAST round the driver graded them
# (never-graded first, then oldest-graded), registry order as tie-break.
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))

# Queries whose RESULT SHAPE or ORACLE changed since their last driver
# grade: {qid: stale_as_of} means "grades up to and including round
# stale_as_of predate a definition change", so the query ranks with the
# never-graded set (ahead of it, in fact) until a CORRECTNESS file with a
# higher round number re-records it under the new definition. A pin is
# SELF-CLEARING: _effective_rank ignores it once such a file exists, so a
# pin left in place after its re-grade is dead weight, never a queue
# distortion. The CI gate
# (tests/test_properties.py::test_changed_since_graded_cleared_after_regrade)
# tolerates pins neutralized by the NEWEST file — that file always lands
# after the tree is frozen — and fails when a pin has sat neutralized
# through a full later round. Pins are for CHANGED definitions only: a
# refactor whose results are identical at the grading SFs (verified
# differentially) needs none, and never-graded entries front the queue
# on their own.
_CHANGED_SINCE_GRADED: dict[str, int] = {}


def _last_graded_round() -> dict[str, int]:
    """query id → highest round number whose CORRECTNESS file records it
    (any verdict — pass, fail, or rows-only all count as 'graded')."""
    import glob
    import json
    import re

    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                graded = json.load(f)
        except (OSError, ValueError):
            continue  # unreadable history never blocks the contract
        for qid in graded:
            last[qid] = max(last.get(qid, 0), rnd)
    return last


def _effective_rank(qid: str, last: dict[str, int]) -> int:
    """-1 = definition/semantics changed since the last record (or a
    flagged fresh fix) — leads even the never-graded bucket, which can
    exceed one grading window; 0 = never recorded; otherwise the round
    last graded (stalest first)."""
    if last.get(qid, 0) <= _CHANGED_SINCE_GRADED.get(qid, -1):
        return -1
    return last.get(qid, 0)


def _ordered() -> dict:
    registry = load_all()
    last = _last_graded_round()
    # sorted() is stable → registry (insertion) order breaks ties within
    # each rank bucket; rank -1 (definition-changed pins) leads, then
    # rank 0 (never-graded), then stalest-graded-first.
    return dict(
        sorted(registry.items(), key=lambda kv: _effective_rank(kv[0], last))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ pipeline
    extensions). Each callable takes (spark, sf_dir) → DataFrame.
    Riskiest-first ordering: entries the driver hasn't graded yet lead."""
    return {qid: q.spark for qid, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every query — since round 4 the
    registry carries NO rows-only entries (a key absent here would get
    the weaker rows-only check; there are none)."""
    return {qid: q.oracle for qid, q in _ordered().items() if q.oracle is not None}
