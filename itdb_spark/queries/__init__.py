"""Oracle-checked query registry.

Every operator from SURVEY.md §2 (plus the training-data-pipeline
extensions) registers here as a named query: a Spark callable
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, an ANSI-SQL
twin that DuckDB runs over the same parquet tables. The driver compares the
two (row count + schema + order-insensitive value hash), so:

* every computed/aggregate column is aliased identically on both sides;
* float aggregation uses integer-cents arithmetic or explicit rounding so
  summation order cannot perturb the hash;
* any ordering that feeds LIMIT / window functions carries a full
  deterministic tie-break.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    id: str
    spark: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str  # reference citation / description
    bench: bool = False  # include in bench.py headline set
    # Deploy-grade variant for the bench ONLY: same operator, the hash /
    # config a real cluster would run (e.g. xxhash64 shingle hashes
    # instead of the md5-prefix portable hash the DuckDB gate needs to
    # reproduce buckets bit-for-bit). CORRECTNESS always grades `spark`;
    # bench.py times `bench_spark or spark` — the bench should measure
    # the plan production would run, not the oracle-portability harness.
    # Equivalence of the two paths is recall-gated in test_scale_paths.
    bench_spark: SparkQuery | None = None


REGISTRY: dict[str, Query] = {}

_BUILT: dict[tuple[str, str], str] = {}


def built_once(prefix: str, sf_dir: str, build: Callable[[str], str]) -> str:
    """Per-process memoized scratch build (persisted indexes, embedded
    databases): the first call for ``(prefix, abspath(sf_dir))`` makes a
    private ``mkdtemp`` dir (unique, mode 0700 — a fixed /tmp path is
    pre-creatable by another local user and races concurrent
    sessions), registers its removal at interpreter exit (returned
    DataFrames read the path lazily) and returns ``build(dir)``; later
    calls return that same value, so a long session holds one copy per
    corpus instead of one per call."""
    key = (prefix, os.path.abspath(sf_dir))
    if key not in _BUILT:
        d = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, d, True)
        _BUILT[key] = build(d)
    return _BUILT[key]


def register(
    id: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = False,
    bench_spark: SparkQuery | None = None,
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if id in REGISTRY:
            raise ValueError(f"duplicate query id {id!r}")
        REGISTRY[id] = Query(
            id=id,
            spark=fn,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            bench=bench,
            bench_spark=bench_spark,
        )
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every query module so REGISTRY is fully populated."""
    from itdb_spark.queries import (  # noqa: F401
        aggregates,
        analytics,
        extras,
        filters,
        joins,
        pipeline,
        scans,
        setops,
        sorts,
        streamingq,
        windows,
    )

    return REGISTRY
