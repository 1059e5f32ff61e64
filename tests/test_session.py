"""The session factory keeps a repeated query set compiled.

Spark caches generated classes in an LRU keyed on the generated source.
One pass of the curate set needs ~210 classes, more than Spark's default
of 100 entries, and an LRU smaller than a cyclic working set misses on
every access: each pass would recompile every class with Janino.
"""

from __future__ import annotations

from tests.conftest import SF_DIR

from itdb_spark.session import CODEGEN_CACHE_ENTRIES

CURATE_SET = ["pipe-curate", "dedup-contain-exact", "graph-kcore", "fn-bpe-train"]


def _compilations(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _digest(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.hash(*cols).cast("long")).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def test_codegen_cache_sized_by_session(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_repeated_curate_pass_compiles_nothing(spark):
    from itdb_spark.queries import load_all

    qs = load_all()

    def one_pass():
        before = _compilations(spark)
        digests = []
        for qid in CURATE_SET:
            fn = qs[qid].bench_spark or qs[qid].spark
            digests.append(_digest(fn(spark, SF_DIR)))
        return _compilations(spark) - before, digests

    _, first = one_pass()
    compiled, second = one_pass()
    assert second == first
    assert compiled == 0, f"second curate pass recompiled {compiled} generated classes"
