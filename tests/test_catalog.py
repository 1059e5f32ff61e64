"""Catalog table reads: each table's schema is inferred from its parquet
footer once per process, and every later ``load_table`` of the same path
reuses it instead of running Spark's footer-inference job again."""

import os
import time

import pytest
from pyspark.sql import functions as F

from itdb_spark.catalog import EVENTS_RAW_SCHEMA, TESTDATA_TABLES, load_table
from tests.conftest import SF_DIR


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    """Job ids launched by ``fn()`` under its own job group. A control
    read that always infers runs under a second group afterwards; the
    listener bus posts events in order, so once the control's job is
    visible every job ``fn`` launched is visible too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(group + ":control", group + ":control")
        spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(group + ":control"):
            assert time.time() < deadline, "control read's job never showed up"
            time.sleep(0.05)
        return list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_second_load_launches_no_job_and_keeps_footer_schema(spark, name):
    first = load_table(spark, SF_DIR, name)
    again = []
    jobs = _jobs_in_group(
        spark, f"catalog-{name}", lambda: again.append(load_table(spark, SF_DIR, name))
    )
    assert jobs == [], f"second load of {name} launched jobs {jobs}"
    footer = spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet")).schema
    expected = EVENTS_RAW_SCHEMA if name == "events" else footer
    assert first.schema == expected
    assert again[0].schema == expected
    assert again[0].count() == first.count()


def test_rewritten_table_reads_new_schema_after_invalidation(spark, tmp_path):
    from itdb_spark.plans.library import invalidate_pinned_schemas

    sf = str(tmp_path / "sf")
    path = os.path.join(sf, "orders.parquet")
    spark.range(3).select(F.col("id").alias("o_orderkey")).write.parquet(path)
    assert load_table(spark, sf, "orders").columns == ["o_orderkey"]
    spark.range(3).select(
        F.col("id").alias("o_orderkey"), F.lit("x").alias("o_comment")
    ).write.mode("overwrite").parquet(path)
    # the pinned schema outlives an in-place rewrite until its writer
    # invalidates it
    assert load_table(spark, sf, "orders").columns == ["o_orderkey"]
    invalidate_pinned_schemas(sf)
    out = load_table(spark, sf, "orders")
    assert out.columns == ["o_orderkey", "o_comment"]
    assert {r.o_comment for r in out.collect()} == {"x"}


def test_edge_corpus_rebuild_drops_pinned_schemas(spark, tmp_path):
    from itdb_spark.plans.library import _PINNED_SCHEMAS
    from tools.edge_corpus import build_edge_dir

    dst = build_edge_dir(SF_DIR, str(tmp_path / "edge"))
    load_table(spark, dst, "documents")
    key = os.path.abspath(os.path.join(dst, "documents.parquet"))
    assert key in _PINNED_SCHEMAS
    build_edge_dir(SF_DIR, dst)
    assert key not in _PINNED_SCHEMAS
    assert load_table(spark, dst, "documents").where("doc_id = 900001").count() == 1
