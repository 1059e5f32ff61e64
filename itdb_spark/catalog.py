"""Table catalog for the driver-generated testdata (TESTDATA.md) plus the
itdb-domain fixture schemas (FIXTURES.md).

The reference introspects its MySQL schema at runtime (``DESCRIBE tracks``,
itdbloader.py:249-258) and uses the column list to drive projection; here the
catalog is explicit ``StructType``s and DataFrame ``schema.fieldNames()``
(SURVEY.md §1.4).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Id floor separating normal testdata from the adversarial docs/events/
# embeddings that tools/edge_corpus.py plants (it derives its planted ids
# from this constant; eval-rouge's pairing predicate and the
# testdata-invariants gate consume it). Single-sourced so real testdata
# can never silently cross into the diagnostic range (round-6 ADVICE):
# tests/test_testdata_invariants.py asserts every sf dir stays below it.
EDGE_ID_FLOOR = 900000


# Explicit reader schema for the events table — shared by the batch scan
# and every readStream (streaming requires one anyway). ts is
# TIMESTAMP(MICROS) in the parquet since the 2026-08-13 testdata regen,
# which Spark reads natively; earlier generations carried TIMESTAMP(NANOS)
# and needed a raw-long read + /1000 convert. Pinning the schema here keeps
# a future regen honest: a NANOS flip fails the read loudly (type
# mismatch) instead of silently shifting every timestamp 1000×.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),  # micros since epoch
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# Explicit reader schema for the documents table's readStream twins and
# the batch reads beside them (load_table reads documents under the schema
# its first load in the process inferred from the footer).
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan — Catalyst handles column pruning + predicate pushdown.

    events reads under the pinned EVENTS_RAW_SCHEMA (see its comment).
    Every other table goes through ``read_parquet_pinned``: the first load
    of a path in the process infers its schema from the parquet footer
    (so a testdata regen that changes a table's shape shows up as it
    always did), and every later load reuses that schema instead of
    running the footer-inference job again — measured on a 4-vCPU host,
    85–100 ms and one Spark job per load without it, 14–16 ms with it.
    Testdata tables are read-only (TESTDATA.md); a caller that rewrites
    one in place calls ``invalidate_pinned_schemas`` on its directory."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
    # imported here: plans.library imports the sources package, which
    # imports this module
    from itdb_spark.plans.library import read_parquet_pinned

    return read_parquet_pinned(spark, path)


@dataclass
class Tables:
    """Lazy per-table DataFrame access: ``Tables(spark, sf).lineitem``."""

    spark: SparkSession
    sf_dir: str
    _cache: dict = field(default_factory=dict)

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TESTDATA_TABLES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Register testdata tables as temp views for ``spark.sql``. Pass the
    subset a query actually reads — every registered view is a table load
    and an analyzed plan (plus a footer-inference job on a table's first
    load in the process), so registering all ten tables for a one-table
    query is pure overhead."""
    for name in tables or TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# itdb-domain schemas (FIXTURES.md; reference DDL at itdb.sql:14-114).
# Abridged to the columns the reference's queries touch; the full 70-column
# tracks DDL is itdb.sql:14-84.
# ---------------------------------------------------------------------------

TRACKS_SCHEMA = T.StructType(
    [
        T.StructField("User_ID", T.IntegerType(), False),
        T.StructField("Track_ID", T.IntegerType(), False),
        T.StructField("Name", T.StringType(), True),
        T.StructField("Artist", T.StringType(), True),
        T.StructField("Album_Artist", T.StringType(), True),
        T.StructField("Composer", T.StringType(), True),
        T.StructField("Album", T.StringType(), True),
        T.StructField("Genre", T.StringType(), True),
        T.StructField("Kind", T.StringType(), True),
        T.StructField("Size", T.LongType(), True),
        T.StructField("Total_Time", T.IntegerType(), True),
        T.StructField("Track_Number", T.IntegerType(), True),
        T.StructField("Track_Count", T.IntegerType(), True),
        T.StructField("Disc_Number", T.IntegerType(), True),
        T.StructField("Disc_Count", T.IntegerType(), True),
        T.StructField("Year", T.IntegerType(), True),
        T.StructField("Rating", T.IntegerType(), True),
        T.StructField("Album_Rating", T.IntegerType(), True),
        T.StructField("Play_Count", T.IntegerType(), True),
        T.StructField("Skip_Count", T.IntegerType(), True),
        T.StructField("Compilation", T.BooleanType(), True),
        T.StructField("Loved", T.BooleanType(), True),
        T.StructField("Explicit", T.BooleanType(), True),
        T.StructField("TV_Show", T.BooleanType(), True),
        T.StructField("Movie", T.BooleanType(), True),
        T.StructField("Date_Added", T.TimestampType(), True),
        T.StructField("Date_Modified", T.TimestampType(), True),
        T.StructField("Play_Date_UTC", T.TimestampType(), True),
        T.StructField("Skip_Date", T.TimestampType(), True),
        T.StructField("Release_Date", T.TimestampType(), True),
        T.StructField("Persistent_ID", T.StringType(), True),
        T.StructField("Track_Type", T.StringType(), True),
        T.StructField("Location", T.StringType(), True),
    ]
)

PLAYLISTS_SCHEMA = T.StructType(
    [
        T.StructField("User_ID", T.IntegerType(), False),
        T.StructField("Playlist_ID", T.IntegerType(), False),
        T.StructField("Name", T.StringType(), True),
        T.StructField("Playlist_Persistent_ID", T.StringType(), True),
        T.StructField("Parent_Persistent_ID", T.StringType(), True),
    ]
)

PLAYLIST_TRACKS_SCHEMA = T.StructType(
    [
        T.StructField("User_ID", T.IntegerType(), False),
        T.StructField("Playlist_ID", T.IntegerType(), False),
        T.StructField("Track_ID", T.IntegerType(), False),
    ]
)

PLAYLIST_STATS_SCHEMA = T.StructType(
    [
        T.StructField("User_ID", T.IntegerType(), False),
        T.StructField("Playlist_ID", T.IntegerType(), False),
        T.StructField("Rating", T.IntegerType(), False),  # stars*20 (itdb.sql:107-114)
        T.StructField("Count", T.LongType(), False),
    ]
)

FFPROBE_STREAMS_SCHEMA = T.StructType(
    [
        T.StructField("Persistent_ID", T.StringType(), False),
        T.StructField("stream_index", T.IntegerType(), False),
        T.StructField("stream", T.StringType(), True),  # JSON column (itdbmetadata.py:116-125)
    ]
)

FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("size", T.LongType(), True),
        T.StructField("mtime", T.TimestampType(), True),
        T.StructField("checksum", T.StringType(), True),
    ]
)
