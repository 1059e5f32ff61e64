"""Scans, sources, sinks, and scalar-function pipelines — SURVEY.md §2.1 and
§2.8. The plist source queries synthesize a deterministic library file and
are hash-checked against a DuckDB oracle that regenerates the expected
rows from the same formula — a parse bug (e.g. a chunk-boundary drop in
the range scanner) breaks the gate. fswalk likewise scans a synthesized formula-sized tree, so every
source query in this module is oracle-checked."""

from __future__ import annotations

import os
import plistlib
import shutil
import stat as stat_mod
import tempfile
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from itdb_spark.catalog import Tables
from itdb_spark.queries import built_once, register
from itdb_spark.sinks.manifest import m3u_manifest, symlink_manifest
from itdb_spark.sources.fswalk import scan_files
from itdb_spark.sources.plist import read_itunes_library

# --- sources ---------------------------------------------------------------


def _synth_library(path: str, n_tracks: int = 50, n_playlists: int = 5) -> None:
    """Deterministic synthetic iTunes library plist (seedless: pure formula)."""
    tracks = {
        str(i): {
            "Track ID": i,
            "Name": f"Track {i:03d}",
            "Artist": f"Artist {i % 7}",
            "Album": f"Album {i % 11}",
            "Genre": ["Rock", "Jazz", "Pop"][i % 3],
            "Rating": (i % 6) * 20 if i % 5 else None,
            "Total Time": 180000 + i * 1000,
            "Persistent ID": f"{i:016X}",
            "Date Added": datetime(2020, 1, 1 + i % 28),
            "Location": f"file://localhost/Music/Artist%20{i % 7}/track{i}.mp3",
        }
        for i in range(1, n_tracks + 1)
    }
    for t in tracks.values():  # plistlib can't serialize None
        if t["Rating"] is None:
            del t["Rating"]
    playlists = [
        {
            "Playlist ID": p,
            "Name": f"Playlist {p}",
            "Playlist Persistent ID": f"P{p:015X}",
            "Playlist Items": [
                {"Track ID": i} for i in range(1, n_tracks + 1) if i % n_playlists == p % n_playlists
            ],
        }
        for p in range(1, n_playlists + 1)
    ]
    with open(path, "wb") as fh:
        plistlib.dump({"Tracks": tracks, "Playlists": playlists}, fh)


_PLIST_ORACLE = """
    SELECT CAST(1 AS INTEGER) AS User_ID, CAST(i AS INTEGER) AS Track_ID,
           concat('Track ', lpad(CAST(i AS VARCHAR), 3, '0')) AS Name,
           concat('Artist ', CAST(i % 7 AS VARCHAR)) AS Artist,
           (['Rock', 'Jazz', 'Pop'])[(i % 3) + 1] AS Genre,
           CAST(CASE WHEN i % 5 = 0 THEN NULL ELSE (i % 6) * 20 END AS INTEGER)
             AS Rating
    FROM range(1, 51) r(i)
"""


def _built_file(prefix: str, sf_dir: str, name: str, write) -> str:
    """Path of a fixture file ``write(path)`` fills once per process in a
    private scratch dir (``built_once``); the oracles that check these
    sources are pure arithmetic and never read the file."""
    def build(d: str) -> str:
        write(os.path.join(d, name))
        return os.path.join(d, name)

    return built_once(prefix, sf_dir, build)


def _plist_fixture(sf_dir: str) -> str:
    return _built_file("itdb_spark_plist_", sf_dir, "library.xml", _synth_library)


@register(
    "src-plist",
    oracle=_PLIST_ORACLE,
    doc="plist XML scan: whole-library plistlib parse → tracks relation "
    "(itdbloader.py:306-310) via binaryFile + mapPartitions, schema-driven "
    "projection (itdbloader.py:165-168). Synthesizes a deterministic "
    "library file, parses it distributed, returns the tracks DataFrame.",
)
def src_plist(spark: SparkSession, sf_dir: str) -> DataFrame:
    lib = _plist_fixture(sf_dir)
    rels = read_itunes_library(spark, lib, user_id=1)
    return rels["tracks"].select("User_ID", "Track_ID", "Name", "Artist", "Genre", "Rating")


@register(
    "src-plist-chunked",
    oracle=_PLIST_ORACLE,
    doc="The >memory plist ingest path: ONE library XML parsed in parallel "
    "byte ranges (Hadoop-split record protocol on the rigid track-entry "
    "indentation, sources/plist.py:read_itunes_tracks_chunked) — closes the "
    "reference's noted memory pressure (README.md:64-68). chunk_bytes here "
    "is tiny (4 KB) so the 50-track library really spans multiple ranges; "
    "equivalence with the whole-file parse is a test invariant "
    "(tests/test_plist.py).",
)
def src_plist_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.sources.plist import read_itunes_tracks_chunked

    lib = _plist_fixture(sf_dir)
    tracks = read_itunes_tracks_chunked(spark, lib, user_id=1, chunk_bytes=4096)
    return tracks.select("User_ID", "Track_ID", "Name", "Artist", "Genre", "Rating")


@register(
    "src-plist-ds",
    oracle=_PLIST_ORACLE,
    doc="The Spark 4 Python DataSource front end for plist ingest: "
    "spark.read.format('itunes_plist') over the same split-parallel range "
    "scanner (sources/plist_datasource.py; SURVEY.md §4 names this as the "
    "one worthwhile engine extension point). Input partitions are byte "
    "ranges — one task per range, no driver pass.",
)
def src_plist_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.sources.plist_datasource import PlistDataSource

    lib = _plist_fixture(sf_dir)
    spark.dataSource.register(PlistDataSource)
    tracks = (
        spark.read.format("itunes_plist")
        .option("chunk_bytes", 4096)
        .option("user_id", 1)
        .load(lib)
    )
    return tracks.select("User_ID", "Track_ID", "Name", "Artist", "Genre", "Rating")


def _synth_tree(root: str, n: int = 40) -> None:
    """Deterministic file tree (seedless formula): file f{i:03d}.bin holds
    exactly i*37 % 991 + 1 bytes — so a DuckDB oracle can predict the
    listing without touching the filesystem. ``root`` must be empty."""
    os.makedirs(root, exist_ok=True)
    for i in range(1, n + 1):
        with open(os.path.join(root, f"f{i:03d}.bin"), "wb") as fh:
            fh.write(b"x" * (i * 37 % 991 + 1))


@register(
    "src-fswalk",
    oracle="""
    SELECT concat('f', lpad(CAST(i AS VARCHAR), 3, '0'), '.bin') AS filename,
           CAST(i * 37 % 991 + 1 AS BIGINT) AS size
    FROM range(1, 41) r(i)
    """,
    doc="Filesystem scan → (path, size) relation (dupes/dedup.py:101-113; "
    "orphaned_files:63) via the binaryFile source — listing is "
    "distributed; file bodies are never read (pruned projection). Scans a "
    "REAL directory it synthesizes deterministically (formula sizes), so "
    "the DuckDB oracle predicts every row — a listing bug (missed file, "
    "wrong length column) breaks the hash gate.",
)
def src_fswalk(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _built_file("itdb_spark_fswalk_", sf_dir, "tree", _synth_tree)
    files = scan_files(spark, root, glob="*.bin")
    return files.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"), "size"
    ).orderBy("filename")


@register(
    "src-grep",
    oracle="""
    SELECT doc_id, regexp_extract(text, '^([a-z]+)', 1) AS first_token
    FROM documents WHERE regexp_matches(text, '^([a-z]+)')
    """,
    doc="Regex-extract scan of raw text (`egrep -o 'file:///[^<]+'`, "
    "orphaned_files:55-63; dupes/dedup.py:85-99) → regexp_extract over a "
    "text scan.",
)
def src_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.documents.select("doc_id", F.regexp_extract("text", r"^([a-z]+)", 1).alias("first_token"))
        .where(F.col("text").rlike(r"^([a-z]+)"))
    )


@register(
    "src-describe",
    oracle="""
    SELECT 'c_custkey' AS col_name UNION ALL SELECT 'c_name'
    UNION ALL SELECT 'c_nationkey' UNION ALL SELECT 'c_acctbal'
    UNION ALL SELECT 'c_mktsegment'
    """,
    doc="Catalog introspection: DESCRIBE-driven column list "
    "(itdbloader.py:249-258; itdb2html.py:231-236) → df.schema.fieldNames().",
)
def src_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = Tables(spark, sf_dir).customer
    names = df.schema.fieldNames()
    return spark.createDataFrame([(n,) for n in names], "col_name string")


# --- sinks (manifest-DataFrame pattern) -------------------------------------


@register(
    "snk-m3u",
    oracle="""
    SELECT CAST(row_number() OVER (
             ORDER BY p_name, concat('/parts/', CAST(p_partkey AS VARCHAR), '.dat')
           ) AS BIGINT) AS seq,
           concat('#ITDBFILE:', p_name, chr(10), '/parts/', CAST(p_partkey AS VARCHAR), '.dat')
             AS line
    FROM part WHERE p_type = 'SMALL'
    """,
    doc="m3u playlist sink: ordered manifest of `#ITDBFILE` lines "
    "(templates/filelist.tmpl.m3u:1-4; playlistlinks.py:254-265). The "
    "manifest DF is the engine output; a thin driver writer applies it.",
)
def snk_m3u(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    rows = t.part.where(F.col("p_type") == "SMALL").select(
        F.concat(F.lit("/parts/"), F.col("p_partkey").cast("string"), F.lit(".dat")).alias("path"),
        F.col("p_name").alias("name"),
    )
    return m3u_manifest(rows, "path", "name")


@register(
    "snk-symlink",
    oracle="""
    SELECT src, dest, link_type, seq FROM (
      SELECT concat('/data/', CAST(s_suppkey AS VARCHAR)) AS src,
             concat(
               CASE WHEN length(regexp_replace(s_name, '[^A-Za-z0-9\\-_.]', '_', 'g')) = 0
                    THEN '_NONE_' ELSE regexp_replace(s_name, '[^A-Za-z0-9\\-_.]', '_', 'g') END,
               '/',
               lpad(CAST(row_number() OVER (ORDER BY s_name, concat('/data/', CAST(s_suppkey AS VARCHAR))) + 100 AS VARCHAR), 3, '0'),
               '-',
               CASE WHEN length(regexp_replace(s_name, '[^A-Za-z0-9\\-_.]', '_', 'g')) = 0
                    THEN '_NONE_' ELSE regexp_replace(s_name, '[^A-Za-z0-9\\-_.]', '_', 'g') END
             ) AS dest,
             'symlink' AS link_type,
             CAST(row_number() OVER (ORDER BY s_name, concat('/data/', CAST(s_suppkey AS VARCHAR))) + 100 AS BIGINT) AS seq
      FROM supplier
    )
    """,
    doc="Symlink/copy tree sink: `%(Genre)s/%(Artist)s` layout + sequential "
    "numbering manifest (playlistlinks.py:186-266); filesystem effects "
    "applied driver-side from the manifest (idempotent under retry).",
)
def snk_symlink(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    rows = t.supplier.select(
        F.concat(F.lit("/data/"), F.col("s_suppkey").cast("string")).alias("path"),
        F.col("s_name").alias("name"),
    )
    return symlink_manifest(rows, "path", "name", layout=("name",), start_number=100)


@register(
    "snk-textfile",
    oracle="""
    SELECT concat(n_name, chr(9), CAST(n_nationkey AS VARCHAR)) AS line
    FROM nation ORDER BY line
    """,
    doc="Sorted text-file sink: orphans/missing lists written sorted "
    "(orphaned_files:120-121, :132-137).",
)
def snk_textfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.nation.select(
        F.concat("n_name", F.lit("\t"), F.col("n_nationkey").cast("string")).alias("line")
    ).orderBy("line")


@register(
    "snk-dedup-load",
    oracle="""
    SELECT count(*) AS loaded_rows FROM (
      SELECT DISTINCT o_orderkey FROM (
        SELECT o_orderkey FROM orders UNION ALL SELECT o_orderkey FROM orders
      )
    )
    """,
    doc="Bulk-load sink semantics: `LOAD DATA INFILE ... IGNORE` dedupes on "
    "PK before landing (itdbloader.py:226-237) ≈ dropDuplicates(PK) then "
    "write; the JDBC writer itself is itdb_spark.sinks.jdbc (needs a "
    "driver jar at deploy time).",
)
def snk_dedup_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    feed = t.orders.select("o_orderkey").unionByName(t.orders.select("o_orderkey"))
    return feed.dropDuplicates(["o_orderkey"]).agg(F.count("*").alias("loaded_rows"))


# --- scalar-function pipelines (§2.8) ---------------------------------------


@register(
    "fn-location",
    oracle="""
    SELECT p_partkey,
           concat('/Music/', p_name, '''s mix, vol+1 — é.mp3') AS path
    FROM part
    """,
    doc="URL-encoded Location → filesystem path: strip scheme, URL-decode "
    "ALL %-escapes (urllib.parse.unquote semantics, playlistlinks.py:268-283; "
    "itdbmetadata.py:138; orphaned_files:66-77), unescape HTML entities. The "
    "encoded input exercises %20, %27, %2C, a literal '+', and multi-byte "
    "UTF-8 escapes (%E2%80%94, %C3%A9); the oracle states the expected "
    "plaintext DIRECTLY (no shared decode chain), so the decode itself is "
    "what's verified.",
)
def fn_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.functions.core import decode_location

    t = Tables(spark, sf_dir)
    loc = F.concat(
        F.lit("file://localhost/Music/"),
        F.regexp_replace("p_name", " ", "%20"),
        F.lit("%27s%20mix%2C%20vol+1%20%E2%80%94%20%C3%A9.mp3"),
    )
    return t.part.select("p_partkey", decode_location(loc).alias("path"))


@register(
    "fn-time",
    oracle="""
    SELECT event_id,
           CASE WHEN ms IS NULL THEN NULL ELSE concat(
             CAST(CAST(floor(ms / 1000 / 3600) AS BIGINT) AS VARCHAR), ':',
             lpad(CAST(CAST(floor(ms / 1000 % 3600 / 60) AS BIGINT) AS VARCHAR), 2, '0'), ':',
             lpad(CAST(CAST(floor(ms / 1000) AS BIGINT) % 60 AS VARCHAR), 2, '0')
           ) END AS hms
    FROM (SELECT event_id,
                 CASE WHEN m < 0 THEN 0 ELSE m END AS ms
          FROM (SELECT event_id, CAST(floor(value * 1000) AS BIGINT) AS m
                FROM events))
    """,
    doc="Milliseconds → h:mm:ss rendering (itdb2html.py:124-131) as pure "
    "integer column arithmetic; negative input clamps to 0 (durations "
    "are nonnegative — see ms_to_hms), NULL stays NULL on both sides.",
)
def fn_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.functions.core import ms_to_hms

    t = Tables(spark, sf_dir)
    ms = F.floor(F.col("value") * 1000).cast("long")
    return t.events.select("event_id", ms_to_hms(ms).alias("hms"))


@register(
    "fn-sanitize",
    oracle="""
    SELECT p_partkey,
           CASE WHEN length(regexp_replace(p_name, '[^A-Za-z0-9\\-_.]', '_', 'g')) = 0
                THEN '_NONE_'
                ELSE regexp_replace(p_name, '[^A-Za-z0-9\\-_.]', '_', 'g') END AS safe_name,
           upper(p_name) AS upper_name,
           lower(p_brand) AS lower_brand
    FROM part
    """,
    doc="Filename sanitization: whitelist [A-Za-z0-9-_.], empty → _NONE_ "
    "(itdb2html.py:63-71), plus case normalization (orphaned_files:72-74).",
)
def fn_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.functions.core import sanitize_filename

    t = Tables(spark, sf_dir)
    return t.part.select(
        "p_partkey",
        sanitize_filename(F.col("p_name")).alias("safe_name"),
        F.upper("p_name").alias("upper_name"),
        F.lower("p_brand").alias("lower_brand"),
    )


def _synth_jsonl(path: str, n: int = 60) -> None:
    """Deterministic JSON-lines checksum cache shaped like the reference's
    checksums.dat (dupes/dedup.py:37-75): one object per line with
    formula-predictable path/mtime and an md5 checksum of the path — so a
    DuckDB oracle recomputes every field without touching the file."""
    import hashlib
    import json

    with open(path, "w") as fh:
        for i in range(1, n + 1):
            p = f"/media/f{i:03d}.bin"
            fh.write(
                json.dumps(
                    {
                        "path": p,
                        "mtime": i * 37 % 991,
                        "checksum": hashlib.md5(p.encode()).hexdigest(),
                    },
                    sort_keys=True,
                )
                + "\n"
            )


@register(
    "src-jsonl",
    oracle="""
    SELECT concat('/media/f', lpad(CAST(i AS VARCHAR), 3, '0'), '.bin') AS path,
           CAST(i * 37 % 991 AS BIGINT) AS mtime,
           md5(concat('/media/f', lpad(CAST(i AS VARCHAR), 3, '0'), '.bin'))
             AS checksum
    FROM range(1, 61) r(i)
    """,
    doc="JSON-lines source scan — the reference persists its incremental "
    "dedup state as JSON-lines KV caches (files.dat / checksums.dat, "
    "dupes/dedup.py:37-75); here the same shape reads through "
    "spark.read.json under an explicit schema (schema inference off the "
    "hot path — at 100 TB an inference pass over JSON is a full extra "
    "scan). The file is synthesized formula-deterministically, so the "
    "DuckDB oracle recomputes every field (md5 of the path included) "
    "without reading it — a dropped line, type drift, or encoding bug "
    "breaks the hash gate.",
)
def src_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    path = _built_file(
        "itdb_spark_checksums_", sf_dir, "checksums.jsonl", _synth_jsonl)
    schema = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("mtime", T.LongType(), False),
            T.StructField("checksum", T.StringType(), False),
        ]
    )
    return (
        spark.read.schema(schema).json(path)
        .select("path", "mtime", "checksum")
        .orderBy("path")
    )


def _synth_csv(path: str, n: int = 50) -> None:
    """Deterministic CSV with the staging-file edge cases the reference's
    CSV loader handles by escaping (itdbloader.py:162-163): quoted fields
    with embedded commas, embedded double quotes (doubled per RFC 4180),
    embedded newlines inside quotes, and 1/0 booleans. Row i carries
    formula values so the oracle can also be cross-checked arithmetically;
    byte-identical rewrite keeps concurrent reconcilers stable. Reuse is
    gated on lstat ownership (follow_symlinks=False — a pre-created
    symlink or foreign-owned file is REPLACED, never read or followed),
    and the write goes stage-file + os.replace so rename lands on the
    path itself, defeating symlink write-redirects and half-written
    observes alike (the _synth_pq_dir discipline; round-10 ADVICE)."""
    rows = ["track_id,name,plays,starred"]
    for i in range(1, n + 1):
        if i % 10 == 0:
            name = f'"Song, the {i}th"'            # embedded comma
        elif i % 7 == 0:
            name = f'"Say ""{i}"" twice"'          # embedded quotes
        elif i % 13 == 0:
            name = f'"line one {i}\nline two"'     # embedded newline
        else:
            name = f"Track {i}"
        rows.append(f"{i},{name},{i * 31 % 997},{i % 2}")
    content = "\n".join(rows) + "\n"
    try:
        st = os.stat(path, follow_symlinks=False)
        ours = stat_mod.S_ISREG(st.st_mode) and st.st_uid == os.getuid()
    except FileNotFoundError:
        ours = False
    if ours and open(path).read() == content:
        return
    tmp = f"{path}.__stage_{os.getpid()}__"
    with open(tmp, "w") as fh:
        fh.write(content)
    os.replace(tmp, path)


@register(
    "src-csv",
    oracle=f"""
    SELECT track_id, name, plays, starred_raw = 1 AS starred
    FROM read_csv('{os.path.join(tempfile.gettempdir(), f"itdb_spark_src_{os.getuid()}.csv")}',
                  header=true, quote='"', escape='"',
                  columns={{'track_id': 'BIGINT', 'name': 'VARCHAR',
                           'plays': 'BIGINT', 'starred_raw': 'BIGINT'}})
    """,
    doc="CSV source scan with the RFC-4180 edge cases the reference's "
    "staging loader escapes by hand (itdbloader.py:152-168: LOAD DATA "
    "from a csv.writer file): quoted embedded commas, doubled embedded "
    "quotes, and multiLine quoted newlines, with a pinned schema and "
    "FAILFAST (a malformed row aborts loudly rather than silently "
    "nulling — the loader's posture). Spark's multiLine CSV parse and "
    "DuckDB's independent read_csv must agree on every cell of the "
    "same REAL file, deterministically synthesized at a well-known "
    "path with self-reconciling rewrite.",
)
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # uid-suffixed like _uid_tmp_path (shared-/tmp predictability,
    # round-9 ADVICE); _synth_csv gates reuse on lstat ownership and
    # writes stage+os.replace, so a pre-created symlink can neither
    # feed us foreign content nor redirect the write (round-10 ADVICE)
    path = os.path.join(
        tempfile.gettempdir(), f"itdb_spark_src_{os.getuid()}.csv"
    )
    _synth_csv(path)
    raw = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .option("mode", "FAILFAST")
        .schema("track_id long, name string, plays long, starred long")
        .csv(path)
    )
    # 1/0 -> boolean decode, the loader's staging convention in reverse
    # (Spark's CSV boolean parser only accepts true/false literals)
    return raw.select(
        "track_id", "name", "plays", (F.col("starred") == 1).alias("starred")
    )


def _uid_tmp_path(name: str) -> str:
    """Shared-/tmp fixture path suffixed with the uid: the bare name is
    world-predictable, so another local user could pre-create it and the
    query would silently read attacker-owned content (round-9 ADVICE —
    the same hazard class the round-8 mkdtemp fix removed from the ANN
    index paths). The uid suffix keeps the path deterministic at module
    import (the oracle SQL f-string needs it) while making it per-user;
    ownership is still verified before any existing file is reused."""
    return os.path.join(tempfile.gettempdir(), f"{name}_{os.getuid()}")


def _synth_pq_dir(root: str) -> str:
    """Deterministic 3-file parquet directory for the footer-metadata
    source: known row counts and forced row-group sizes, so the oracle
    can be checked arithmetically (a.parquet: 200 rows / 2 groups,
    b.parquet: 50 / 1, c.parquet: 120 / 3)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = (("a.parquet", 200, 100), ("b.parquet", 50, 50),
            ("c.parquet", 120, 40))
    os.makedirs(root, exist_ok=True)
    uid = os.getuid()
    if os.stat(root).st_uid != uid:
        raise RuntimeError(
            f"fixture dir {root} is owned by uid {os.stat(root).st_uid}, "
            f"not {uid} — refusing to read pre-created content"
        )
    for name, n, rg in spec:
        path = os.path.join(root, name)
        # reuse only files WE wrote — an existing file owned by someone
        # else is replaced, never trusted
        if os.path.exists(path) and os.stat(path).st_uid == uid:
            continue
        # stage + atomic rename: a concurrent session probing the
        # shared fixture dir must never observe a half-written
        # footer (the fixture-path discipline's race window)
        tbl = pa.table({"id": pa.array(range(n), pa.int64())})
        tmp = f"{path}.__stage_{os.getpid()}__"
        pq.write_table(tbl, tmp, row_group_size=rg)
        os.replace(tmp, path)
    return root


@register(
    "src-parquet-meta",
    oracle=f"""
    SELECT regexp_extract(file_name, '[^/]+$') AS file_name,
           CAST(num_rows AS BIGINT) AS num_rows,
           CAST(num_row_groups AS BIGINT) AS num_row_groups
    FROM parquet_file_metadata(
      '{os.path.join(tempfile.gettempdir(), f"itdb_spark_pqmeta_{os.getuid()}")}/*.parquet')
    """,
    doc="Parquet footer-metadata source (round 9) — the table-"
    "maintenance introspection feeding sinks/compact.py's sizing and "
    "every 'how fragmented is this table' operational question: "
    "per-file row count and row-group count read from FOOTERS ONLY "
    "(no data pages touched — at 100 TB this is the difference "
    "between a metadata sweep and a full scan). The file listing is "
    "driver-side (bounded by file count, the same posture as fswalk); "
    "footer reads distribute via mapInPandas over the path list, one "
    "pyarrow ParquetFile per path per executor — at a million files "
    "the reads spread across the cluster instead of serializing on "
    "the driver. Oracle: DuckDB's independent parquet_file_metadata() "
    "over the same deterministic fixture dir (3 files with formula "
    "row counts and FORCED row-group splits, so a footer misparse or "
    "an accidental data-page read breaks the arithmetic gate).",
)
def src_parquet_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    root = _synth_pq_dir(_uid_tmp_path("itdb_spark_pqmeta"))
    paths = sorted(
        os.path.join(root, f)
        for f in os.listdir(root)
        if f.endswith(".parquet")
    )
    schema = T.StructType(
        [
            T.StructField("file_name", T.StringType(), False),
            T.StructField("num_rows", T.LongType(), False),
            T.StructField("num_row_groups", T.LongType(), False),
        ]
    )

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                out.append(
                    (os.path.basename(p), md.num_rows, md.num_row_groups)
                )
            yield pd.DataFrame(
                out, columns=["file_name", "num_rows", "num_row_groups"]
            )

    pathdf = spark.createDataFrame([(p,) for p in paths], "path string")
    return pathdf.repartition(len(paths)).mapInPandas(read_footers, schema)


@register(
    "src-hive-partition",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'
    """,
    doc="Hive-partitioned layout round-trip with partition pruning "
    "(round 9) — the storage pattern every big curated corpus ships "
    "in (write partitionBy(lang), read one partition): the query "
    "writes the documents table lang-partitioned to a private "
    "per-invocation directory, then reads it back WHERE lang = 'en'. "
    "The oracle reads the ORIGINAL table directly, so the gate proves "
    "the partitioned detour loses/alters nothing: partition-column "
    "round-trip typing (directory values come back as strings — cast "
    "pinned), NULL-partition-key handling "
    "(__HIVE_DEFAULT_PARTITION__ rows must not leak into 'en'), and "
    "value fidelity. The lang predicate resolves at PLAN time into "
    "PartitionFilters — only the en/ directory's files are read, "
    "proven with the file-set check in tests/test_wave9.py::"
    "test_src_hive_partition_prunes (the property that makes a "
    "lang-partitioned 100 TB corpus cost one language's scan).",
)
def src_hive_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit

    root = tempfile.mkdtemp(prefix="itdb_spark_hivepart_")
    atexit.register(shutil.rmtree, root, True)
    path = os.path.join(root, "docs_by_lang")
    t = Tables(spark, sf_dir)
    t.documents.select("doc_id", "n_chars", "lang").write.partitionBy(
        "lang"
    ).mode("overwrite").parquet(path)
    return (
        spark.read.parquet(path)
        .where(F.col("lang") == "en")
        .select(
            "doc_id",
            F.col("lang").cast("string").alias("lang"),
            "n_chars",
        )
    )


@register(
    "snk-versioned",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
    doc="Versioned-table round-trip (round 9; sinks/versioned.py — the "
    "manifest-pointer kernel): publish the documents table as an "
    "immutable version behind the atomically-replaced MANIFEST line, "
    "then read it back through read_current. The oracle reads the "
    "ORIGINAL table, so the gate proves the versioned detour is "
    "lossless; the protocol properties the layout exists for (zero "
    "crash window, snapshot-isolated readers, parity-gated "
    "compaction, vacuum retention) are proven in tests/test_sinks.py::"
    "test_versioned_table_atomic_pointer. A second publish of the "
    "same frame bumps the version and read_current follows the "
    "pointer — exercised here by publishing twice and reading the "
    "current (second) version.",
)
def snk_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit

    from itdb_spark.sinks.versioned import read_current, write_version

    root = tempfile.mkdtemp(prefix="itdb_spark_versioned_")
    atexit.register(shutil.rmtree, root, True)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "lang", "source", "n_chars")
    write_version(docs, root)
    write_version(docs, root)  # pointer bump: read_current must follow
    return read_current(spark, root)


def _synth_orc(path: str, n: int = 500) -> None:
    """Deterministic ORC fixture written by pyarrow (an INDEPENDENT
    implementation of the format — Spark's ORC reader is the code under
    test). Same discipline as _synth_pq_dir: lstat-gated reuse of a
    file WE own, stage + os.replace so a concurrent session never sees
    a half-written postscript and a pre-created symlink can neither
    feed foreign content nor redirect the write."""
    import pyarrow as pa
    from pyarrow import orc

    uid = os.getuid()
    if os.path.lexists(path):
        st = os.lstat(path)
        if stat_mod.S_ISREG(st.st_mode) and st.st_uid == uid:
            return
        os.unlink(path)
    ids = list(range(n))
    tbl = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "val": pa.array([(i * 37) % 101 for i in ids], pa.int64()),
            "tag": pa.array([f"t{i % 7}" for i in ids]),
            "flag": pa.array([i % 3 == 0 for i in ids]),
        }
    )
    tmp = f"{path}.__stage_{os.getpid()}__"
    orc.write_table(tbl, tmp)
    os.replace(tmp, path)


@register(
    "src-orc",
    oracle="""
    SELECT i AS id,
           (i * 37) % 101 AS val,
           't' || CAST(i % 7 AS VARCHAR) AS tag,
           i % 3 = 0 AS flag
    FROM range(500) t(i)
    """,
    doc="ORC source scan (round 11) — the second columnar format a "
    "warehouse migration hands this engine (SURVEY §2.2's source "
    "family is plist/CSV/JSONL/parquet; ORC is the Hive-lineage "
    "sibling Spark reads natively). The fixture is written by "
    "PYARROW's ORC writer — an independent implementation — and "
    "Spark's vectorized ORC reader must reproduce every typed cell "
    "(BIGINT, modular arithmetic, VARCHAR concat, BOOLEAN) against "
    "the arithmetic oracle; DuckDB has no ORC reader, so the oracle "
    "predicts the content rather than re-reading the file (the "
    "mm-decode pattern). At scale the ORC path inherits the same "
    "pushdown/pruning machinery as parquet (both go through the "
    "vectorized columnar readers); the fixture uses the uid-suffixed "
    "ownership-gated stage+replace discipline (rounds 9-10 ADVICE).",
)
def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _uid_tmp_path("itdb_spark_src_orc") + ".orc"
    _synth_orc(path)
    return (
        spark.read.schema("id long, val long, tag string, flag boolean")
        .orc(path)
    )


def _synth_file_dir(root: str, spec: list[tuple[str, bytes]]) -> str:
    """Deterministic multi-file fixture directory for the whole-file
    sources (src-text / src-binaryfile). Same discipline as
    _synth_pq_dir: the dir must be ours (ownership check), per-file
    lstat-gated reuse of regular files WE own, stage + os.replace so a
    concurrent session never observes a half-written file. Stage names
    carry a leading underscore — Spark's file readers skip _-prefixed
    paths, and both queries additionally pin a pathGlobFilter — so even
    a crashed writer's orphaned stage file can never enter a scan."""
    os.makedirs(root, exist_ok=True)
    uid = os.getuid()
    if os.stat(root).st_uid != uid:
        raise RuntimeError(
            f"fixture dir {root} is owned by uid {os.stat(root).st_uid}, "
            f"not {uid} — refusing to read pre-created content"
        )
    for name, payload in spec:
        path = os.path.join(root, name)
        if os.path.lexists(path):
            st = os.lstat(path)
            if stat_mod.S_ISREG(st.st_mode) and st.st_uid == uid:
                continue
            os.unlink(path)
        tmp = os.path.join(root, f"_stage_{os.getpid()}_{name}")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, path)
    return root


def _text_fixture_payload(i: int) -> bytes:
    return f"alpha {i}\nbeta {(i * 37) % 101}\n".encode("ascii")


@register(
    "src-text",
    oracle="""
    SELECT 'doc' || lpad(CAST(i AS VARCHAR), 2, '0') || '.txt' AS fname,
           'alpha ' || i || chr(10) || 'beta ' ||
             CAST((i * 37) % 101 AS VARCHAR) || chr(10) AS text
    FROM range(40) t(i)
    """,
    doc="Whole-file text source (round 11): spark.read.option('wholetext')"
    ".text — one row per FILE, the raw-document ingest shape a crawl "
    "or dump directory hands a training pipeline before any parsing "
    "(the reference's per-file consumers read whole files the same "
    "way, e.g. restore_playlist.py's playlist file reads). The 40-file "
    "fixture content is arithmetic (src-orc's oracle-predicts-the-"
    "bytes pattern — the oracle never re-reads the files, so the gate "
    "proves Spark reproduced every byte including newlines), fname is "
    "derived JVM-side from input_file_name. pathGlobFilter pins the "
    "scan to *.txt. At 100 TB: wholetext files are indivisible splits "
    "(one file = one task = one row) — fine for document corpora of "
    "many small-to-medium files, and exactly the shape where "
    "maxPartitionBytes-driven coalescing of tiny files into shared "
    "tasks matters; huge single files belong to the line-mode reader.",
)
def src_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _uid_tmp_path("itdb_spark_src_text")
    _synth_file_dir(
        root,
        [(f"doc{i:02d}.txt", _text_fixture_payload(i)) for i in range(40)],
    )
    return (
        spark.read.option("pathGlobFilter", "*.txt")
        .text(root, wholetext=True)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("fname"),
            F.col("value").alias("text"),
        )
    )


def _binary_fixture_payload(i: int) -> bytes:
    return (f"bin {i} " * (i % 5 + 1)).encode("ascii")


@register(
    "src-binaryfile",
    oracle="""
    SELECT 'blob' || lpad(CAST(i AS VARCHAR), 2, '0') || '.bin' AS fname,
           CAST(length(repeat('bin ' || i || ' ', i % 5 + 1)) AS BIGINT)
             AS n_bytes,
           md5(repeat('bin ' || i || ' ', i % 5 + 1)) AS content_md5
    FROM range(30) t(i)
    """,
    doc="Binary whole-file source (round 11): spark.read.format"
    "('binaryFile') — the multimodal ingest front door (SURVEY's "
    "image/audio/video columns enter as opaque binary + typed "
    "metadata; mm-meta/mm-decode consume exactly this shape from "
    "parquet, this source is how raw media DIRECTORIES become that "
    "frame). Emits fname / n_bytes / md5(content): length and hash "
    "are both predicted arithmetically by the oracle (the fixture "
    "bytes are ASCII repeats, so DuckDB's string md5 equals Spark's "
    "binary md5 byte-for-byte — proving the reader delivered the "
    "exact payload, not just the right count). pathGlobFilter pins "
    "*.bin. At 100 TB: binaryFile tasks are per-file like wholetext; "
    "the production posture is ingest-once into parquet binary "
    "columns (snk side) so later passes get splittable columnar "
    "scans instead of re-walking object-store directories.",
)
def src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _uid_tmp_path("itdb_spark_src_binaryfile")
    _synth_file_dir(
        root,
        [(f"blob{i:02d}.bin", _binary_fixture_payload(i)) for i in range(30)],
    )
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(root)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
    )


@register(
    "src-jdbc",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id < 300 AND n_chars > 50
    """,
    doc="JDBC relational source (round 11) — the read HALF of the "
    "reference's MySQL deployment shape (SURVEY §2.2: itdb2html.py "
    "reads every report from the relational store; the write half is "
    "sinks/jdbc + the snk-merge/snk-dedup-load family): a documents "
    "slice lands in an embedded-Derby table through sinks.jdbc."
    "write_table, and spark.read.jdbc must reproduce every typed cell "
    "through the DriverRegistry round trip, with the n_chars filter "
    "PUSHED INTO the remote query (JDBCRelation pushes predicates; "
    "PushedFilters visible in the scan node) — the oracle reads the "
    "ORIGINAL parquet, so the gate proves the relational detour is "
    "lossless. Derby is the in-container stand-in (Spark bundles the "
    "driver; MySQL itself is not installed — the jdbc_available() "
    "gate at deploy time). At 100 TB a JDBC source is the DIMENSION "
    "lane, never the fact lane: partitionColumn/numPartitions shard "
    "the read, and anything bigger belongs in columnar storage first "
    "(the snk-bulkload direction).",
)
def src_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from itdb_spark.sinks.jdbc import write_table

    def build(dbdir: str) -> str:
        # the embedded-Derby table is written once per process and sf_dir
        # (built_once), so warmup and timed runs only read it
        url = f"jdbc:derby:{dbdir}/db;create=true"
        docs = (
            Tables(spark, sf_dir)
            .documents.where(F.col("doc_id") < 300)
            .select("doc_id", "lang", "source", "n_chars")
        )
        write_table(
            docs,
            url,
            "docs_dim",
            mode="overwrite",
            varchar_strings=256,
            driver="org.apache.derby.jdbc.EmbeddedDriver",
        )
        return url

    url = built_once("itdb_spark_src_jdbc_", sf_dir, build)
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "docs_dim")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
        .where(F.col("n_chars") > 50)
        .select("doc_id", "lang", "source", "n_chars")
    )
