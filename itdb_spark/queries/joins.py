"""Joins — SURVEY.md §2.3. All equi/semi/anti joins; the small dimension side
is explicitly broadcast where the reference's workload guarantees it's small
(playlist junction / dimension tables → region, nation, customer)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from itdb_spark.catalog import Tables, register_views
from itdb_spark.queries import register


@register(
    "join-pt",
    oracle="""
    SELECT o.o_orderkey AS orderkey, o.o_orderpriority AS priority,
           l.l_linenumber AS linenumber, l.l_quantity AS qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc="Inner equi-join `tracks ⋈ playlist_tracks ON Track_ID AND User_ID` "
    "(itdb2html.py:508-519; itdbloader.py:273-284). Fact-to-fact shuffle "
    "join on the key both sides are (or can be) bucketed by.",
    bench=True,
)
def join_pt(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey, "inner").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_quantity").alias("qty"),
    )


@register(
    "join-pt2",
    oracle="""
    SELECT l.l_orderkey AS orderkey, l.l_partkey AS partkey, o.o_orderstatus AS status
    FROM lineitem l, orders o
    WHERE l.l_orderkey = o.o_orderkey AND o.o_orderpriority = '1-URGENT'
    """,
    doc="Implicit comma join with WHERE equi-condition "
    "(playlistlinks.py:164-176) — expressed via spark.sql to keep the "
    "reference's SQL shape; Catalyst plans the identical join.",
)
def join_pt2(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("lineitem", "orders"))
    return spark.sql(
        """
        SELECT l.l_orderkey AS orderkey, l.l_partkey AS partkey, o.o_orderstatus AS status
        FROM lineitem l, orders o
        WHERE l.l_orderkey = o.o_orderkey AND o.o_orderpriority = '1-URGENT'
        """
    )


@register(
    "join-left",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    doc="Left outer equi-join `ffprobe LEFT JOIN tracks ON Persistent_ID` "
    "(itdbmetadata.py:8-11); nation dim is broadcast.",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.customer.join(
        F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey, "left"
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("n_name").alias("nation"),
    )


@register(
    "join-anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    doc="Anti-join via NOT IN subquery — tracks not yet probed "
    "(itdbmetadata.py:127-133) → left_anti, the incremental-enrichment gate.",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.customer.join(
        t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join-setdiff",
    oracle="""
    SELECT 'missing' AS side, p_partkey AS key FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
    UNION ALL
    SELECT 'orphan' AS side, c_custkey AS key FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    doc="Bidirectional anti-join (set difference): library−filesystem = "
    "missing, filesystem−library = orphans (orphaned_files:101-120).",
)
def join_setdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    missing = (
        t.part.join(t.lineitem, t.part.p_partkey == t.lineitem.l_partkey, "left_anti")
        .select(F.lit("missing").alias("side"), F.col("p_partkey").alias("key"))
    )
    orphans = (
        t.customer.join(t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_anti")
        .select(F.lit("orphan").alias("side"), F.col("c_custkey").alias("key"))
    )
    return missing.unionByName(orphans)


@register(
    "join-lookup",
    oracle="""
    SELECT e.event_id AS event_id, e.user_id AS user_id, c.c_name AS name
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="Hash-map lookup join: playlist items → track metadata via dict "
    "(restore_playlist.py:90-136) → broadcast hash join on the small dim.",
)
def join_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    dim = t.customer.select("c_custkey", "c_name")
    return t.events.join(F.broadcast(dim), t.events.user_id == dim.c_custkey, "inner").select(
        "event_id", "user_id", F.col("c_name").alias("name")
    )


@register(
    "join-hier",
    oracle="""
    SELECT r.r_name AS parent, n.n_name AS child, 1 AS depth FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    UNION ALL
    SELECT r.r_name AS parent, c.c_name AS child, 2 AS depth FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    """,
    doc="Hierarchy expansion: folder → children via Parent_Persistent_ID "
    "(playlistlinks.py:153-162; moveplaylist.py:173-175). The reference "
    "expands one level; we iterate joins to a depth cap "
    "(see itdb_spark.operators.hierarchy for the fixpoint loop).",
)
def join_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    lvl1 = (
        t.nation.join(F.broadcast(t.region), t.nation.n_regionkey == t.region.r_regionkey)
        .select(F.col("r_name").alias("parent"), F.col("n_name").alias("child"), F.lit(1).alias("depth"))
    )
    lvl2 = (
        t.customer.join(F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey)
        .join(F.broadcast(t.region), t.nation.n_regionkey == t.region.r_regionkey)
        .select(F.col("r_name").alias("parent"), F.col("c_name").alias("child"), F.lit(2).alias("depth"))
    )
    return lvl1.unionByName(lvl2)


@register(
    "join-fuzzy",
    oracle="""
    SELECT norm_name, CAST(cnt AS BIGINT) AS cnt FROM (
      SELECT regexp_replace(p_name, '^[a-z]+ ', '') AS norm_name, count(*) AS cnt
      FROM part GROUP BY 1
    ) WHERE cnt > 1
    """,
    doc="Similarity self-join on normalized filename: strip ` N.mp3` suffix "
    "variants, group candidates (dupes/dedup.py:146-171). Generalizes to "
    "MinHash-LSH (see dedup-minhash) at the 100 TB scale.",
)
def join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.part.select(F.regexp_replace("p_name", r"^[a-z]+ ", "").alias("norm_name"))
        .groupBy("norm_name")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
    )


@register(
    "join-exists",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
    """,
    doc="Existence flag / membership join (dupes/dedup.py:77-99) → left_semi.",
)
def join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.part.join(
        t.lineitem, t.part.p_partkey == t.lineitem.l_partkey, "left_semi"
    ).select("p_partkey", "p_name")


@register(
    "join-bloom",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 5)
    """,
    doc="Bloom-filter runtime-reduced semi-join (round 11) — the "
    "engine-level runtime-filter pattern (Spark's own "
    "InjectRuntimeFilter / row-group skipping do exactly this "
    "internally; here it is explicit and tunable): the build side "
    "(customers of one nation) folds into a 16 Kbit / 4-hash bloom "
    "(256 longs — driver-collected because it is BOUNDED BY THE "
    "FILTER SIZE, never the data; the fn-bpe model precedent), which "
    "probes every orders row as a whole-stage-codegen literal-array "
    "bit test BEFORE the exact broadcast semi-join removes the bloom's "
    "false positives — so the result is exactly the semi-join (the "
    "oracle), and the bloom's only job is to cut the probe volume "
    "that reaches the join. At 100 TB this is the difference between "
    "shuffling/scanning the full fact table into a join and "
    "pre-dropping ~99.99% of rows inside the scan stage with zero "
    "exchange: the bloom rides the broadcast lane (16 KB), the bit "
    "test costs two ALU ops per row, and losslessness is guaranteed "
    "by construction (blooms have no false negatives). Hash is "
    "xxhash64 (JVM-side, deploy-grade) — bloom internals need no "
    "oracle portability because the exact join, not the bloom, "
    "defines the result.",
)
def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    m_bits, n_hash, n_words = 16384, 4, 256
    keys = t.customer.where(F.col("c_nationkey") == 5).select("c_custkey")

    # ONE hash-position expression builder for BOTH sides, with the key
    # and the seed explicitly CAST — xxhash64 is input-type-sensitive, so
    # a build/probe type divergence (e.g. int32 vs int64 key columns, or
    # a Python-lit INT seed vs a SQL BIGINT literal) would silently
    # change bit positions and turn the "lossless" bloom into a row
    # dropper the downstream exact semi-join cannot repair (ADVICE r11).
    # Sharing the literal SQL text makes type drift impossible by
    # construction.
    def pos_sql(i: int, key_col: str) -> str:
        return (
            f"pmod(xxhash64(CAST({i} AS INT), "
            f"CAST({key_col} AS BIGINT)), {m_bits})"
        )

    pos = keys.select(
        F.explode(
            F.array(
                *[F.expr(pos_sql(i, "c_custkey")) for i in range(n_hash)]
            )
        ).alias("pos")
    )
    words = {
        int(r.word): int(r.bits)
        for r in pos.groupBy(F.expr("pos DIV 64").alias("word"))
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"))
            .alias("bits")
        )
        .collect()
    }
    bloom_sql = (
        "array(" + ",".join(f"{words.get(w, 0)}L" for w in range(n_words)) + ")"
    )
    probe = t.orders.select("o_orderkey", "o_custkey")
    hits = []
    for i in range(n_hash):
        pos_expr = pos_sql(i, "o_custkey")
        hits.append(
            f"(element_at({bloom_sql}, CAST({pos_expr} DIV 64 AS INT) + 1) & "
            f"shiftleft(CAST(1 AS BIGINT), CAST({pos_expr} % 64 AS INT))) != 0"
        )
    candidates = probe.where(F.expr(" AND ".join(hits)))
    return candidates.join(
        F.broadcast(keys),
        candidates["o_custkey"] == keys["c_custkey"],
        "left_semi",
    )
