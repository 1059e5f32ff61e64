"""Scale-path proofs that don't show up in oracle checks: bucketed
zero-shuffle joins, salted-agg equivalence, explain-plan assertions
(pushdown, broadcast, partial agg)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Write lineitem+orders bucketed by the join key → the join plans with
    NO Exchange on either side (the 100 TB fact-fact strategy, SCALE.md)."""
    # spark.sql.warehouse.dir is static — bucketed tables land in
    # ./spark-warehouse (gitignored); DROP TABLE below removes the files.
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdemo")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey", "l_quantity")
    od = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey", "o_orderpriority")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
        "bucketdemo.li_b"
    )
    od.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        "bucketdemo.od_b"
    )
    # disable broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bucketdemo.li_b").join(
            spark.table("bucketdemo.od_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert j.count() > 0
        plan = _physical_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bucketdemo.li_b")
        spark.sql("DROP TABLE IF EXISTS bucketdemo.od_b")
        spark.sql("DROP DATABASE IF EXISTS bucketdemo")


def test_salted_agg_equivalence(spark):
    from itdb_spark.operators.skew import salted_count

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plain = {
        (r.l_returnflag,): r.cnt
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("cnt")).collect()
    }
    salted = {
        (r.l_returnflag,): r.cnt
        for r in salted_count(li, ["l_returnflag"]).collect()
    }
    assert plain == salted


def test_pushdown_and_pruning(spark):
    """The 2-column projection + filter reaches the parquet scan."""
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_quantity")
    )
    plan = _physical_plan(df)
    assert "PushedFilters" in plan and "l_returnflag" in plan.split("PushedFilters")[1][:200]
    # ReadSchema carries only the needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_broadcast_dim_join(spark):
    from itdb_spark.queries import load_all

    df = load_all()["join-left"].spark(spark, SF_DIR)
    assert "BroadcastHashJoin" in _physical_plan(df)


def test_partial_aggregation_before_shuffle(spark):
    from itdb_spark.queries import load_all

    df = load_all()["agg-pl-stats"].spark(spark, SF_DIR)
    plan = _physical_plan(df)
    # map-side combine: a partial_count HashAggregate below the Exchange
    assert "partial_count" in plan


def test_range_join_bucketized_equals_naive(spark):
    """The bucketized range join (shuffle on bucket ids) returns exactly
    the naive cross-join-filter result."""
    from itdb_spark.operators.rangejoin import range_join_count, range_join_naive

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    intervals = orders.where(F.col("o_orderkey") % 151 == 0).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderdate").alias("start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAY")).alias("end"),
    )
    points = lineitem.select("l_shipdate")
    fast = {
        (r.orderkey, r.cnt)
        for r in range_join_count(points, intervals, "l_shipdate", "start", "end", "orderkey").collect()
    }
    naive = {
        (r.orderkey, r.cnt)
        for r in range_join_naive(points, intervals, "l_shipdate", "start", "end", "orderkey").collect()
    }
    assert fast == naive and len(fast) > 0


def test_topk_uses_group_limit(spark):
    from itdb_spark.queries import load_all

    df = load_all()["win-topk-group"].spark(spark, SF_DIR)
    assert "WindowGroupLimit" in _physical_plan(df)


@pytest.mark.parametrize(
    "qid",
    [
        "win-lag",
        "win-seq",
        "sort-shuffle",
        "snk-m3u",
        "snk-symlink",
        "fn-pack",
        "fn-shuffle",
    ],
)
def test_no_global_window_single_partition(spark, qid):
    """The registered forms of the previously global-window queries must not
    funnel the DATA through one partition. ranged_row_number's offsets frame
    (one row per bucket, post-aggregation) is the only allowed
    SinglePartition exchange — identified by its per-bucket count column,
    never a scan of the full input."""
    from itdb_spark.queries import load_all

    df = load_all()[qid].spark(spark, SF_DIR)
    plan = _physical_plan(df)
    offenders = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        # allowed: the offsets branch — the lines below the exchange carry
        # the per-bucket count agg output (_n), already aggregated.
        subtree = "\n".join(lines[i : i + 8])
        if "_n#" in subtree or "_bucket" in subtree:
            continue
        offenders.append(ln)
    assert not offenders, f"{qid} single-partitions the data:\n{plan}"


def test_ranged_row_number_matches_global_window(spark):
    """ranged_row_number ≡ row_number over a global window (equivalence on
    orders at sf0.001)."""
    from pyspark.sql import Window

    from itdb_spark.plans.library import ranged_row_number

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    got = {
        (r.o_orderkey, r.seq)
        for r in ranged_row_number(
            orders, ["o_orderdate", "o_orderkey"], start=7, out_col="seq"
        ).collect()
    }
    w = Window.orderBy("o_orderdate", "o_orderkey")
    expected = {
        (r.o_orderkey, r.seq)
        for r in orders.select(
            "o_orderkey", (F.row_number().over(w) + 7).cast("long").alias("seq")
        ).collect()
    }
    assert got == expected


def test_embedding_dup_pairs_no_nested_loop(spark):
    """dedup-embedding's registered plan must not contain a
    BroadcastNestedLoopJoin (the all-pairs cartesian it replaced)."""
    from itdb_spark.queries import load_all

    df = load_all()["dedup-embedding"].spark(spark, SF_DIR)
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_dup_pairs_equals_all_pairs(spark):
    """LSH-bucketed near-dup pairs ≡ the all-pairs form at test scale."""
    from itdb_spark.operators.similarity import cosine_pandas, embedding_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    copies = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("vec", lambda x: x * 1.001).alias("vec"),
    )
    v = base.unionByName(copies).cache()
    got = {
        (r.id1, r.id2)
        for r in embedding_dup_pairs(spark, v, "vec_id", "vec", 0.999).collect()
    }
    a = v.select(F.col("vec_id").alias("id1"), F.col("vec").alias("avec"))
    b = v.select(F.col("vec_id").alias("id2"), F.col("vec").alias("bvec"))
    expected = {
        (r.id1, r.id2)
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", cosine_pandas(F.col("avec"), F.col("bvec")).alias("c"))
        .where(F.col("c") > 0.999)
        .collect()
    }
    assert got == expected and len(got) >= 200


def test_minhash_hot_bucket_cap(spark):
    """max_bucket drops template buckets: a corpus where one text repeats
    50× (a boilerplate cluster) plus distinct docs — with the cap, the
    1225-pair template clique disappears; distinct near-dup pairs survive."""
    from itdb_spark.operators.dedup import minhash_candidates

    rows = [(i, "the same boilerplate template text repeated again and again") for i in range(50)]
    rows += [(100 + i, f"unique document number {i} about topic {i} with extra words here") for i in range(5)]
    rows += [(200, "unique document number 0 about topic 0 with extra words here")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    uncapped = minhash_candidates(docs, "doc_id", "text").count()
    capped = minhash_candidates(docs, "doc_id", "text", max_bucket=10)
    # The cap must drop hot-bucket ROWS before collect_list ever runs —
    # a window count sharing the groupBy's exchange — so a pathological
    # bucket never materializes its id array (ADVICE r3 medium). In the
    # physical plan that reads: Filter(bucket_n) BELOW the collect_list
    # aggregate, and no Exchange between them.
    plan = capped._jdf.queryExecution().executedPlan().toString()
    agg_at = plan.index("collect_list")
    filter_at = plan.index("Filter (bucket_n")
    assert filter_at > agg_at, "bucket cap must apply below (before) collect_list"
    assert "Exchange" not in plan[agg_at:filter_at], (
        "window pre-filter must reuse the groupBy exchange"
    )
    capped_pairs = {(r.id1, r.id2) for r in capped.collect()}
    assert uncapped >= 50 * 49 // 2  # template clique present uncapped
    assert all(i1 >= 100 for i1, _ in capped_pairs), capped_pairs  # clique gone
    assert (100, 200) in capped_pairs  # true near-dup pair survives the cap


def test_minhash_recall_on_derived_corpus(spark):
    """LSH candidate recall on the dedup corpus at sf0.001: exact copies
    (identical text → identical signature) MUST all be candidates; near
    dups (first token dropped) must exceed 90% recall at the default
    band/perm parameters — the quantitative backing for 'verification is
    confined to LSH candidates'."""
    from itdb_spark.queries.pipeline import corpus, minhash_candidates

    c = corpus(spark, SF_DIR)
    pairs = {
        (r.id1, r.id2) for r in minhash_candidates(c, "doc_id", "text").collect()
    }
    doc_ids = [r.doc_id for r in c.where(F.col("doc_id") < 100000).select("doc_id").collect()]
    exact_missing = [i for i in doc_ids if (i, i + 200000) not in pairs]
    assert not exact_missing, f"exact copies missed: {exact_missing[:5]}"
    near_hits = sum((i, i + 100000) in pairs for i in doc_ids)
    assert near_hits / len(doc_ids) > 0.9, f"near-dup recall {near_hits / len(doc_ids):.2f}"


def test_bench_headline_set_stable():
    """The driver times the bench=True registry subset; keep it fixed so
    BENCH_r{N} totals stay comparable across rounds. Deliberate change
    log: round 7 added sim-knn-ivfpq (round-6 VERDICT #4 — the bench
    previously tracked no ANN-family query); round 8 added graph-kcore
    (the graph family's representative; totals from BENCH_r08 on
    include it, and the per-query map stays comparable); round 9 added
    sim-knn-ivfpq-res (r8 VERDICT #2 — amortized persisted-index
    search twin), fn-bpe-train (r8 VERDICT #4 — the batch=8 deploy
    twin), and eval-chrf (r8 VERDICT #5 — the eval family's heaviest;
    its broadcast grid constant is now tracked per round). Totals from
    BENCH_r09 on include all 17. Round 10 added dedup-contain-exact
    (r9 VERDICT #1 — the lossless containment join; its prefix-filter
    candidate stage is the round's headline scale claim); totals from
    BENCH_r10 on include all 18, the like-for-like subtotal remains
    the r8 14-query set. Round 11 added the incremental-dedup
    build/serve split (r10 VERDICT #6, mirroring sim-knn-ivfpq vs
    -res): dedup-incremental (the per-call REBUILD wall, xxhash64
    twin) and dedup-incr-persist (the amortized persisted-band-index
    probe — its warmup pays the one-time build), plus dedup-exactspan
    (the round-11 headline: exact duplicated-substring spans, timed on
    its xxhash64 deploy twin); totals from BENCH_r11 on include all
    21. Round 12 added the containment build/serve split (r11 VERDICT
    #2): dedup-contain-incr (the per-call rebuild wall — union
    shingle-df + global df-order recomputed every call) and
    dedup-contain-incr-persist (the amortized probe against the
    persisted frozen-order ranked index; warmup pays the build), plus
    the two round-11 family representatives the set lacked (r11
    VERDICT #8): emb-cov (the Arrow-batched int64-matmul exact-moment
    kernel) and mm-pixeldedup (the decode → pixel-fingerprint → one-
    shuffle image content dedup); totals from BENCH_r12 on include
    all 25. Round 13 added the range-search build/serve pair (r12
    VERDICT #7): sim-range-brute (the exact one-pass baseline) and
    sim-range-ivf (the persisted-index pruned serve — its warmup pays
    the shared memoized build), so the round-12 'near-flat serve'
    claim gets a tracked per-round number; totals from BENCH_r13 on
    include all 27."""
    from itdb_spark.queries import load_all

    bench_ids = {qid for qid, q in load_all().items() if q.bench}
    assert bench_ids == {
        "agg-hist-genre", "agg-pl-stats", "api-sql", "join-pt",
        "dedup-exact", "dedup-minhash", "dedup-jaccard", "sim-knn-brute",
        "pipe-curate", "stream-window", "stream-session", "win-topk-group",
        "sim-knn-ivfpq", "graph-kcore",
        "sim-knn-ivfpq-res", "fn-bpe-train", "eval-chrf",
        "dedup-contain-exact",
        "dedup-incremental", "dedup-incr-persist", "dedup-exactspan",
        "dedup-contain-incr", "dedup-contain-incr-persist",
        "emb-cov", "mm-pixeldedup",
        "sim-range-brute", "sim-range-ivf",
    }


def test_snapshot_diff_null_safety(spark):
    """(null == null) is unchanged; null→value and value→null are changed;
    empty string is distinct from null."""
    from itdb_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None), (4, ""), (5, "same")],
        "k int, v string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, None), (3, "y"), (4, None), (5, "same"), (6, "new")],
        "k int, v string",
    )
    got = {(r.k, r.change) for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert got == {(2, "changed"), (3, "changed"), (4, "changed"), (6, "added")}
    full = {
        (r.k, r.change)
        for r in snapshot_diff(old, new, ["k"], ["v"], include_unchanged=True).collect()
    }
    assert (1, "unchanged") in full and (5, "unchanged") in full


def test_snapshot_diff_no_cross_column_aliasing(spark):
    """A delimiter-concat fingerprint would classify
    old=('x\\x02\\x01y','z') vs new=('x','y\\x02\\x01z') as unchanged
    (identical concat bytes); the struct compare must see them as changed.
    CDC primitives cannot alias on adversarial values."""
    from itdb_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame([(1, "x\x02\x01y", "z")], "k int, a string, b string")
    new = spark.createDataFrame([(1, "x", "y\x02\x01z")], "k int, a string, b string")
    got = snapshot_diff(old, new, ["k"], ["a", "b"]).collect()
    assert [(r.k, r.change) for r in got] == [(1, "changed")]


def test_minhash_bands_respects_num_perm(spark):
    """minhash_bands derives band width from the signature frame (ADVICE:
    num_perm=32 must band m0..m31, not silently m0..m15)."""
    from itdb_spark.operators.dedup import minhash_bands, minhash_signatures

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "eta theta iota kappa lambda mu")],
        "doc_id int, text string",
    )
    sig = minhash_signatures(docs, "doc_id", "text", num_perm=32)
    bands = minhash_bands(sig, num_bands=4)
    row = bands.where((F.col("doc") == 1) & (F.col("band") == 3)).collect()[0]
    # band 3 of a 32-perm signature concatenates m24..m31 → 8 components
    assert len(row.band_hash.split("_")) == 8


def test_no_resident_cache_after_cache_using_queries(spark):
    """Cache lifecycle contract: the queries that cache intermediates
    (shingle/corpus/CC-edge frames) must leave NOTHING registered in the
    CacheManager after their action completes — a long-lived session (the
    driver gate runs 100+ queries in one) must not accumulate executor
    storage. Checkpoint blocks are ContextCleaner-managed and exempt."""
    from itdb_spark.queries import load_all

    registry = load_all()
    spark.catalog.clearCache()  # isolate from other tests
    for qid in ("dedup-minhash", "dedup-jaccard", "dedup-cluster", "pipe-curate"):
        registry[qid].spark(spark, SF_DIR).count()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
            f"{qid} left a cached plan resident"
        )


def test_tfidf_vocabulary_join_unhinted(spark):
    """text-tfidf must not FORCE a broadcast of the document-frequency
    table: at 100 TB that table is the corpus vocabulary and a hint would
    OOM where AQE's runtime size check would shuffle. The only hint in the
    plan is the one-row corpus-count frame."""
    from itdb_spark.queries import load_all

    df = load_all()["text-tfidf"].spark(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed
    # and that one hint hangs off the single-row count aggregate, not the
    # vocabulary: the hinted subtree contains an Aggregate with no grouping
    hinted = analyzed.split("ResolvedHint", 1)[1]
    assert "n_docs" in hinted.split("Aggregate", 1)[1][:200]


def test_embedding_gate_data_outside_lsh_miss_band(spark):
    """ADVICE guard: dedup-embedding's oracle is exact all-pairs SQL, so a
    single LSH-missed pair would break the hash gate. Safe only because no
    ORGANIC pair sits near the 0.999 threshold — constructed ×1.001 copies
    are exactly parallel (every hyperplane sign preserved, recall exact).
    Assert the organic cosine distribution stays far below threshold."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    m = np.array([r.embedding for r in emb], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    np.fill_diagonal(cos, 0.0)
    organic_max = float(cos.max())
    assert organic_max < 0.99, (
        f"an organic pair at cosine {organic_max:.5f} is inside the LSH "
        "miss-probability band; raise n_tables or regenerate fixture"
    )


def test_ranged_row_number_string_hash_bucket(spark):
    """Second ranged_row_number guard with a NON-date bucket: a 1-hex
    md5-prefix bucket over customer names (the hash-prefix strategy the
    docstring recommends when no natural range key exists). Bucket is a
    prefix OF THE SORT KEY (order by the hash itself, name tiebreak), so
    order-consistency holds; result must equal the global window."""
    from pyspark.sql import Window

    from itdb_spark.plans.library import ranged_row_number

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", F.md5(F.col("c_name")).alias("h")
    )
    got = {
        (r.c_custkey, r.seq)
        for r in ranged_row_number(
            cust,
            ["h", "c_custkey"],
            bucket=F.substring("h", 1, 1),
            out_col="seq",
        ).collect()
    }
    w = Window.orderBy("h", "c_custkey")
    expected = {
        (r.c_custkey, r.seq)
        for r in cust.select(
            "c_custkey", F.row_number().over(w).cast("long").alias("seq")
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_skew_safe_join_plan_and_equivalence(spark):
    """skew_safe_join's plan contract: with auto-broadcast OFF (so nothing
    broadcasts by accident), the HOT slice still joins via
    BroadcastHashJoin (explicit hint — the monster key never shuffles) and
    the COLD slice takes the shuffled SortMergeJoin. Result must equal the
    plain join exactly — the rewrite is semantically invisible."""
    from itdb_spark.operators.skew import skew_safe_join

    rows = [(1 if i % 3 == 0 else (i % 50) + 2, i) for i in range(3000)]
    left = spark.createDataFrame(rows, "k long, v long")
    right = spark.createDataFrame([(k, f"dim{k}") for k in range(1, 60)], "k long, name string")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = skew_safe_join(left, right, ["k"], hot_threshold=500)
        plan = _physical_plan(out)
        assert "BroadcastHashJoin" in plan, "hot slice must broadcast"
        assert "SortMergeJoin" in plan, "cold slice must take the shuffled join"
        got = sorted((r.k, r.v, r.name) for r in out.collect())
        want = sorted((r.k, r.v, r.name) for r in left.join(right, "k").collect())
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # precomputed hot_keys path (reuse an agg-skewcheck-style pre-flight)
    hot = spark.createDataFrame([(1,)], "k long")
    out2 = skew_safe_join(left, right, ["k"], hot_keys=hot)
    assert sorted((r.k, r.v, r.name) for r in out2.collect()) == want


def test_winnow_stop_set_broadcast_direction(spark):
    """winnow_pairs must broadcast the SMALL stop-fingerprint set
    (df > max_df — rare by construction) and LeftAnti it, never the
    corpus-sized keep complement (VERDICT r4: the keep set is nearly
    every distinct fingerprint — billions at 100 TB, past any broadcast
    limit). Gate: the anti-join is broadcast and its build subtree
    filters df > max_df; no `df <= max_df` keep-filter exists anywhere
    in the plan."""
    from itdb_spark.operators.dedup import _winnow_pairs_plan

    rows = [
        (i, f"doc {i} unique tokens alpha{i} beta{i} gamma{i} delta{i} eps{i}")
        for i in range(6)
    ]
    rows += [
        (100 + i, "common boilerplate sentence repeated in every doc here now")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs, f = _winnow_pairs_plan(docs, "doc_id", "text", 1, 5)
    try:
        pairs.collect()  # finalize the AQE plan
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        anti_at = plan.index("LeftAnti")  # anti-join present at all
        assert "Broadcast" in plan[max(0, anti_at - 200):anti_at + 200], (
            "stop-set anti-join must be a broadcast join"
        )
        assert "> 5" in plan[anti_at:], (
            "broadcast build side must be the df > max_df stop set"
        )
        assert "<= 5" not in plan, (
            "corpus-sized keep set (df <= max_df) must never be built/broadcast"
        )
        # boilerplate fingerprints are stopped: no pair is between two
        # boilerplate docs via the shared template sentence
        got = {(r.id1, r.id2) for r in pairs.collect()}
        assert not any(i1 >= 100 and i2 >= 100 for i1, i2 in got), got
    finally:
        f.unpersist()


def test_template_channel_catches_capped_docs(spark):
    """The hot-bucket side channel closes dedup's cap leak: docs the
    max_bucket cap drops from minhash_candidates MUST reappear in
    minhash_template_channel with a common template_id, so a boilerplate
    corpus still gets deduped (as a template cluster) rather than
    silently skipping dedup. Both outputs derive from ONE shared banded
    frame — the zero-extra-pass contract."""
    from itdb_spark.operators.dedup import (
        minhash_bands,
        minhash_candidates,
        minhash_signatures,
        minhash_template_channel,
    )

    rows = [(i, "the same boilerplate template text repeated again and again")
            for i in range(50)]
    rows += [(100 + i, f"unique document number {i} about topic {i} with extra words here")
             for i in range(5)]
    rows += [(200, "unique document number 0 about topic 0 with extra words here")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    bands = minhash_bands(minhash_signatures(docs, "doc_id", "text")).cache()
    try:
        capped = minhash_candidates(docs, "doc_id", "text", max_bucket=10, bands=bands)
        channel = minhash_template_channel(docs, "doc_id", "text", max_bucket=10, bands=bands)
        paired_docs = {d for r in capped.collect() for d in (r.id1, r.id2)}
        ch = channel.collect()
        channel_docs = {r.doc_id for r in ch}
        # every boilerplate doc the cap dropped is recovered by the channel
        assert channel_docs == set(range(50))
        assert not (channel_docs & paired_docs)
        # one elected representative per bucket; members collapse to it
        assert all(r.template_id == 0 and r.n_members == 50 for r in ch)
    finally:
        bands.unpersist()


def test_winnow_template_channel_recovers_stopped_docs(spark):
    """Same contract for winnowing: docs sharing ONLY over-df boilerplate
    fingerprints produce no winnow_pairs rows (the anti-join drops them)
    but must land in winnow_template_channel under one template_id."""
    from itdb_spark.operators.dedup import winnow_pairs, winnow_template_channel

    boiler = "all rights reserved copyright notice applies to this page body"
    rows = [(i, f"{boiler} tail{i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = winnow_pairs(docs, "doc_id", "text", min_shared=1, max_df=5).collect()
    ch = winnow_template_channel(docs, "doc_id", "text", max_df=5).collect()
    assert {r.doc_id for r in ch} == set(range(20))
    assert all(r.template_id == 0 for r in ch if r.n_members == 20)
    # the pairwise path dropped them (no shared under-df fingerprint pair
    # remains for the full clique)
    assert len(pairs) < 20 * 19 // 2


def test_decontam_broadcasts_benchmark_side(spark):
    """ngram_decontam must broadcast the (small) benchmark gram-hash set;
    the training side's exploded grams may never be the build side of a
    broadcast nor shuffle through a sort-merge join — at 100 TB the
    train gram table is the corpus times grams-per-doc. Also checks the
    semantics: a train doc sharing an 8-token run is flagged with the
    right overlap count; disjoint docs are absent."""
    from itdb_spark.operators.dedup import ngram_decontam

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame(
        [
            (1, f"prefix words {bench_text} suffix words here"),  # overlaps
            (2, "totally different vocabulary with no shared runs at all ok"),
            (3, bench_text),  # exact copy
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(900, bench_text)], "doc_id long, text string")
    out = ngram_decontam(train, bench, "doc_id", "text", n=8)
    got = {r.doc_id: (r.n_grams, r.n_overlap) for r in out.collect()}
    # bench_text has 10 tokens → 3 distinct 8-grams, all inside doc 1 and 3
    assert set(got) == {1, 3}
    assert got[3] == (3, 3)
    assert got[1][1] == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # the broadcast build side is the benchmark subtree: it aggregates
    # the distinct gram set (HashAggregate) before the exchange
    b_at = plan.index("BroadcastExchange")
    assert "HashAggregate" in plan[b_at:], "broadcast side must be the distinct bench grams"


@pytest.mark.parametrize("qid", ["text-tokens", "fn-pack", "fn-pack-chunks",
                                 "text-entropy", "text-classify", "agg-cms",
                                 "agg-kmv", "dedup-span", "text-despan",
                                 "mm-audiochunk", "pipe-profile", "mm-av-align",
                                 "agg-srcsim", "agg-bloom", "pipe-dedup-eval",
                                 "fn-sample-pps", "fn-chunk-overlap"])
def test_tokens_empty_doc_oracle_parity(spark, tmp_path, qid):
    """Empty / whitespace-only documents: tokens() maps them to 0 tokens,
    DuckDB's regexp_split_to_array(trim(x)) to 1 — the silent hash-gate
    killer ADVICE r4 flagged. The real testdata has no empty docs, so
    this pins the CASE-guarded oracles against a synthetic corpus that
    DOES: run the registered Spark query AND its registered DuckDB
    oracle over the same parquet and compare row sets exactly."""
    import duckdb

    from itdb_spark.queries import load_all

    rows = [
        (1, "hello world one two three", "en", "src0", 25),
        (2, "", "en", "src0", 0),
        (3, "   ", "en", "src1", 3),
        (4, "single", "en", "src1", 6),
        (5, "alpha beta gamma delta epsilon zeta eta theta", "en", "src2", 46),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    pq = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(pq)

    q = load_all()[qid]
    got = sorted(tuple(r) for r in q.spark(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want


def test_minhash_xxhash64_deploy_path_recall(spark):
    """The xxhash64 shingle-hash variant (deploy path — measured ~24%
    faster than the md5-portable gate hash on the sf0.1 signature stage)
    must deliver the same LSH guarantees: every exact copy a candidate,
    >90% near-dup recall on the derived corpus. Bucket VALUES differ
    from the portable hash by design; the statistics may not."""
    from itdb_spark.queries.pipeline import corpus, minhash_candidates

    c = corpus(spark, SF_DIR)
    pairs = {
        (r.id1, r.id2)
        for r in minhash_candidates(c, "doc_id", "text", hash_fn="xxhash64").collect()
    }
    doc_ids = [
        r.doc_id for r in c.where(F.col("doc_id") < 100000).select("doc_id").collect()
    ]
    exact_missing = [i for i in doc_ids if (i, i + 200000) not in pairs]
    assert not exact_missing, f"exact copies missed: {exact_missing[:5]}"
    near_hits = sum((i, i + 100000) in pairs for i in doc_ids)
    assert near_hits / len(doc_ids) > 0.9, f"near-dup recall {near_hits / len(doc_ids):.2f}"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown hash_fn"):
        minhash_candidates(c, "doc_id", "text", hash_fn="sha1")


def test_bucketed_storage_removes_fact_fact_shuffles(spark, tmp_path):
    """SCALE.md §Relational core promises the 100 TB layout for join-pt's
    fact-fact join: both tables bucketed by orderkey at write time turn
    the sort-merge join into a zero-Exchange, zero-Sort plan — bucketing
    is a storage change, not a query change. This writes the actual
    layout and asserts the measured plan. Two conditions the layout doc
    must (and now does) state: sort elimination needs ONE file per
    bucket (repartition by the bucket key before the write — the bucket
    writer and repartition share Murmur3 hashing, so each bucket's rows
    land in exactly one task) and the scan only propagates its ordering
    under spark.sql.legacy.bucketedTableScan.outputOrdering (off by
    default since 3.0 because multi-file buckets would make it wrong).
    Shuffle elimination alone needs neither condition."""
    from itdb_spark.catalog import Tables

    t = Tables(spark, SF_DIR)
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    # external tables under tmp_path: bucketing metadata lives in the
    # session catalog, data in a per-test dir (no stale warehouse state)
    # the single-sourced layout discipline (repartition-to-one-file-per-
    # bucket + bucketBy + sortBy) users should write through
    from itdb_spark.plans.library import write_bucketed

    write_bucketed(
        t.lineitem.select("l_orderkey", "l_linenumber", "l_quantity"),
        "li_bkt", "l_orderkey", 8, path=str(tmp_path / "li_bkt"))
    write_bucketed(
        t.orders.select("o_orderkey", "o_orderpriority"),
        "ord_bkt", "o_orderkey", 8, path=str(tmp_path / "ord_bkt"))
    # one file per bucket — the precondition for sort elimination
    for d in ("li_bkt", "ord_bkt"):
        files = [p for p in (tmp_path / d).iterdir() if p.suffix == ".parquet"]
        assert len(files) == 8, f"{d}: {len(files)} files for 8 buckets"
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # emulate the 100 TB regime this layout exists for: neither fact
        # table fits in a broadcast, so the planner must pick SMJ — at
        # test SF it would otherwise (correctly) broadcast the dim-sized
        # orders slice and never exercise the bucketed path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        li, od = spark.table("li_bkt"), spark.table("ord_bkt")
        joined = li.join(od, li.l_orderkey == od.o_orderkey).select(
            "o_orderkey", "o_orderpriority", "l_linenumber", "l_quantity"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert plan.count("Sort ") == 0, f"bucketed+sorted join still sorts:\n{plan}"
        # and the layout computes the same answer as the shuffle join
        expected = (
            t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .select("o_orderkey", "o_orderpriority", "l_linenumber", "l_quantity")
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_bench_deploy_twins_equivalent(spark):
    """Every registered bench_spark twin (the xxhash64 deploy path
    bench.py times) must be the SAME operator statistically: result size
    within 5% of the graded portable-hash form, and the dedup decisions
    preserved — every planted exact copy (doc_id+200000) still deduped.
    Bit-identity is not expected: LSH buckets differ under a different
    hash by design."""
    from itdb_spark.queries import load_all

    reg = load_all()
    twins = {qid: q for qid, q in reg.items() if q.bench_spark is not None}
    assert set(twins) == {
        "dedup-minhash", "dedup-jaccard", "pipe-curate", "sim-knn-ivfpq",
        "graph-kcore", "sim-knn-ivfpq-res", "fn-bpe-train",
        "dedup-incremental", "dedup-incr-persist", "dedup-exactspan",
    }
    for qid, q in twins.items():
        graded = {tuple(r) for r in q.spark(spark, SF_DIR).collect()}
        spark.catalog.clearCache()
        deploy = {tuple(r) for r in q.bench_spark(spark, SF_DIR).collect()}
        spark.catalog.clearCache()
        assert abs(len(deploy) - len(graded)) <= 0.05 * len(graded), (
            f"{qid}: deploy twin size {len(deploy)} vs graded {len(graded)}"
        )
        if qid in ("sim-knn-ivfpq", "sim-knn-ivfpq-res"):
            # bounded-training twins (max_train=1024): at SF_DIR the
            # sample covers the whole 500-vector corpus, so the twins
            # are BIT-IDENTICAL to the graded forms — assert exactly
            # (for -res that also covers the persisted-index detour:
            # parquet round-trips doubles and int codes exactly); the
            # genuinely-sampled path is recall-gated below
            assert deploy == graded, "sample >= corpus must be a no-op"
        elif qid == "fn-bpe-train":
            # batch=8 changes merge SELECTION (symbol-disjoint batches),
            # not semantics: same merge count, and rank 1 is the global
            # argmax in both (a batch round takes the top pair first);
            # full semantics/quality gates live in
            # test_learn_bpe_batched_deploy_lever
            top_g = next(r for r in graded if r[0] == 1)
            top_d = next(r for r in deploy if r[0] == 1)
            assert top_g == top_d, (top_g, top_d)
        elif qid == "pipe-curate":
            kept = {r[0] for r in deploy}
            both = [i for i in kept if i >= 200000 and i - 200000 in kept]
            assert not both, f"exact copies both kept by deploy twin: {both[:5]}"
        elif qid == "graph-kcore":
            # survivor SETS track closely even though bucket hashing
            # differs: the 2-core of the near-dup graph is dominated by
            # the planted template structure, not hash accidents
            gd = {r[0] for r in graded}
            dd = {r[0] for r in deploy}
            overlap = len(gd & dd) / max(len(gd), 1)
            assert overlap >= 0.9, f"kcore survivor overlap {overlap:.2f}"
        elif qid in ("dedup-incremental", "dedup-incr-persist"):
            # every +200000 derived doc is an EXACT copy of its base:
            # identical text → identical signature under ANY hash → all
            # NUM_BANDS bands collide with the index. Hash-independent
            # invariant, so it pins the xxhash64 twin too. For
            # incr-persist the batch IS the +200000 third, so this
            # covers every output row — and the hash-independence means
            # the deploy twin must equal the graded form exactly.
            from itdb_spark.operators.dedup import NUM_BANDS

            for rows, label in ((graded, "graded"), (deploy, "deploy")):
                hits = {r[0]: r[1] for r in rows}
                copies = [d for d in hits if d >= 200000]
                assert copies, f"{qid}/{label}: no exact-copy docs probed"
                wrong = {d: hits[d] for d in copies if hits[d] != NUM_BANDS}
                assert not wrong, f"{qid}/{label}: {dict(list(wrong.items())[:5])}"
            if qid == "dedup-incr-persist":
                assert deploy == graded, (
                    "exact-copy collisions are hash-independent; the "
                    "xxhash64 twin must be bit-identical here"
                )
        else:
            missing = [
                (r[0], r[1])
                for r in [(i, i + 200000) for i in range(0, 50)]
                if r in graded and r not in deploy
            ]
            assert not missing, f"{qid}: exact-copy pairs lost: {missing[:5]}"


def test_ivfpq_bounded_training_holds_recall(spark):
    """The 100 TB lever on the COMPOSED search (round 7: build_ivf_index
    grew the same ``max_train`` bound train_pq already had, so both
    training loops run on a hash-ranked sample while encoding and the
    final cell assignment still touch every vector). A genuinely
    sub-corpus sample (256 of 500) must hold recall-vs-brute within a
    small margin of full-corpus training — measured 0.72 vs 0.76 mean
    recall@10; gated so only a broken sampled quantizer fails."""
    from itdb_spark.operators.pq import ivfpq_search
    from itdb_spark.operators.similarity import brute_force_knn
    from itdb_spark.queries import load_all

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    truth = {}
    for r in brute_force_knn(emb, queries, "vec_id", "embedding", k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def mean_recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        spark.catalog.clearCache()
        recs = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
        return sum(recs) / len(recs)

    graded = mean_recall(load_all()["sim-knn-ivfpq"].spark(spark, SF_DIR))
    bounded = mean_recall(ivfpq_search(emb, queries, top_k=10, max_train=256))
    assert bounded >= 0.5, bounded
    assert bounded >= graded - 0.15, (bounded, graded)


def test_duplicate_spans_plan_shape(spark):
    """dedup-span scale gates: the gram-frequency count must partial-
    aggregate map-side (a boilerplate gram collapses before the exchange
    — the skew defense the docstring promises), the positions table must
    never be the broadcast build side, and the whole query runs in <= 3
    exchanges (gram groupBy, gram join, doc groupBy)."""
    from itdb_spark.operators.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(i, f"{shared} filler{i} tail{i} words{i} here{i}") for i in range(8)],
        "doc_id long, text string",
    )
    out = duplicate_spans(docs, "doc_id", "text", min_len=8)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # final AQE plan only
    assert "partial_count" in plan, "gram frequency must map-side combine"
    assert plan.count("Exchange hashpartitioning") <= 3
    # if AQE picked a broadcast join, the build side must be the counted
    # dup-gram subtree (it contains the count filter), not raw positions
    if "BroadcastHashJoin" in plan:
        bcast = plan.split("BroadcastExchange", 1)[1]
        assert "count(1)" in bcast or "cnt" in bcast


def test_runtime_bloom_filter_join_reduction(spark):
    """The 100 TB fact-dim join defense that needs NO code: Spark's
    runtime bloom-filter injection builds a bloom filter from the
    selective dim side and semi-reduces the fact scan before the
    shuffle. At test SF the size gates (creationSideThreshold /
    applicationSideScanSizeThreshold, tuned for real clusters) keep it
    off — this test scales the gates down, asserts might_contain lands
    in the plan, and proves the rewrite is result-neutral."""
    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
        "o_orderpriority = '1-URGENT'"
    )

    def run():
        return sorted(
            (r.o_orderpriority, r.cnt)
            for r in li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )

    baseline = run()
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("cnt"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "bloom filter must inject"
        got = sorted((r.o_orderpriority, r.cnt) for r in j.collect())
        assert got == baseline
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_srcsim_signature_partial_agg_and_bounded_bnlj(spark):
    """agg-srcsim's 64-perm per-source signature must build via map-side
    partial mins (one shuffle of num_sources rows — the MinHash union
    rule IS the partial agg), and the only nested-loop join allowed is
    the source-pair matrix: a non-equi (src < src) join of two
    per-source AGGREGATES, bounded by source count, never the corpus."""
    from itdb_spark.queries.pipeline import _srcsim_frames

    df, hashed = _srcsim_frames(spark, SF_DIR)
    try:
        plan = _physical_plan(df)
    finally:
        hashed.unpersist()
    assert "partial_min" in plan, "signature groupBy lost its map-side combine"
    bnlj = plan.count("BroadcastNestedLoopJoin")
    assert bnlj == 1, f"expected exactly the pair-matrix BNLJ, got {bnlj}"
    # the BNLJ must sit above aggregates (per-source rows), not raw scans:
    # its subtree may not contain a parquet scan of documents
    seg = plan[plan.index("BroadcastNestedLoopJoin"):]
    # the first Exchange after the BNLJ closes its build side; a Scan
    # before any HashAggregate would mean it crossed raw data
    first_scan = seg.find("Scan parquet")
    first_agg = seg.find("HashAggregate")
    assert first_agg != -1 and (first_scan == -1 or first_agg < first_scan), (
        "pair-matrix BNLJ must consume per-source aggregates, not the corpus"
    )


def test_bloom_sketch_merge_shape_and_guarantees(spark):
    """agg-bloom: the filter build must carry partial_bit_or (executor-
    local ORs ARE the Bloom union), the probe join must broadcast the
    32-words-per-source sketch, and the one-sided guarantee must hold in
    the result: every exact-duplicate probe hits (no false negatives —
    a certainty, not a bound), near-dup hits are false positives only."""
    from itdb_spark.queries import load_all

    df = load_all()["agg-bloom"].spark(spark, SF_DIR)
    plan = _physical_plan(df)
    assert "partial_bit_or" in plan, "Bloom build lost its map-side OR combine"
    assert "BroadcastExchange" in plan, "probe join must broadcast the sketch"
    rows = df.collect()
    assert rows, "no sources?"
    for r in rows:
        assert r.all_dups_caught, f"{r.source}: Bloom false negative (impossible)"
        assert r.dup_hits == r.n_docs
        # m=1024/k=4 at 25-250 docs/source keeps fill low; FPs must stay
        # a small minority of probes or the filter is mis-sized
        assert r.near_fp_hits <= r.n_docs // 2, (
            f"{r.source}: {r.near_fp_hits} FPs of {r.n_docs} — fill ratio wrong"
        )


def test_nearest_asof_single_exchange_and_tie_semantics(spark):
    """direction='nearest' must keep the union-tag discipline: BOTH
    window frames share one hash exchange on the key (a second Exchange
    would mean the two frames stopped sharing the sorted partition),
    and distance ties — including the exact-timestamp match — resolve
    backward, pandas merge_asof(direction='nearest') semantics."""
    from itdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 50, "c"), (3, 10, "d")],
        "k int, ts long, lv string",
    )
    right = spark.createDataFrame(
        # k=1: ts=100 exact match AND ts=101 closer-forward to nothing;
        #      for left ts=200: backward 101 (d=99) vs forward 299 (d=99)
        #      — an exact distance tie, must go backward
        # k=2: only a forward match
        # k=3: no right rows at all
        [(1, 100, 10), (1, 101, 11), (1, 299, 12), (2, 60, 20)],
        "k int, rts long, rv int",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                    direction="nearest")
    plan = _physical_plan(out)
    assert plan.count("Exchange hashpartitioning") == 1, (
        "nearest as-of must not add a second exchange"
    )
    rows = {r.lv: r for r in out.collect()}
    assert rows["a"].rv == 10 and rows["a"].matched_dir == "backward"  # exact ts
    assert rows["b"].rv == 11 and rows["b"].matched_dir == "backward"  # tie -> back
    assert rows["c"].rv == 20 and rows["c"].matched_dir == "forward"
    assert rows["d"].rv is None and rows["d"].matched_dir is None


def test_pps_sample_hits_telescope_to_k(spark):
    """fn-sample-pps: multiplicities must sum to exactly k=100 (the
    midpoint offsets telescope through the cumulative line), inclusion
    must be weight-monotone in aggregate, and zero-weight rows can
    never be drawn."""
    from itdb_spark.queries import load_all

    df = load_all()["fn-sample-pps"].spark(spark, SF_DIR)
    rows = df.collect()
    assert sum(r.n_hits for r in rows) == 100
    assert all(r.n_hits >= 1 for r in rows)
    assert all(r.w > 0 for r in rows), "zero-weight row drawn"
    # heaviest doc must be sampled at least as often as the corpus-median
    # doc is on average: with W/k step, any doc with w >= W/50 gets >= 2
    total_w = spark.read.parquet(f"{SF_DIR}/documents.parquet").agg(
        F.sum("n_chars")
    ).collect()[0][0]
    for r in rows:
        if r.w * 50 >= total_w:
            assert r.n_hits >= 2


def test_split_never_separates_near_dups(spark):
    """pipe-split's guarantee: every LSH candidate pair lands in ONE
    split (the leakage mode a per-doc hash split cannot prevent), and
    both splits are non-empty at this SF."""
    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import corpus, minhash_candidates

    out = {r.doc_id: r.split for r in
           load_all()["pipe-split"].spark(spark, SF_DIR).collect()}
    pairs = minhash_candidates(
        corpus(spark, SF_DIR), "doc_id", "text"
    ).collect()
    assert pairs, "no candidate pairs at this SF?"
    for p in pairs:
        assert out[p.id1] == out[p.id2], (p.id1, p.id2)
    assert {"train", "eval"} == set(out.values())


def test_rendezvous_minimal_movement(spark):
    """The reason rendezvous hashing exists: growing 5 -> 6 shards moves
    only the keys the NEW shard wins — every moved doc must land on
    shard 6's id (5), and the moved fraction must sit near 1/6 (binomial
    tolerance), where mod-N bucketing would move ~5/6."""
    from itdb_spark.queries import load_all

    rows = load_all()["fn-rendezvous"].spark(spark, SF_DIR).collect()
    total = sum(r.n_docs for r in rows)
    moved = {r.shard6: r.moved for r in rows}
    # every move is INTO the new shard: old shards keep their keepers
    for s, m in moved.items():
        if s != 5:
            assert m == 0, f"shard {s} gained moved docs — not minimal"
    n_on_new = next(r.n_docs for r in rows if r.shard6 == 5)
    assert moved[5] == n_on_new, "every doc on the new shard must be a moved doc"
    frac = moved[5] / total
    assert 1 / 6 - 0.05 < frac < 1 / 6 + 0.05, f"moved {frac:.3f}, want ~1/6"


def test_aqe_skew_join_splits_hot_partition(spark):
    """SCALE.md's skew posture names two tools: manual salting
    (skew_safe_join, tested above) and AQE's runtime skew-join split.
    This measures the second: a join where one key owns ~95% of the left
    rows, thresholds tuned so the hot partition qualifies, must show
    'skew=true' on the SortMergeJoin in the FINAL adaptive plan — AQE
    split the oversized partition into parallel sub-joins at runtime —
    while returning exactly the same row count as the logical join."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        left = spark.range(0, 200_000).selectExpr(
            "CASE WHEN id % 20 = 0 THEN id ELSE 1 END AS k",
            "id AS payload",
        )
        right = spark.range(0, 200_000).selectExpr("id AS k", "id * 10 AS rv")
        joined = left.join(right, "k")
        # execute THIS frame (count() would build a different plan object
        # whose AQE result we can't inspect afterwards)
        n = len(joined.collect())
        assert n == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, (
            f"AQE did not split the hot partition:\n{plan[:2000]}"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bpe_pair_count_partial_aggregates(spark):
    """learn_bpe's per-iteration shuffle (the pair-count groupBy) must
    partial-aggregate map-side: the exchange carries |distinct pairs|
    rows, never the exploded pair stream — the SCALE.md bound for
    fn-bpe-train."""
    from itdb_spark.operators.packing import bpe_pair_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    vocab = (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
        .groupBy("w").agg(F.count("*").cast("long").alias("c"))
        .select("c", F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"))
    )
    plan = _physical_plan(bpe_pair_counts(vocab))
    assert "partial_sum" in plan, plan
