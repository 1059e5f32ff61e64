"""IVF ANN recall test + MERGE/SCD2 semantics."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Window, functions as F

from tests.conftest import SF_DIR


def test_ivf_recall_against_brute(spark):
    from itdb_spark.catalog import Tables
    from itdb_spark.operators.ivf import ivf_knn
    from itdb_spark.operators.similarity import brute_force_knn

    emb = Tables(spark, SF_DIR).embeddings
    queries = emb.where(F.col("vec_id") < 5)
    k = 5
    exact = brute_force_knn(emb, queries, k=k)
    approx = ivf_knn(spark, emb, queries, k=k, n_cells=8, n_probe=3)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(approx_sets) == set(exact_sets)
    # probing 3/8 cells must recover a reasonable share of true neighbors
    recall = sum(
        len(approx_sets[q] & exact_sets[q]) for q in exact_sets
    ) / sum(len(s) for s in exact_sets.values())
    assert recall >= 0.4, f"recall {recall}"
    # every approx cosine must equal the exact cosine for that pair
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(exact_cos[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_merge_upsert(spark):
    from itdb_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id int, name string, v int"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21), (4, "d", 40)], "id int, name string, v int"
    )
    out = {r.id: (r.name, r.v) for r in merge_upsert(target, updates, ["id"]).collect()}
    assert out == {1: ("a", 10), 2: ("b2", 21), 3: ("c", 30), 4: ("d", 40)}


def test_scd2_apply(spark):
    from itdb_spark.operators.merge import scd2_apply

    t0, t1 = datetime(2024, 1, 1), datetime(2024, 6, 1)
    hist = spark.createDataFrame(
        [(1, "a", t0, True, None), (2, "b", t0, True, None)],
        "id int, name string, effective_ts timestamp, is_current boolean, end_ts timestamp",
    )
    updates = spark.createDataFrame(
        [(1, "a2", t1)], "id int, name string, effective_ts timestamp"
    )
    out = scd2_apply(hist, updates, ["id"]).collect()
    rows = {(r.id, r.name): r for r in out}
    assert len(out) == 3
    closed = rows[(1, "a")]
    assert closed.is_current is False and closed.end_ts == t1
    new = rows[(1, "a2")]
    assert new.is_current is True and new.end_ts is None
    untouched = rows[(2, "b")]
    assert untouched.is_current is True and untouched.end_ts is None


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The SCALE.md claim, proven: an IVF index written with
    partitionBy(centroid_id) serves a probe by READING ONLY the probed
    cells' files — partition pruning does the cell selection, so probe
    cost is |probed cells| / |cells| of the index regardless of total
    index size."""
    from pyspark.sql import functions as F

    from itdb_spark.operators.ivf import build_ivf_index

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assignments, _ = build_ivf_index(emb)
    path = str(tmp_path / "ivf_index")
    assignments.write.partitionBy("centroid_id").parquet(path)

    cells = sorted(
        r.centroid_id for r in assignments.select("centroid_id").distinct().collect()
    )
    probe = cells[:2]
    idx = spark.read.parquet(path)
    probed = idx.where(F.col("centroid_id").isin([int(c) for c in probe]))

    # every file actually read lives under a probed partition directory
    read_files = {r.f for r in probed.select(F.input_file_name().alias("f")).distinct().collect()}
    assert read_files
    allowed = tuple(f"/centroid_id={c}/" for c in probe)
    for f in read_files:
        assert any(a in f for a in allowed), f

    # and the pruning happens at the scan (partition filters, not a
    # post-scan Filter over all cells)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters", 1)[1][:300], plan


def test_semantic_dedup_greedy_keep_lowest(spark):
    """SemDeDup greedy rule: among mutually-near vectors the LOWEST id is
    the keeper and every higher id is marked dup against it; vectors far
    from everything are keepers with null max_sim_lower when alone in
    their cell. Cross-cell near-dups are NOT compared (the documented
    SemDeDup blind spot: dedup is within-cell only)."""
    import pyspark.sql.functions as F

    from itdb_spark.operators.ivf import semantic_dedup

    # two tight groups far apart (so k-means separates them) + copies
    base = [1.0] * 8
    neg = [-1.0] * 8
    rows = [
        (1, base),
        (2, [x * 1.001 for x in base]),   # dup of 1
        (3, [x * 0.999 for x in base]),   # dup of 1 (and 2)
        (10, neg),
        (11, [x * 1.002 for x in neg]),   # dup of 10
    ]
    v = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    got = {
        r.vec_id: r
        for r in semantic_dedup(
            v, id_col="vec_id", vec_col="vec", n_cells=2, threshold=0.95
        ).collect()
    }
    assert not got[1].is_dup          # lowest id in its group: keeper
    assert got[2].is_dup and got[3].is_dup
    assert not got[10].is_dup
    assert got[11].is_dup
    assert got[2].max_sim_lower == 1.0
    # group memberships respected cell assignment
    assert got[1].centroid_id == got[2].centroid_id == got[3].centroid_id
    assert got[10].centroid_id == got[11].centroid_id
    assert got[1].centroid_id != got[10].centroid_id


# --- product quantization (operators/pq.py) ---------------------------------


def _pq_setup(spark, m=16, k=16):
    from itdb_spark.operators.pq import pq_encode, train_pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = train_pq(emb, m=m, k=k, iters=3)
    return emb, cb, pq_encode(emb, cb)


def test_pq_codebooks_deterministic_and_encode_shape(spark):
    """Training is seedless-deterministic (hash-ranked init, tie-broken
    assignment — the same discipline as IVF, what makes a future DuckDB
    oracle possible), and the index is genuinely the compressed form:
    m small ints per vector, every code < k."""
    from itdb_spark.operators.pq import train_pq

    emb, cb, enc = _pq_setup(spark, m=8, k=16)
    again = {
        (r.sub, r.code): tuple(r.cvec)
        for r in train_pq(emb, m=8, k=16, iters=3).collect()
    }
    first = {(r.sub, r.code): tuple(r.cvec) for r in cb.collect()}
    assert first == again
    rows = enc.collect()
    assert len(rows) == emb.count()
    assert all(len(r.codes) == 8 and all(0 <= c < 16 for c in r.codes) for r in rows)


def test_pq_candidate_recall(spark):
    """The measured operating point: m=16, k=16 (32× compression — 64
    float64 dims → 16 bytes of codes) must put ≥80% of each query's TRUE
    top-10 inside the PQ top-50 candidate set (measured 0.96 mean on
    this corpus; pinned below for stability). This is the stage-1
    guarantee the rerank stage consumes."""
    from itdb_spark.operators.pq import pq_search
    from itdb_spark.operators.similarity import brute_force_knn

    emb, cb, enc = _pq_setup(spark)
    queries = emb.where(F.col("vec_id") < 5)
    cand = pq_search(enc, queries, cb, top_k=50).collect()
    brute = brute_force_knn(emb, queries, "vec_id", "embedding", k=10).collect()
    true_top, pq_cand = {}, {}
    for r in brute:
        true_top.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in cand:
        pq_cand.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(pq_cand[q] & true_top[q]) / len(true_top[q]) for q in sorted(true_top)
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_pq_rerank_recovers_exact_order(spark):
    """Stage 2: exact rerank over the PQ candidates returns the true
    top-k in the true order for every neighbor the candidate set
    contains — the composed pipeline's answer differs from brute force
    ONLY by stage-1 misses, never by ordering."""
    from itdb_spark.operators.pq import pq_rerank, pq_search
    from itdb_spark.operators.similarity import brute_force_knn

    emb, cb, enc = _pq_setup(spark)
    queries = emb.where(F.col("vec_id") < 5)
    cand = pq_search(enc, queries, cb, top_k=50)
    got = pq_rerank(cand, emb, queries, top_k=10).collect()
    brute = brute_force_knn(emb, queries, "vec_id", "embedding", k=10).collect()
    bru = {}
    for r in brute:
        bru.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine))
    cands = {}
    for r in cand.collect():
        cands.setdefault(r.query_id, set()).add(r.neighbor_id)
    ours = {}
    for r in sorted(got, key=lambda r: (r.query_id, -r.cosine, r.neighbor_id)):
        ours.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine))
    for q, true_list in bru.items():
        expect = [(n, c) for n, c in true_list if n in cands[q]][:10]
        assert ours[q][: len(expect)] == expect, (q, ours[q], expect)


def test_pq_search_plan_no_corpus_explode(spark):
    """ADC's scale contract: the corpus side is scanned ONCE with no
    explode (the per-query tables arrive as one broadcast nested array;
    scoring is a HOF fold of element_at lookups) and the only window is
    the per-query top-k."""
    from itdb_spark.operators.pq import pq_search

    emb, cb, enc = _pq_setup(spark)
    queries = emb.where(F.col("vec_id") < 5)
    df = pq_search(enc, queries, cb, top_k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # explodes exist in the ENCODE/train lineage feeding `enc`; assert
    # none between the encoded relation and the score (the scoring
    # segment is everything above the BroadcastNestedLoopJoin)
    scoring = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Generate explode" not in scoring, scoring
    assert "WindowGroupLimit" in plan, plan


def test_pq_oracle_matches_spark(spark):
    """The registration-ready DuckDB oracle (pq_oracle_sql) replays
    train → encode → ADC search and must match the Spark pipeline
    EXACTLY — same discipline as sim-knn-ivf's oracle: every step is
    deterministic, float-summation ulp freedom absorbed by the round(6)
    on the final score. Passing here means the round-7 sim-knn-pq
    registry entry is a naming exercise."""
    import duckdb

    from itdb_spark.operators.pq import pq_oracle_sql, pq_search

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _, cb, enc = _pq_setup(spark)  # m=16, k=16, iters=3
    queries = emb.where(F.col("vec_id") < 5)
    got = sorted(
        (r.query_id, r.neighbor_id, r.adc_score)
        for r in pq_search(enc, queries, cb, top_k=10).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = sorted(
        (q, n, s)
        for q, n, s in con.execute(
            pq_oracle_sql(m=16, k=16, iters=3, top_k=10)
        ).fetchall()
    )
    assert got == want


def test_pq_assignment_margin(spark):
    """The cross-engine exactness of the PQ differential rests on an
    EMPIRICAL assumption the round-6 ADVICE flagged as unchecked: the
    assignment step orders candidates by unrounded double L2, so a
    ulp-level summation difference between Spark and DuckDB could flip
    a code on a near-tie and cascade through every Lloyd's iteration.
    This asserts the assumption: on the actual testdata, every (id, sub)
    winner beats the runner-up by a margin orders of magnitude above
    double-summation noise (sub_dim=4 terms ⇒ error ≲ 1e-15 relative) —
    or ties EXACTLY at 0.0 (duplicate centroids from empty-cluster
    retention: both engines then compute identical per-centroid values
    and the code tie-break is engine-independent). A failure here means
    the data has grown an unlucky near-tie and the differential's
    exactness is luck, not arithmetic — tighten the discipline then."""
    from itdb_spark.operators.pq import _l2sq, _normalize, _subvectors

    emb, cb, _ = _pq_setup(spark)  # m=16, k=16: the registered shape
    subvecs = _subvectors(_normalize(emb, "vec_id", "embedding"), 16, 4)
    d = subvecs.join(F.broadcast(cb), "sub").select(
        "id", "sub", _l2sq(F.col("svec"), F.col("cvec")).alias("d")
    )
    # margin = nearest STRICTLY-GREATER distance minus the winner — not
    # rank-2 minus rank-1 (code review: empty-cluster retention can
    # duplicate centroids, making the top-2 margin exactly 0.0 while a
    # third, distinct centroid sits a ulp away; exact ties are engine-
    # independent via the code tie-break, so only the first distinct
    # gap matters)
    win = d.groupBy("id", "sub").agg(F.min("d").alias("dmin"))
    margins = (
        d.join(win, ["id", "sub"])
        .where(F.col("d") > F.col("dmin"))
        .groupBy("id", "sub")
        .agg(F.min(F.col("d") - F.col("dmin")).alias("margin"))
        .agg(F.min("margin").alias("m"))
        .collect()[0]
    )
    assert margins.m is None or margins.m > 1e-9, margins.m


def test_ivfpq_train_backends_bit_identical(spark):
    """train_backend="driver" (numpy Lloyd's over the one collected
    bounded sample — the FAISS deployment shape the bench twin runs)
    must reproduce the distributed trainer BIT-FOR-BIT at the same
    max_train: same hash-ranked init, same tie-breaks (numpy argmax/
    argmin take the first index = lowest id), same mean updates, same
    empty-cell/-cluster handling; final-ulp summation freedom is
    absorbed by the assignment margins (test_pq_assignment_margin).
    Also pins the guards: driver training REQUIRES a bounded sample,
    and an unknown backend fails loud."""
    import pytest

    from itdb_spark.operators.pq import ivfpq_search

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    a = sorted(
        tuple(r)
        for r in ivfpq_search(
            emb, queries, top_k=10, max_train=256, train_backend="spark"
        ).collect()
    )
    spark.catalog.clearCache()
    b = sorted(
        tuple(r)
        for r in ivfpq_search(
            emb, queries, top_k=10, max_train=256, train_backend="driver"
        ).collect()
    )
    spark.catalog.clearCache()
    assert a == b
    with pytest.raises(ValueError, match="max_train"):
        ivfpq_search(emb, queries, train_backend="driver")
    with pytest.raises(ValueError, match="train_backend"):
        ivfpq_search(emb, queries, train_backend="numpy")


def test_ivfpq_composed_recall(spark):
    """IVF·PQ — coarse cells prune the search, PQ codes stand in for the
    float payload, exact rerank recovers order: the composed pipeline's
    top-10 must hit ≥60% of brute force's true top-10 (cell pruning AND
    code quantization both lose a little; defaults n_probe=5/cands=100
    measured 0.76 mean here — the recall-vs-budget curve is in the
    operator docstring), and
    every returned cosine must be EXACT (the rerank stage guarantee:
    scores come from true vectors, never from codes)."""
    from itdb_spark.operators.pq import ivfpq_search
    from itdb_spark.operators.similarity import brute_force_knn

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    got = ivfpq_search(emb, queries, top_k=10).collect()
    brute = brute_force_knn(emb, queries, "vec_id", "embedding", k=10).collect()
    true_top, true_cos = {}, {}
    for r in brute:
        true_top.setdefault(r.query_id, set()).add(r.neighbor_id)
        true_cos[(r.query_id, r.neighbor_id)] = r.cosine
    ours = {}
    for r in got:
        ours.setdefault(r.query_id, set()).add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in true_cos:
            assert r.cosine == true_cos[(r.query_id, r.neighbor_id)], r
    recalls = [
        len(ours[q] & true_top[q]) / len(true_top[q]) for q in sorted(true_top)
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_pq_duplicate_embeddings_keep_codebook_dense(spark):
    """Regression (code review, round 6): duplicate embeddings — the very
    case dedup-embedding exists for — can empty a cluster mid-Lloyd's
    (two identical init centroids tie on every point; the (d, code)
    tie-break starves the larger code). train_pq must retain the starved
    code's previous centroid (k codes per subspace, always) and ADC must
    look codes up BY KEY, so no vector's score can silently shift or go
    NULL. Before the fix the positional element_at(row, code+1) lookup
    read the NEXT code's inner product past the gap and NULLed the top
    code."""
    from itdb_spark.operators.pq import pq_encode, pq_search, train_pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(40)
    base = emb.where(F.col("vec_id") == 0).select("embedding")
    # 24 exact copies of vector 0 under fresh ids: enough for several to
    # land in the k-smallest-hash init set of every subspace
    dupes = (
        spark.range(1_000_000, 1_000_024)
        .select(F.col("id").cast("long").alias("vec_id"))
        .crossJoin(F.broadcast(base))
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dupes)
    m, k = 8, 16
    cb = train_pq(corpus, m=m, k=k, iters=3)
    per_sub = {
        r.sub: r.n
        for r in cb.groupBy("sub").agg(F.count("*").alias("n")).collect()
    }
    assert per_sub == {s: k for s in range(m)}, per_sub
    enc = pq_encode(corpus, cb)
    queries = corpus.where(F.col("vec_id") < 3)
    scored = pq_search(enc, queries, cb, top_k=corpus.count())
    rows = scored.collect()
    assert rows and all(r.adc_score is not None for r in rows)
    # every non-query corpus vector is ranked for every query — nothing
    # silently dropped by a NULL fold
    n_corpus = corpus.count()
    per_query = {}
    for r in rows:
        per_query[r.query_id] = per_query.get(r.query_id, 0) + 1
    assert all(v == n_corpus - 1 for v in per_query.values()), per_query


def test_pq_sampled_training_holds_recall(spark):
    """The 100 TB training lever: train_pq(max_train=N) trains on a
    deterministic hash-ranked sample — codebook quality must hold (PQ
    candidate recall within a few points of full-corpus training) and
    the sample must be seedless-deterministic (same codebook twice)."""
    from itdb_spark.operators.pq import pq_encode, pq_search, train_pq
    from itdb_spark.operators.similarity import brute_force_knn

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = train_pq(emb, m=16, k=16, iters=3, max_train=200)
    again = {
        (r.sub, r.code): tuple(r.cvec)
        for r in train_pq(emb, m=16, k=16, iters=3, max_train=200).collect()
    }
    assert {(r.sub, r.code): tuple(r.cvec) for r in cb.collect()} == again
    # full-corpus ENCODE against the sampled codebook
    enc = pq_encode(emb, cb)
    assert enc.count() == emb.count()
    queries = emb.where(F.col("vec_id") < 5)
    cand = pq_search(enc, queries, cb, top_k=50).collect()
    brute = brute_force_knn(emb, queries, "vec_id", "embedding", k=10).collect()
    true_top, pq_cand = {}, {}
    for r in brute:
        true_top.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in cand:
        pq_cand.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(pq_cand[q] & true_top[q]) / len(true_top[q]) for q in sorted(true_top)
    ]
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_ivfpq_registered_oracle_matches_spark(spark):
    """The sim-knn-ivfpq REGISTERED oracle (the composed IVF+PQ replay)
    must match the registered Spark pipeline bit-for-bit in CI — not
    only at external grading time (code review: a future edit to
    _ivfpq_oracle or its shared CTE builders would otherwise pass the
    whole suite and first fail at the driver)."""
    import duckdb

    from itdb_spark.queries import load_all

    q = load_all()["sim-knn-ivfpq"]
    got = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want


def test_ivf_filtered_search(spark):
    """Filtered ANN (ivf_knn(allowed=...)): every neighbor satisfies the
    predicate; the filter binds as a LEFT SEMI join on the candidate set
    (inside probed cells, before scoring — no filtered-out candidate is
    ever cosine-scored); and the unfiltered form is untouched (registered
    sim-knn-ivf results identical with allowed=None)."""
    from itdb_spark.operators.ivf import ivf_knn

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    allowed = docs.where(F.col("lang") == "en").select("doc_id")
    out = ivf_knn(spark, emb, queries, k=5, n_cells=8, n_probe=3, allowed=allowed)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    rows = out.collect()
    assert rows
    allowed_ids = {r.doc_id for r in allowed.collect()}
    assert all(r.neighbor_id in allowed_ids for r in rows)
    # the filter actually bites: some unfiltered neighbor is not allowed
    unfiltered = ivf_knn(spark, emb, queries, k=5, n_cells=8, n_probe=3).collect()
    assert any(r.neighbor_id not in allowed_ids for r in unfiltered)
    # scores for pairs present in both forms agree exactly (same probe,
    # same cosine — the filter only removes candidates)
    f = {(r.query_id, r.neighbor_id): r.cosine for r in rows}
    u = {(r.query_id, r.neighbor_id): r.cosine for r in unfiltered}
    for key in set(f) & set(u):
        assert f[key] == u[key]


def test_filtered_registered_oracle_matches_spark(spark):
    """The sim-knn-filtered REGISTERED form must match its registered
    DuckDB oracle bit-for-bit in CI (the in-suite pin every deferred
    registration carries until the driver grades it — code review:
    test_ivf_filtered_search checks subset/score properties but never
    the oracle, so a filtered-form-only defect would surface as a red
    driver grade instead of a red CI)."""
    import duckdb

    from itdb_spark.queries import load_all

    q = load_all()["sim-knn-filtered"]
    got = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want


def test_ivf_incremental_ingest(spark):
    """Incremental index maintenance: (1) assigning the increment to the
    frozen centroids lands every vector in EXACTLY the cell a full
    assignment pass with the same centroids chooses (the property that
    makes the sim-knn-ivf-incr oracle a one-parameter reuse of the
    sim-knn-ivf replay), and (2) the registered query matches its
    registered DuckDB oracle bit-for-bit in CI."""
    import duckdb

    from itdb_spark.operators.ivf import (
        _assign,
        build_ivf_index,
        ivf_assign_incremental,
    )
    from itdb_spark.queries import load_all

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 5 != 4)
    incr = emb.where(F.col("vec_id") % 5 == 4)
    _, centroids = build_ivf_index(base, k=8)
    got = {
        (r.vec_id, r.centroid_id)
        for r in ivf_assign_incremental(incr, centroids).collect()
    }
    v_all = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    want = {
        (r.vec_id, r.centroid_id)
        for r in _assign(v_all, centroids, "vec_id").collect()
        if r.vec_id % 5 == 4
    }
    assert got == want and got

    q = load_all()["sim-knn-ivf-incr"]
    got_q = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want_q = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got_q == want_q


def test_ivfpq_driver_trainer_small_sample(spark):
    """ADVICE r7 regression: a bounded sample smaller than k must yield
    fewer PQ codes — exactly what the distributed trainer's limit(k)
    init does — not raise IndexError from indexing range(k) into a
    (m, <k, sub) codebook array. Both backends at max_train=8 < k=16
    must still be bit-identical (the two engines sample the same 8-row
    population and seed the same ≤8 codes)."""
    from itdb_spark.operators.pq import ivfpq_search

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3)
    a = sorted(
        tuple(r)
        for r in ivfpq_search(
            emb, queries, top_k=5, max_train=8, train_backend="spark"
        ).collect()
    )
    spark.catalog.clearCache()
    b = sorted(
        tuple(r)
        for r in ivfpq_search(
            emb, queries, top_k=5, max_train=8, train_backend="driver"
        ).collect()
    )
    spark.catalog.clearCache()
    assert a and a == b


def test_ivfpq_driver_trainer_dead_embedding_in_window(spark):
    """ADVICE r7 regression: the driver trainer's PQ sample must be drawn
    from the zero-norm-filtered population (as train_pq does), not from
    the raw sample with zeros dropped afterwards. Plant a dead (all-zero)
    embedding on the id with the SMALLEST portable hash — guaranteed
    inside every hash-ranked window — and require the two backends to
    stay bit-identical anyway: before the fix the driver's PQ
    population was one row short and the codebooks diverged."""
    from itdb_spark.functions.core import portable_hash64
    from itdb_spark.operators.pq import ivfpq_search

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    first = (
        emb.select(
            "vec_id", portable_hash64(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy("h", "vec_id")
        .limit(1)
        .collect()[0]
        .vec_id
    )
    dim = len(emb.select("embedding").first()[0])
    dead = F.array(*[F.lit(0.0) for _ in range(dim)])
    planted = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == first, dead).otherwise(
            F.col("embedding").cast("array<double>")
        ),
    )
    queries = planted.where((F.col("vec_id") < 5) & (F.col("vec_id") != first))
    a = sorted(
        tuple(r)
        for r in ivfpq_search(
            planted, queries, top_k=5, max_train=64, train_backend="spark"
        ).collect()
    )
    spark.catalog.clearCache()
    b = sorted(
        tuple(r)
        for r in ivfpq_search(
            planted, queries, top_k=5, max_train=64, train_backend="driver"
        ).collect()
    )
    spark.catalog.clearCache()
    assert a and a == b


@pytest.mark.parametrize("form", ["topk", "range"])
def test_ivf_persisted_search_prunes_partitions(spark, tmp_path, form):
    """The registered persisted-index search paths, top-k
    (sim-knn-ivf-persist / operators/ivf.py::ivf_search_persisted) and
    range (sim-range-ivf / ivf_range_search_persisted), proven
    end-to-end: (a) results are BIT-IDENTICAL to the same search over
    the in-memory index (the parquet detour is exact), and (b) the
    probed-cell IN-filter reaches the partitioned scan as
    PartitionFilters so only probed cells' files are read — the
    property that makes probe cost |probed|/|cells| of the index at any
    scale."""
    from itdb_spark.operators.ivf import (
        build_ivf_index,
        ivf_range_search,
        ivf_range_search_persisted,
        ivf_search,
        ivf_search_persisted,
        persist_ivf_index,
    )

    if form == "topk":
        def in_memory(a, c, q, n_probe):
            return ivf_search(a, c, q, k=5, n_probe=n_probe)

        def persisted_search(path, q, n_probe):
            return ivf_search_persisted(spark, path, q, k=5, n_probe=n_probe)
    else:
        def in_memory(a, c, q, n_probe):
            return ivf_range_search(a, c, q, n_probe=n_probe)

        def persisted_search(path, q, n_probe):
            return ivf_range_search_persisted(spark, path, q, n_probe=n_probe)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    assignments, centroids = build_ivf_index(emb, k=8)
    path = str(tmp_path / "ivf_index")
    persist_ivf_index(assignments, centroids, path)

    in_mem = sorted(
        tuple(r)
        for r in in_memory(assignments, centroids, queries, 3).collect()
    )
    persisted_df = persisted_search(path, queries, 3)
    persisted = sorted(tuple(r) for r in persisted_df.collect())
    assert persisted and persisted == in_mem

    # pruning proof with a single query at n_probe=2, so some of the 8
    # cells are guaranteed unprobed (the registered 5-query × 3-probe
    # shape can legitimately touch every cell at this tiny SF — the
    # IN-filter is still in ITS plan, just not selective there)
    one_q = emb.where(F.col("vec_id") == 0)
    one_df = persisted_search(path, one_q, 2)
    one_df.collect()
    plan = one_df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    pfs = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("centroid_id" in pf and " IN " in pf for pf in pfs), plan
    # ... and only probed cells' files are touched
    from itdb_spark.sinks.versioned import read_current_chain

    idx = read_current_chain(spark, f"{path}/assignments")
    all_cells = {int(r.centroid_id) for r in idx.select("centroid_id").distinct().collect()}
    from itdb_spark.operators.ivf import _probe_cells
    probed = {
        int(r.centroid_id)
        for r in _probe_cells(one_q, centroids, "vec_id", "embedding", 2)
        .select("centroid_id").distinct().collect()
    }
    assert len(probed) == 2 and probed < all_cells
    pruned_read = idx.where(F.col("centroid_id").isin(sorted(probed)))
    files = {
        r.f
        for r in pruned_read.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert files
    allowed_dirs = tuple(f"/centroid_id={c}/" for c in probed)
    for f in files:
        assert any(a in f for a in allowed_dirs), f


def test_ivfpq_residual_recall_not_worse(spark):
    """The residual variant's reason to exist (FAISS IVFPQ default, VERDICT
    r7 #3): at IDENTICAL knobs (n_probe, m, k, candidates), quantizing
    x̂ − ĉ(x) instead of x̂ must recover at least as many of each query's
    TRUE top-10 (vs brute force) as the raw variant — within-cell
    residuals carry less variance, so the same 16-byte code budget loses
    less. Also pins an absolute floor so both variants degrading together
    can't pass silently."""
    from itdb_spark.operators.pq import ivfpq_residual_search, ivfpq_search
    from itdb_spark.operators.similarity import brute_force_knn

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    brute = brute_force_knn(emb, queries, "vec_id", "embedding", k=10).collect()
    true_top = {}
    for r in brute:
        true_top.setdefault(r.query_id, set()).add(r.neighbor_id)

    def mean_recall(result_rows):
        got = {}
        for r in result_rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        rs = [
            len(got.get(q, set()) & true_top[q]) / len(true_top[q])
            for q in sorted(true_top)
        ]
        return sum(rs) / len(rs)

    raw = mean_recall(ivfpq_search(emb, queries, top_k=10).collect())
    res = mean_recall(ivfpq_residual_search(emb, queries, top_k=10).collect())
    assert res >= raw, (res, raw)
    assert res >= 0.7, res


# --- scalar quantization (operators/sq.py) ----------------------------------


def test_sq8_codes_shape_and_determinism(spark):
    """Every live vector encodes to exactly dim int codes in [0, 255];
    encoding twice gives identical codes (min/max bounds are
    selections, codes single-IEEE-op arithmetic — no seeds, no
    iteration order)."""
    from itdb_spark.operators.sq import sq8_encode, sq8_stats

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    stats = sq8_stats(emb)
    enc = sq8_encode(emb, stats)
    rows = enc.collect()
    assert len(rows) == emb.count()
    assert all(
        len(r.codes) == 64 and all(0 <= c <= 255 for c in r.codes) for r in rows
    )
    again = {r.id: tuple(r.codes) for r in sq8_encode(emb, stats).collect()}
    assert {r.id: tuple(r.codes) for r in rows} == again


def test_sq8_recall_against_brute(spark):
    """8-bit-per-dimension quantization error is tiny relative to
    neighbor gaps: the composed sq8_knn must recover nearly all of each
    query's true top-10 (the candidate stage passes 100 of ~500, and
    the rerank is exact — misses can only come from quantization
    reordering past rank 100)."""
    from itdb_spark.operators.similarity import brute_force_knn
    from itdb_spark.operators.sq import sq8_knn

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    brute = brute_force_knn(emb, queries, "vec_id", "embedding", k=10).collect()
    true_top, got = {}, {}
    for r in brute:
        true_top.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in sq8_knn(emb, queries, top_k=10).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(got.get(q, set()) & true_top[q]) / len(true_top[q])
        for q in sorted(true_top)
    ]
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    # and every returned cosine is the EXACT cosine (rerank contract)
    exact = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for r in sq8_knn(emb, queries, top_k=10).collect():
        if (r.query_id, r.neighbor_id) in exact:
            assert r.cosine == exact[(r.query_id, r.neighbor_id)]


def test_sq8_constant_dimension_scale_zero(spark):
    """A constant dimension (max == min) must quantize to code 0 with
    scale 0 — decode is the constant itself, not a division by zero —
    and search over such a corpus still ranks correctly."""
    from itdb_spark.operators.sq import sq8_encode, sq8_knn, sq8_stats

    rows = [
        (1, [1.0, 0.5, 0.0, 0.0]),
        (2, [0.9, 0.6, 0.0, 0.0]),
        (3, [-1.0, 0.4, 0.0, 0.0]),
        (4, [0.8, 0.55, 0.0, 0.0]),
    ]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = sq8_stats(v)
    st = stats.collect()[0]
    assert st.scales[2] == 0.0 and st.scales[3] == 0.0
    enc = {r.id: r.codes for r in sq8_encode(v, stats).collect()}
    assert all(cs[2] == 0 and cs[3] == 0 for cs in enc.values())
    got = sq8_knn(v, v.where(F.col("vec_id") == 1), top_k=2).collect()
    assert [r.neighbor_id for r in sorted(got, key=lambda r: -r.cosine)] == [2, 4]


def test_ivfpq_res_train_backends_bit_identical(spark):
    """Residual twin of test_ivfpq_train_backends_bit_identical (VERDICT
    r8 #2): train_backend="driver" — numpy Lloyd's for BOTH the coarse
    quantizer (raw-vector sample) and the residual codebooks (sample of
    ivf_residuals, the exact population train_pq(normalize=False)
    draws) — must reproduce the distributed residual trainer
    BIT-FOR-BIT at the same max_train. Guards pinned like the raw
    variant: bounded sample required, unknown backend fails loud."""
    import pytest

    from itdb_spark.operators.pq import ivfpq_residual_search

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    a = sorted(
        tuple(r)
        for r in ivfpq_residual_search(
            emb, queries, top_k=10, max_train=256, train_backend="spark"
        ).collect()
    )
    spark.catalog.clearCache()
    b = sorted(
        tuple(r)
        for r in ivfpq_residual_search(
            emb, queries, top_k=10, max_train=256, train_backend="driver"
        ).collect()
    )
    spark.catalog.clearCache()
    assert a and a == b
    with pytest.raises(ValueError, match="max_train"):
        ivfpq_residual_search(emb, queries, train_backend="driver")
    with pytest.raises(ValueError, match="train_backend"):
        ivfpq_residual_search(emb, queries, train_backend="numpy")


def test_ivfpq_res_persisted_search_prunes_partitions(spark, tmp_path):
    """The persisted residual IVF-PQ index (VERDICT r8 #2 — FAISS index
    reuse: build once, search many), proven like the plain-IVF twin:
    (a) search over the persisted index is BIT-IDENTICAL to the
    in-session search over the same components (parquet round-trips
    doubles and int codes exactly), and (b) the probed-cell IN-filter
    reaches the cell-partitioned CODE scan as PartitionFilters and
    only probed cells' files are read — the ADC scan costs
    |probed|/|cells| of the index at any scale."""
    import re as _re

    from itdb_spark.operators.ivf import _probe_cells as _probe_cells_scored
    from itdb_spark.operators.pq import _adc_stages as _res_adc_stages
    from itdb_spark.operators.pq import (
        _probe_dim,
        build_ivfpq_res_index,
        ivfpq_res_search_persisted,
        persist_ivfpq_res_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    coded, centroids, anchors, codebooks = build_ivfpq_res_index(emb)
    path = str(tmp_path / "ivfpq_res_index")
    persist_ivfpq_res_index(coded, centroids, anchors, codebooks, path)

    dim = _probe_dim(emb, "embedding")
    probed = _probe_cells_scored(queries, centroids, "vec_id", "embedding", 5)
    in_mem = sorted(
        tuple(r)
        for r in _res_adc_stages(
            coded, probed.select("query_id", "centroid_id"), anchors,
            codebooks, emb, queries, "vec_id", "embedding", 16, dim, 100, 10,
        ).collect()
    )
    spark.catalog.clearCache()
    persisted = sorted(
        tuple(r)
        for r in ivfpq_res_search_persisted(
            spark, path, emb, queries, top_k=10
        ).collect()
    )
    assert persisted and persisted == in_mem

    # pruning proof with a single query at n_probe=2 so some of the 8
    # cells are guaranteed unprobed
    one_q = emb.where(F.col("vec_id") == 0)
    one_df = ivfpq_res_search_persisted(spark, path, emb, one_q, n_probe=2)
    one_df.collect()
    plan = one_df._jdf.queryExecution().executedPlan().toString()
    pfs = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("centroid_id" in pf and " IN " in pf for pf in pfs), plan
    from itdb_spark.sinks.versioned import read_current_chain

    idx = read_current_chain(spark, f"{path}/codes")
    all_cells = {
        int(r.centroid_id)
        for r in idx.select("centroid_id").distinct().collect()
    }
    probed_cells = {
        int(r.centroid_id)
        for r in _probe_cells_scored(one_q, centroids, "vec_id", "embedding", 2)
        .select("centroid_id").distinct().collect()
    }
    assert len(probed_cells) == 2 and probed_cells < all_cells
    pruned_read = idx.where(F.col("centroid_id").isin(sorted(probed_cells)))
    files = {
        r.f
        for r in pruned_read.select(F.input_file_name().alias("f"))
        .distinct().collect()
    }
    assert files
    allowed_dirs = tuple(f"/centroid_id={c}/" for c in probed_cells)
    for f in files:
        assert any(a in f for a in allowed_dirs), f


def _oversized_model(spark, key: str, vec: str):
    """A table one row past the model-row bound: ``key`` runs 0..bound
    and every ``vec`` is the same 2-d vector."""
    from itdb_spark.plans.library import MODEL_ROWS_MAX

    return spark.range(MODEL_ROWS_MAX + 1).select(
        F.col("id").alias(key), F.array(F.lit(1.0), F.lit(0.0)).alias(vec)
    )


def _two_vectors(spark):
    return spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>")


def test_ivf_oversized_centroid_table_raises(spark):
    """A centroid table larger than the model-row bound is refused before
    it is collected to the driver, naming the table and the bound."""
    from itdb_spark.operators.ivf import ivf_assign_incremental
    from itdb_spark.plans.library import MODEL_ROWS_MAX

    cents = _oversized_model(spark, "centroid_id", "cvec")
    with pytest.raises(ValueError, match=f"centroid table has more than {MODEL_ROWS_MAX} rows"):
        ivf_assign_incremental(_two_vectors(spark), cents)


def test_pq_missized_codebook_raises(spark):
    """A codebook with more entries than the model-row bound (one sub,
    bound + 1 codes) is refused before it is collected to the driver."""
    from itdb_spark.operators.pq import pq_encode
    from itdb_spark.plans.library import MODEL_ROWS_MAX

    cb = _oversized_model(spark, "code", "cvec").select(F.lit(0).alias("sub"), "code", "cvec")
    with pytest.raises(ValueError, match=f"codebook has more than {MODEL_ROWS_MAX} rows"):
        pq_encode(_two_vectors(spark), cb, dim=2, m=1)
