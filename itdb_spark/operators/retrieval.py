"""Lexical retrieval: BM25 scoring and top-k search over a tokenized corpus.

The Okapi BM25 ranking function (Robertson & Spärck Jones / the TREC-3
formulation) — the lexical counterpart of operators/similarity.py's
embedding k-NN, and the retrieval stage a training-data pipeline uses for
benchmark decontamination (rank training docs against eval queries) and
retrieval-based quality filtering. Extends the reference's text-match
surface (itunesdb.py track-name LIKE/regex filters) to ranked full-text
search.

Scale design:

* The corpus is tokenized and exploded exactly ONCE (the tf groupBy);
  document length is a per-row expression and the query-term set
  tokenizes only the query docs (query_ids joins the corpus BEFORE any
  explode).
* Query terms BROADCAST (query sets are tiny against a 100 TB corpus —
  brute_force_knn's query-side discipline), and they broadcast TWICE in
  different roles: first the distinct TERM set semi-prunes the tf table,
  then the (query, term) pairs attach query ids to the survivors.
* Document frequency needs no vocabulary-wide aggregate or join: after
  the term-set prune, a COUNT window partitioned by term over the pruned
  tf table IS df (tf is distinct on (doc, term), and pruning by term
  keeps every doc containing a surviving term) — the same
  share-the-exchange trick minhash's hot-bucket cap uses. The
  vocabulary-keyed shuffle carries only tf rows whose term occurs in
  some query, a massive prune at corpus scale.
* Per-term contributions are rounded to integer MICRO-units before the
  per-(query, doc) sum, so the aggregation is exact integer arithmetic —
  associative and commutative — and the result hash cannot depend on
  Spark's partial-aggregation order (a raw double sum over terms would).
* Top-k per query is a rank window with a full deterministic tie-break
  (score desc, doc id asc); Spark rewrites the rn <= k filter into
  WindowGroupLimit, so each partition keeps k rows before the single
  per-query-group exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Okapi BM25 defaults (the Robertson et al. TREC-3 values).
BM25_K1 = 1.2
BM25_B = 0.75


def _tok_array(lt: Column) -> Column:
    """Whitespace tokens of an already-lowercased/trimmed string, with
    empty tokens removed. Java's split keeps the empty strings that
    leading/trailing non-space whitespace produces (trim strips only
    spaces, so 'a b\\n' would otherwise yield ['a','b','']) — array_remove
    drops them, which also maps whitespace-only text to ZERO tokens with
    no special-case guard."""
    return F.array_remove(F.split(lt, r"\s+"), "")


def bm25_scores(
    tf: DataFrame,
    dl: DataFrame,
    query_terms: DataFrame,
    n_docs_avgdl: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-(query, doc) BM25 scores in integer micro-units.

    Inputs: ``tf(doc_id, w, tf)`` (distinct on (doc_id, w)),
    ``dl(doc_id, dl)``, ``query_terms(query_id, w)`` (small — broadcast),
    and a ONE-ROW ``n_docs_avgdl(n, avgdl)`` aggregate (arrives as a
    broadcast, never an eager driver-side count job). Document frequency
    is derived internally: the distinct query-term set semi-prunes tf,
    then a count window over the pruned table's term key is exactly df
    for every surviving term. Returns (query_id, neighbor_id,
    score_micros) with score_micros = Σ_terms round(idf · tf_component ·
    1e6) — exact BIGINT summation, so the hash is order-independent.

    idf uses the +1 ("Lucene") smoothing — ln(1 + (N - df + ½)/(df + ½)) —
    which keeps every contribution positive (the raw Robertson idf goes
    negative for df > N/2 stopwords, letting a match LOWER a score).
    """
    terms = query_terms.select("w").distinct()
    pruned = tf.join(F.broadcast(terms), "w")
    with_df = pruned.withColumn(
        "df", F.count("*").over(Window.partitionBy("w")).cast("long")
    )
    matched = (
        with_df.join(F.broadcast(query_terms), "w")
        .where(F.col("doc_id") != F.col("query_id"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_docs_avgdl))
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfc = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    contrib = F.round(idf * tfc * F.lit(1000000.0)).cast("long")
    return (
        matched.select("query_id", F.col("doc_id").alias("neighbor_id"), contrib.alias("c"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("c").cast("long").alias("score_micros"))
    )


def bm25_topk(
    docs: DataFrame,
    query_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 search: each query doc's distinct terms rank every other
    corpus doc. ``query_ids`` is a one-column frame of ``id_col`` values
    (small — both it and the derived term set broadcast).

    Tokenization is lowercase-whitespace with empty tokens removed
    (functions/text.py::tokens semantics: empty/whitespace text → zero
    tokens, counted in N and avgdl with dl = 0 but emitting no term
    rows).
    """
    lt = docs.select(
        F.col(id_col).alias("doc_id"), F.lower(F.trim(F.col(text_col))).alias("lt")
    )
    toks = lt.where(F.length("lt") > 0).select(
        "doc_id", F.explode(_tok_array(F.col("lt"))).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").cast("long").alias("tf"))
    dl = lt.select("doc_id", F.size(_tok_array(F.col("lt"))).cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    qterms = (
        lt.join(F.broadcast(query_ids.select(F.col(id_col).alias("doc_id"))), "doc_id")
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(_tok_array(F.col("lt"))).alias("w"),
        )
        .distinct()
    )
    scored = bm25_scores(tf, dl, qterms, stats, k1=k1, b=b)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micros"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "score_micros")
    )


def bm25_replay_ctes(n_queries: int) -> str:
    """The BM25 scoring replay as a DuckDB CTE block (``base`` →
    ``contrib``): tokenization, tf/dl/df/stats, the query-term prune,
    and the integer micro-unit per-term contributions. THE one place
    the lexical replay lives — the sim-bm25 registry oracle and the
    sim-hybrid-rrf oracle both render from it (code review: the block
    was previously duplicated, so a smoothing/tokenization fix could
    silently fork the two graded definitions). Rendered text is
    byte-identical to the sim-bm25 oracle the driver graded in round 5
    (asserted by tests/test_operators.py::
    test_shared_oracle_builders_preserve_graded_text)."""
    return f"""base AS (SELECT doc_id, lower(trim(text)) AS lt FROM documents),
    toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lt, '\\s+')) AS w
        FROM base WHERE len(lt) > 0
      ) WHERE w != ''
    ),
    tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dl AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lt, '\\s+'),
                                  x -> x != '')) AS BIGINT) AS dl
      FROM base
    ),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
    df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    q AS (SELECT DISTINCT doc_id AS query_id, w FROM toks WHERE doc_id < {n_queries}),
    contrib AS (
      SELECT q.query_id, tf.doc_id,
             CAST(round(
               ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))
               * 1000000.0) AS BIGINT) AS c
      FROM tf JOIN q ON tf.w = q.w
      JOIN df ON tf.w = df.w
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      WHERE tf.doc_id != q.query_id
    )"""


def rrf_fuse(
    ranked: list[DataFrame],
    k_rrf: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    over N ranked lists: rrf(d) = Σ_systems 1/(k + rank_s(d)), the
    standard hybrid-retrieval combiner (lexical BM25 + dense ANN in every
    RAG stack). Inputs are (query_id, neighbor_id, rank) frames with
    1-based ranks; a document absent from a system contributes nothing
    from that system.

    Scale shape: each input is already a bounded per-query top-N list
    (|queries|·N rows, never corpus-sized), so fusion is one unionByName
    plus ONE map-side-combined groupBy — no join back to the corpus.
    Contributions are exact integer floor-divisions in micro-units
    (1000000 div (k + rank)), so the sum is associative BIGINT arithmetic
    and the result hash cannot depend on partial-aggregation order — and
    a DuckDB oracle reproduces it bit-for-bit with `//`.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked input")
    allr = ranked[0].select("query_id", "neighbor_id", "rank")
    for nxt in ranked[1:]:
        allr = allr.unionByName(nxt.select("query_id", "neighbor_id", "rank"))
    fused = (
        allr.select(
            "query_id", "neighbor_id",
            F.expr(f"1000000 div ({k_rrf} + rank)").cast("long").alias("c"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("c").cast("long").alias("rrf_micros"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micros"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_k)
        .select("query_id", "neighbor_id", "rrf_micros")
    )


def hybrid_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    depth: int = 20,
    k_rrf: int = 60,
    top_k: int = 10,
    dense_stage: str = "brute",
    dim: int | None = None,
) -> DataFrame:
    """Hybrid retrieval: BM25 over the text corpus + dense cosine over the
    parallel embedding table (ids aligned), fused by RRF. The lexical
    rank orders by exact BIGINT score_micros; the dense rank orders by
    the 6-dp-rounded cosine — both fully tie-broken by neighbor id, so
    ranks (and therefore the fused scores) are engine-independent.

    ``dense_stage``: "brute" (default — exact, the oracle-replayable
    registered form) or "lsh" (the deploy path: LSH-bucketed candidates
    instead of the corpus-wide cross product — same shape as every
    deploy twin in this package, trading a little dense recall for a
    bounded-shuffle stage 1; fusion is identical either way). At 100 TB
    the two stage-1 lists come from the scale paths (BM25's
    pruned-postings plan, LSH/IVF dense); the fusion stage is rank-only
    and never touches the corpus again.
    """
    from itdb_spark.operators.similarity import brute_force_knn, lsh_knn

    lex = bm25_topk(docs, query_ids, id_col, text_col, k=depth)
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("score_micros"), F.asc("neighbor_id")
    )
    lex_ranked = lex.select(
        "query_id", "neighbor_id", F.row_number().over(wl).alias("rank")
    )
    qvecs = embeddings.join(
        F.broadcast(query_ids.select(F.col(id_col).alias(vec_id_col))),
        vec_id_col,
    )
    if dense_stage == "brute":
        dense = brute_force_knn(embeddings, qvecs, vec_id_col, vec_col, k=depth)
    elif dense_stage == "lsh":
        # LSH signatures are dimension-sensitive: probe the corpus when
        # the caller doesn't pass dim (code review: the lsh_knn default
        # of 64 silently hashed only a 64-dim prefix of wider vectors)
        if dim is None:
            from itdb_spark.operators.pq import _probe_dim

            dim = _probe_dim(embeddings, vec_col)
        dense = lsh_knn(
            embeddings.sparkSession, embeddings, qvecs, vec_id_col, vec_col,
            k=depth, dim=dim,
        )
    else:
        raise ValueError(f"dense_stage must be brute|lsh, got {dense_stage!r}")
    wd = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    dense_ranked = dense.select(
        "query_id", "neighbor_id", F.row_number().over(wd).alias("rank")
    )
    return rrf_fuse([lex_ranked, dense_ranked], k_rrf=k_rrf, top_k=top_k)


def hybrid_rrf_oracle_sql(
    n_queries: int = 3,
    depth: int = 20,
    k_rrf: int = 60,
    top_k: int = 10,
) -> str:
    """DuckDB twin of hybrid_rrf over the documents + embeddings tables —
    the REGISTERED sim-hybrid-rrf oracle (queries/pipeline.py).
    Lexical CTEs render from the SHARED bm25_replay_ctes (the same
    block the sim-bm25 registry oracle renders — one replay, two
    graded consumers); dense CTEs mirror _KNN_ORACLE (membership by raw
    cosine, rank by the 6-dp round); fusion is exact integer `//`."""
    return "\n    WITH " + bm25_replay_ctes(n_queries) + f""",
    lex_sc AS (
      SELECT query_id, doc_id AS neighbor_id,
             CAST(sum(c) AS BIGINT) AS score_micros
      FROM contrib GROUP BY 1, 2
    ),
    lex_rank AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY score_micros DESC, neighbor_id) AS rank
      FROM lex_sc
      QUALIFY rank <= {depth}
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    qv AS (SELECT vec_id AS query_id, vec AS qvec FROM v
           WHERE vec_id < {n_queries}),
    dense_sc AS (
      SELECT qv.query_id, v.vec_id AS neighbor_id,
             list_dot_product(qv.qvec, v.vec)
               / (sqrt(list_dot_product(qv.qvec, qv.qvec))
                  * sqrt(list_dot_product(v.vec, v.vec))) AS cos_raw
      FROM v, qv WHERE v.vec_id != qv.query_id
    ),
    dense_top AS (
      SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine FROM (
        SELECT query_id, neighbor_id, cos_raw,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id) AS rn
        FROM dense_sc) WHERE rn <= {depth}
    ),
    dense_rank AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM dense_top
    ),
    fused AS (
      SELECT query_id, neighbor_id,
             CAST(sum(1000000 // ({k_rrf} + rank)) AS BIGINT) AS rrf_micros
      FROM (SELECT * FROM lex_rank UNION ALL SELECT * FROM dense_rank)
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rrf_micros FROM (
      SELECT query_id, neighbor_id, rrf_micros,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_micros DESC, neighbor_id) AS rn
      FROM fused) WHERE rn <= {top_k}
    """


# DCG position weights in integer micro-units: W[i-1] = round(1e6 /
# log2(i + 1)). Computed ONCE here and embedded as literals into both
# the Spark plan and the generated DuckDB oracle, so the two engines
# cannot disagree even at the libm level — the whole eval is then exact
# BIGINT arithmetic end to end.
import math as _math

DCG_W_MICROS: tuple[int, ...] = tuple(
    int(_math.floor(1_000_000 / _math.log2(i + 1) + 0.5)) for i in range(1, 21)
)


def retrieval_eval(
    predicted: DataFrame,
    truth: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Per-query retrieval quality of a ranked run against a relevant set:
    (query_id, n_hits, mrr_micros, ndcg_micros) — the metrics a pipeline
    team watches when tuning an ANN operating point (recall = n_hits/k,
    MRR = 1/rank of the first relevant hit, binary-relevance NDCG@k).

    ``predicted`` is (query_id, neighbor_id, rank) with 1-based ranks
    (ranks > k are ignored); ``truth`` is (query_id, neighbor_id) — the
    ground-truth relevant set (e.g. brute-force top-k). Queries present
    in ``truth`` but with NO predictions still emit a row of zeros (an
    ANN whose buckets miss a query entirely must show up as 0, not
    vanish).

    Exactness: MRR is 1000000 div rank; DCG uses the precomputed
    DCG_W_MICROS integer weights; NDCG is dcg·1000000 div idcg — all
    associative BIGINT arithmetic, hash-stable under any partial-agg
    order, bit-reproducible by the DuckDB twin."""
    if not 0 < k <= len(DCG_W_MICROS):
        # silent truncation would compute DCG over fewer positions than
        # asked (and element_at past the array returns NULL) — fail loud
        raise ValueError(f"k must be in 1..{len(DCG_W_MICROS)}, got {k}")
    weights = DCG_W_MICROS[:k]
    idcg = sum(weights)
    warr = F.array(*[F.lit(w).cast("long") for w in weights])
    marked = predicted.where(F.col("rank") <= k).join(
        truth.select("query_id", "neighbor_id", F.lit(1).alias("rel")),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_q = marked.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("rel"), F.lit(0))).cast("long").alias("n_hits"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
        F.sum(
            F.when(F.col("rel") == 1, F.element_at(warr, F.col("rank")))
            .otherwise(F.lit(0))
        ).cast("long").alias("dcg"),
    )
    qids = truth.select("query_id").distinct()
    return qids.join(per_q, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce(F.expr("1000000 div first_rel"), F.lit(0))
        .cast("long").alias("mrr_micros"),
        F.coalesce(F.expr(f"dcg * 1000000 div {idcg}"), F.lit(0))
        .cast("long").alias("ndcg_micros"),
    )


def eval_lsh_retrieval(
    spark,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 5,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Measured operating point of the LSH ANN as a QUERY: per-query
    n_hits / MRR / NDCG@k of lsh_knn against brute-force ground truth —
    the retrieval twin of pipe-dedup-eval (which measures the LSH dedup
    recall/precision point). Registration-ready for a round-7
    eval-retrieval registry entry with eval_lsh_retrieval_oracle_sql as
    its DuckDB twin.

    Both stage-1 runs select membership on raw cosine (the proven
    cross-engine discipline of sim-knn-lsh/_KNN_ORACLE); the predicted
    rank orders by the 6-dp-rounded cosine with a full neighbor-id
    tie-break, so ranks — and every metric — are engine-independent."""
    from itdb_spark.operators.similarity import brute_force_knn, lsh_knn

    queries = vectors.where(F.col(id_col) < n_queries)
    truth = brute_force_knn(vectors, queries, id_col, vec_col, k=k).select(
        "query_id", "neighbor_id"
    )
    pred = lsh_knn(spark, vectors, queries, id_col, vec_col, k=k, dim=dim)
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    pred_ranked = pred.select(
        "query_id", "neighbor_id", F.row_number().over(wp).alias("rank")
    )
    return retrieval_eval(pred_ranked, truth, k=k)


def eval_lsh_retrieval_oracle_sql(n_queries: int = 5, k: int = 10) -> str:
    """DuckDB twin of eval_lsh_retrieval: replays the LSH chain via the
    SHARED lsh_candidate_ctes (the same block the sim-knn-lsh registry
    oracle renders — one replay, two graded consumers), the brute-force
    truth (_KNN_ORACLE shape), and the integer-micro metric arithmetic
    with the SAME DCG_W_MICROS literals the Spark plan embeds."""
    if not 0 < k <= len(DCG_W_MICROS):
        raise ValueError(f"k must be in 1..{len(DCG_W_MICROS)}, got {k}")
    from itdb_spark.operators.similarity import lsh_candidate_ctes

    weights = DCG_W_MICROS[:k]
    idcg = sum(weights)
    wvals = ", ".join(f"({i + 1}, {w})" for i, w in enumerate(weights))
    return "\n    WITH " + lsh_candidate_ctes(n_queries) + f""",
    lsh_scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_dot_product(a.vec, b.vec)
               / (sqrt(list_dot_product(a.vec, a.vec))
                  * sqrt(list_dot_product(b.vec, b.vec))) AS cos_raw
      FROM cand c
      JOIN v a ON a.vec_id = c.query_id
      JOIN v b ON b.vec_id = c.neighbor_id
    ),
    pred_top AS (
      SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine FROM (
        SELECT query_id, neighbor_id, cos_raw,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id) AS rn
        FROM lsh_scored) WHERE rn <= {k}
    ),
    pred AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM pred_top
    ),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
          WHERE vec_id < {n_queries}),
    brute_scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             list_dot_product(q.qvec, v.vec)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(v.vec, v.vec))) AS cos_raw
      FROM v, q WHERE v.vec_id != q.query_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id) AS rn
        FROM brute_scored) WHERE rn <= {k}
    ),
    w(rank, micros) AS (VALUES {wvals}),
    marked AS (
      SELECT p.query_id, p.rank,
             CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM pred p
      LEFT JOIN truth t
        ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
      WHERE p.rank <= {k}
    ),
    per_q AS (
      SELECT m.query_id,
             CAST(sum(m.rel) AS BIGINT) AS n_hits,
             min(CASE WHEN m.rel = 1 THEN m.rank END) AS first_rel,
             CAST(sum(CASE WHEN m.rel = 1 THEN w.micros ELSE 0 END)
                  AS BIGINT) AS dcg
      FROM marked m JOIN w ON w.rank = m.rank
      GROUP BY 1
    )
    SELECT q.query_id,
           CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(1000000 // p.first_rel, 0) AS BIGINT) AS mrr_micros,
           CAST(coalesce(p.dcg * 1000000 // {idcg}, 0) AS BIGINT)
             AS ndcg_micros
    FROM (SELECT DISTINCT query_id FROM truth) q
    LEFT JOIN per_q p ON p.query_id = q.query_id
    """
