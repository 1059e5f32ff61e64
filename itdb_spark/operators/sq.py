"""Scalar quantization (SQ8) — the cheap tier of the embedding
compression family (hyperplane-LSH → IVF → PQ → SQ): each dimension of
the L2-normalized vector quantizes independently to an 8-bit code
against per-dimension [min, max] bounds learned in ONE aggregation pass
over the corpus. 64 float64 dims → 64 bytes (8× compression) with no
iterative training at all — the FAISS ``SQ8`` / Lucene
``int8HnswVectorsFormat`` shape production stores reach for before PQ's
codebooks are worth their training cost.

Why it earns a place next to PQ at 100 TB: the quantizer state is two
64-float arrays (mins, scales) — mergeable by min/max across shards,
broadcastable for free, and append-only ingest never needs retraining
(new vectors clamp into the existing range). Search decompresses
NOTHING: dot(q̂, x̃) = Σ q̂ⱼ·mnⱼ + Σ cⱼ·(q̂ⱼ·sⱼ) — the first term is one
per-query scalar, the second a fold of the code array against a
per-query premultiplied array, so the scan reads 64 bytes per vector
and runs entirely in JVM higher-order functions (zero Python, zero
explode). An exact rerank over the surviving candidates recovers true
cosine order, same two-stage contract as PQ.

Determinism (what makes the DuckDB oracle hash-exact): the bounds are
min/max SELECTIONS (no summation — bit-identical cross-engine), the
code is single-IEEE-op arithmetic ``floor((x−mn)/s + 0.5)`` (explicit
half-up — Spark round() and DuckDB round() disagree on ties), and the
approximate score is rounded to 6 dp before the candidate cut with a
full neighbor-id tie-break — the proven ADC discipline
(operators/pq.py).

Reference parity note: like PQ/IVF, no counterpart exists in
arkarkark/itdb (no vector ops there at all); this is part of the
LLM-pipeline extension surface (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itdb_spark.operators.ivf import _top_n
from itdb_spark.operators.pq import _normalize, pq_rerank


def sq8_stats(vectors: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """One-row (mins array<double>, scales array<double>): per-dimension
    min and (max−min)/255 over the L2-normalized live corpus — the
    entire quantizer state, learned in one pass. A constant dimension
    (max == min) gets scale 0 and every code 0 (decode = the constant).
    Mergeable across shards: min of mins / max of maxes."""
    xn = _normalize(vectors, id_col, vec_col)
    return (
        xn.select(F.posexplode("vec").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("pm"))
        .select(
            F.transform("pm", lambda s: s.getField("mn")).alias("mins"),
            F.transform(
                "pm", lambda s: (s.getField("mx") - s.getField("mn")) / 255.0
            ).alias("scales"),
        )
    )


def sq8_encode(vectors: DataFrame, stats: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, codes array<int>): each normalized dimension half-up-rounded
    to its 8-bit level, clamped to [0, 255] (in-range corpus values
    never clamp — the bounds came from this population — but
    incrementally ingested out-of-range vectors do, instead of
    overflowing). All single-IEEE-op arithmetic, bit-identical in any
    engine."""
    xn = _normalize(vectors, id_col, vec_col)
    diff = F.zip_with("vec", "mins", lambda x, mn: x - mn)
    code = F.zip_with(
        diff,
        F.col("scales"),
        lambda d, s: F.when(
            s > 0.0,
            F.least(
                F.lit(255.0), F.greatest(F.lit(0.0), F.floor(d / s + F.lit(0.5)))
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    return xn.crossJoin(F.broadcast(stats)).select("id", code.alias("codes"))


def sq8_search(
    encoded: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: int = 100,
) -> DataFrame:
    """(query_id, neighbor_id) candidate set: top-``candidates`` per
    query by the dequantized dot dot(q̂, x̃) = Σq̂ⱼmnⱼ + Σcⱼ(q̂ⱼsⱼ). The
    per-query scalar ``qmin`` and premultiplied array ``qs`` are built
    once against the one-row stats and broadcast, so each corpus row
    costs one 64-element integer-weighted fold — JVM higher-order
    functions on the 64-byte code payload, no decode, no explode."""
    qn = _normalize(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    qtab = qn.crossJoin(F.broadcast(stats)).select(
        "query_id",
        F.aggregate(
            F.zip_with("qvec", "mins", lambda q, mn: q * mn),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("qmin"),
        F.zip_with("qvec", "scales", lambda q, s: q * s).alias("qs"),
    )
    score = F.round(
        F.col("qmin")
        + F.aggregate(
            F.zip_with("codes", "qs", lambda c, y: c * y),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    ).alias("sq_score")
    scored = (
        encoded.crossJoin(F.broadcast(qtab))
        .where(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"), score)
    )
    return _top_n(scored, candidates, "sq_score").select("query_id", "neighbor_id")


def sq8_knn(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 10,
    candidates: int = 100,
) -> DataFrame:
    """Composed two-stage SQ8 pipeline: one-pass bounds → 8-bit encode →
    dequantized-dot candidate scan → exact rerank. Returns (query_id,
    neighbor_id, cosine) like the other sim-knn-* operators."""
    stats = sq8_stats(vectors, id_col, vec_col)
    encoded = sq8_encode(vectors, stats, id_col, vec_col)
    cand = sq8_search(encoded, stats, queries, id_col, vec_col, candidates)
    return pq_rerank(cand, vectors, queries, id_col, vec_col, top_k=top_k)


def sq8_oracle_sql(
    dim: int = 64, n_queries: int = 5, candidates: int = 100, top_k: int = 10
) -> str:
    """DuckDB twin of sq8_knn in ROW form (pos rows instead of arrays):
    the same normalized corpus CTE as PQ's oracle, per-dimension
    min/max bounds, the identical half-up code arithmetic, the
    dequantized-dot candidate cut at round(·, 6) with neighbor-id
    tie-break, and the exact-cosine rerank. Bounds are min/max
    selections and codes single-IEEE-op expressions, so the only
    cross-engine freedom is the score's float summation order —
    absorbed by the 6-dp round exactly as the ADC oracles absorb it."""
    from itdb_spark.operators.pq import pq_norm_cte

    # rerank on RAW vectors with the proven cosine formula — exactly
    # what pq_rerank computes Spark-side (cosine_pandas on raw casts)
    cos = (
        "list_dot_product(q.qvec,w.vec)/(sqrt(list_dot_product(q.qvec,q.qvec))"
        "*sqrt(list_dot_product(w.vec,w.vec)))"
    )
    return f"""WITH {pq_norm_cte(name="sqn")},
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    sqstat AS (SELECT r.i AS pos, min(vec[r.i + 1]) AS mn,
                      (max(vec[r.i + 1]) - min(vec[r.i + 1])) / 255.0 AS s
               FROM sqn, range(0, {dim}) r(i) GROUP BY 1),
    sqcode AS MATERIALIZED (SELECT n.vec_id, t.pos,
               CASE WHEN t.s > 0
                    THEN CAST(least(255.0, greatest(0.0,
                         floor((n.vec[t.pos + 1] - t.mn) / t.s + 0.5))) AS INT)
                    ELSE 0 END AS c
        FROM sqn n, sqstat t),
    qn AS (SELECT vec_id AS query_id, vec FROM sqn
           WHERE vec_id < {n_queries}),
    qtab AS (SELECT q.query_id, t.pos, q.vec[t.pos + 1] * t.mn AS qmn,
                    q.vec[t.pos + 1] * t.s AS qs
             FROM qn q, sqstat t),
    scored AS (SELECT t.query_id, c.vec_id AS neighbor_id,
                      round(sum(t.qmn + c.c * t.qs), 6) AS sq_score
               FROM sqcode c JOIN qtab t ON t.pos = c.pos
               WHERE c.vec_id != t.query_id
               GROUP BY 1, 2),
    cand AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY sq_score DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= {candidates}),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
          WHERE vec_id < {n_queries}),
    rr AS (SELECT c.query_id, c.neighbor_id,
                  round({cos}, 6) AS cosine
           FROM cand c
           JOIN q ON q.query_id = c.query_id
           JOIN v w ON w.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rn
      FROM rr) WHERE rn <= {top_k}"""
