"""Product quantization (PQ) — the memory-compression ANN tier next to
hyperplane-LSH (operators/similarity.py) and IVF (operators/ivf.py).

Why it exists at 100 TB: 10⁹ embeddings × 64 float64 dims ≈ 0.5 TB of
vector payload that brute/LSH/IVF all eventually read. PQ splits each
vector into ``m`` subvectors, k-means-quantizes each subspace to ``k``
codes, and stores only the m code ids — 64 dims × 8 B → 8 × 1 B here, a
**64× compression** — while search runs against the codes via
asymmetric distance computation (ADC): the query stays exact, each
corpus vector's contribution is looked up from a per-query
(m × k) inner-product table. Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 (public).

Spark-first shape:

* **Training** runs ALL m subspaces in one Lloyd's loop: vectors explode
  once into (id, sub, svec) rows, assignment is a broadcast join against
  the m·k centroid rows (m·k is tiny by construction), the update is one
  groupBy per iteration — the same one-broadcast-one-groupBy round as
  IVF's coarse quantizer, lineage-truncated per round.
* **Encoding** is the final assignment grouped back to one
  ``codes array<int>`` of length m per vector.
* **Search (ADC)** never explodes the corpus: the per-query table is
  built distributively (queries × centroids broadcast join → one nested
  ``array<array<double>>`` per query), broadcast back, and each corpus
  row's approximate dot product is a HOF fold of m ``element_at``
  lookups over its code array — one corpus scan, zero shuffles before
  the per-query top-k window (WindowGroupLimit prunes before the
  exchange like every other top-k in this package).

Cosine semantics: inputs are L2-normalized up front (``_normalize``), so
dot product IS cosine and the ADC sum approximates it directly.

Determinism (the property every gate in this repo leans on): initial
codes per subspace are the k subvectors with the smallest portable hash
of the owning id; assignment ties break by code id — same discipline as
IVF, so a DuckDB oracle can unroll the iterations if/when the query
registers.

The IVF-PQ heads (raw and residual, in-session and persisted) share one
serving spine: operators/ivf.py's probe (``_probe_cells``), probed-cell
restriction (``_in_probed_cells``) and per-query ranking (``_top_n``),
then ``_adc_stages`` here (optional residual base term → ADC over the
probed cells' codes → candidate cut → exact ``pq_rerank``). Their
training goes through ``_coarse_quantizer`` and, for the numpy deploy
backend, ``_train_pq_driver``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from itdb_spark.functions.core import bind_once, hash_ranked_sample, portable_hash64
from itdb_spark.operators.ivf import (
    _assign as _ivf_assign,
    _in_probed_cells,
    _probe_cells,
    _top_n,
    build_ivf_index,
)
from itdb_spark.plans.library import collect_model, invalidate_pinned_schemas, model_df
from itdb_spark.plans.library import read_parquet_pinned as _read_pinned
from itdb_spark.plans.library import truncate_lineage
from itdb_spark.sinks.versioned import read_current_chain, write_version

# Per-process (m, dim) memo per persisted-index path — index constants
# read once per process like a server loading its index parameters
# (see ivfpq_res_search_persisted). Holds two ints, never data. Keyed
# on abspath; invalidated by persist_ivfpq_res_index so a root deleted
# and rebuilt in one process cannot serve stale m/dim (r14 ADVICE).
_INDEX_META_CACHE: dict[str, tuple[int, int]] = {}


def _normalize(
    vectors: DataFrame, id_col: str, vec_col: str, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(id, vec) with vec L2-normalized (dot ≡ cosine afterwards); zero
    vectors (dead embeddings — they exist in every real corpus) keep a
    NULL vec via try_divide and drop out of training and search.

    The norm is bound ONCE per row via ``bind_once`` (r14): referenced
    directly inside the division lambda it would be re-evaluated per
    element — an O(d) fold per component, O(d²) per row at d=64
    (interleaved A/B: sim-knn-pq 0.69×, sim-knn-ivfpq 0.84× end-to-end
    at sf0.1 — OPTIMIZATION_r14.md)."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return vectors.select(
        F.col(id_col).alias("id"),
        bind_once(
            norm, lambda nrm: F.transform(v, lambda x: F.try_divide(x, nrm))
        ).alias("vec"),
        *[F.col(c) for c in extra],
    ).where(F.col("vec")[0].isNotNull())


def _subvectors(norm: DataFrame, m: int, sub_dim: int) -> DataFrame:
    """(id, sub, svec): one row per subspace — the ONE explode in the
    training path (never used at search time)."""
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            F.slice("vec", s * sub_dim + 1, sub_dim).alias("svec"),
        )
        for s in range(m)
    ])
    return norm.select("id", F.explode(subs).alias("x")).select(
        "id", F.col("x.sub").alias("sub"), F.col("x.svec").alias("svec")
    )


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _probe_dim(vectors: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first non-NULL vector — one job,
    called once per public entry point (composed pipelines pass ``dim``
    through instead of re-probing). Fails with a real message on an
    empty frame or all-NULL column instead of a TypeError."""
    row = (
        vectors.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    if row is None:
        raise ValueError(
            f"cannot infer embedding dim: no non-NULL {vec_col!r} rows"
        )
    return row["d"]


def _query_adc_tables(
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    dim: int,
) -> DataFrame:
    """(query_id, tbl map<int, map<int, double>>): tbl[sub][code] =
    dot(q_sub, centroid) — the per-query ADC lookup table, built
    distributively (queries × the tiny m·k centroid set) then broadcast
    by the caller. Keyed by CODE, not position: Lloyd's keeps every code
    id live (empty clusters retain their previous centroid, below), but
    the map lookup stays correct for ANY codebook — including a merged
    or externally-trained one with holes in the id space — where a
    positional ``element_at(row, code+1)`` would silently shift every
    lookup past a gap (caught by code review)."""
    qsubs = _subvectors(_normalize(queries, id_col, vec_col), m, dim // m)
    ip = qsubs.join(F.broadcast(codebooks), "sub").select(
        F.col("id").alias("query_id"), "sub", "code",
        F.aggregate(
            F.zip_with("svec", "cvec", lambda x, y: x * y),
            F.lit(0.0), lambda a, x: a + x,
        ).alias("ip"),
    )
    return (
        ip.groupBy("query_id", "sub")
        .agg(F.map_from_entries(F.collect_list(F.struct("code", "ip"))).alias("row"))
        .groupBy("query_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("sub", "row"))).alias("tbl"))
    )


def _adc_score(m: int, base=None):
    """Approximate cosine of one corpus row: fold of m code-keyed lookups
    into the broadcast ``tbl`` — shared by pq_search and ivfpq_search so
    the scoring expression cannot drift between the two. ``base``
    (residual variant) adds the coarse term dot(q̂, ĉ(x)) — the probed
    cell's cosine — in front of the fold, since residual codes encode
    x̂ − ĉ(x) and dot(q̂, x̂) = dot(q̂, ĉ) + dot(q̂, r)."""
    fold = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, s: F.element_at(
                F.element_at("tbl", s.cast("int")), c.cast("int")
            ),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return F.round(fold if base is None else base + fold, 6).alias("adc_score")


def _assign(subvecs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(id, sub, svec, code): nearest centroid per subspace by L2
    (broadcast join over the m·k centroid rows); ties break by code.

    The argmin is a ``min_by`` aggregate, not a window: the winner is
    identical (min over the (d, code) struct IS orderBy d, code limit 1,
    and the key is unique within a group — code is distinct — so min_by
    is deterministic), but the aggregate PARTIAL-combines map-side: the
    k-fanned scored rows collapse back to one row per (id, sub) BEFORE
    the exchange, where the window form shuffled and sorted the full
    scored set (round-7 plan improvement, output bit-identical)."""
    scored = subvecs.join(F.broadcast(codebooks), "sub").select(
        "id", "sub", "svec", "code", _l2sq(F.col("svec"), F.col("cvec")).alias("d")
    )
    return (
        scored.groupBy("id", "sub")
        .agg(
            F.min_by(
                F.struct("svec", "code"), F.struct("d", "code")
            ).alias("w")
        )
        .select(
            "id", "sub",
            F.col("w.svec").alias("svec"), F.col("w.code").alias("code"),
        )
    )


def train_pq(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    dim: int | None = None,
    max_train: int | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Codebooks (sub, code, cvec): k centroids per subspace, trained by
    Lloyd's over all m subspaces in one loop. Every code id stays live:
    a cluster that loses all members in an update keeps its previous
    centroid (standard empty-cluster handling), so the codebook always
    has exactly k contiguous codes per subspace.

    ``normalize=False`` trains on the input as-is — the RESIDUAL path
    (ivfpq_residual_search): residuals x̂ − ĉ(x) are already built from
    the normalized space and must NOT be re-normalized (FAISS encodes
    raw residuals); zero-drop is also skipped — a zero residual (a
    vector that IS its cell's normalized centroid) is legitimate
    training data.

    ``max_train`` is the 100 TB lever: quantizer quality saturates with
    a bounded training sample (FAISS trains IVF/PQ codebooks on ~10⁵-10⁶
    vectors regardless of corpus size), so training cost should be
    O(sample), never O(corpus) — only ENCODING touches every vector.
    When set, training runs on the ``max_train`` vectors with the
    smallest portable hash of their id (deterministic, seedless — the
    same discipline as the init ranking), and the bounded sample makes
    caching the exploded training frame across Lloyd's iterations safe
    by construction. None trains on the full corpus (the registered
    sim-knn-pq form, so the DuckDB oracle replays without a sample
    CTE)."""
    if dim is None:
        dim = _probe_dim(vectors, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub_dim = dim // m
    train_src = (
        _normalize(vectors, id_col, vec_col)
        if normalize
        else vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
    )
    if max_train is not None:
        train_src = hash_ranked_sample(train_src, "id", max_train)
    subvecs = _subvectors(train_src, m, sub_dim)
    # With a bounded sample, one materialization feeds init + every
    # assignment round (otherwise each Lloyd's iteration replays
    # scan→normalize→explode). The cache is CONDITIONAL on max_train
    # (code review): pinning an m×corpus-rows exploded frame for the
    # full-corpus path would be exactly the memory posture the 100 TB
    # design forbids — unbounded training keeps the replay cost model.
    bounded = max_train is not None
    if bounded:
        subvecs = subvecs.cache()
    # deterministic init: per subspace, the k subvectors with smallest
    # hashed owning id, code = rank
    wi = Window.partitionBy("sub").orderBy("h", "id")
    init = (
        subvecs.withColumn("h", portable_hash64(F.col("id").cast("string")))
        .withColumn("rn", F.row_number().over(wi))
        .where(F.col("rn") <= k)
        .select("sub", (F.col("rn") - 1).cast("int").alias("code"),
                F.col("svec").alias("cvec"))
    )
    codebooks = truncate_lineage(init, eager=True)
    for _ in range(iters):
        assigned = _assign(subvecs, codebooks)
        means = (
            assigned.select("sub", "code", F.posexplode("svec").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("val").alias("mean"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
            .select(
                "sub", "code",
                F.transform("pm", lambda s: s.getField("mean")).alias("cvec"),
            )
        )
        # empty-cluster retention: codes absent from `means` (no members
        # this round — e.g. duplicate vectors collapsing onto one
        # centroid) keep their previous centroid instead of vanishing,
        # so code ids never go non-contiguous (code review: a dropped
        # code shifted every positional ADC lookup above it)
        retained = codebooks.join(
            means.select("sub", "code"), ["sub", "code"], "left_anti"
        )
        codebooks = truncate_lineage(means.unionByName(retained), eager=True)
    if bounded:
        subvecs.unpersist()
    return codebooks


def _cb_nested(codebooks: DataFrame) -> DataFrame:
    """The codebook folded to ONE row —
    (cb: array<struct<sub, entries: array<struct<code, cvec>>>>, subs
    sorted, entries sorted by code) — the broadcastable index-parameter
    row pq_encode attaches by a constant-key broadcast hash join. The
    nested data rides in a one-row LocalRelation, NOT in the expression
    tree: an inlined literal of m·k·sd doubles was measured to COST
    construction time (the analyzer re-walks every literal node on each
    downstream plan composition). The fold runs DRIVER-side over the
    collected model-sized table (a server loading its quantizer; the
    collect is job-free for driver-trained LocalRelation codebooks and
    one ~m·k-row job for distributed ones) rather than as a groupBy(),
    whose global aggregation would plant a single-partition Exchange in
    every encode plan — the scale anti-pattern the plan-audit CI gate
    forbids. Floats round-trip exactly (collect → Python float → double
    is bit-preserving)."""
    rows = collect_model(codebooks.select("sub", "code", "cvec"), "codebook")
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for r in rows:
        by_sub.setdefault(int(r.sub), []).append(
            (int(r.code), [float(x) for x in r.cvec])
        )
    cb = [
        (s, [(c, cv) for c, cv in sorted(ents)])
        for s, ents in sorted(by_sub.items())
    ]
    return model_df(
        codebooks.sparkSession,
        [(cb,)],
        "cb array<struct<sub:int,entries:array<struct<code:int,cvec:array<double>>>>>",
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    normalize: bool = True,
    carry: tuple[str, ...] = (),
    m: int | None = None,
) -> DataFrame:
    """(id, codes array<int>): the stored index — m small ints per
    vector in place of the float payload. At scale this is the ONLY
    per-vector state search reads. ``normalize=False`` encodes the
    input as-is (the residual path — see train_pq). ``carry`` names
    extra input columns threaded through the projection unchanged
    (ivfpq_search carries ``centroid_id`` so the probed-cell
    restriction joins the encode output directly — the partition-pruned
    index layout — instead of re-attaching cells by an id-keyed join of
    two corpus-scale frames).

    Encoding is ONE narrow projection over the input. The codebook is
    model-sized by construction (m·k rows — FAISS holds it in cache on
    every search node), so it folds to a one-row nested frame
    (``_cb_nested``) attached by a constant-key BROADCAST hash join;
    each row's m argmins then run as a JVM fold with byte-identical
    arithmetic to the explode → codebook join → min_by → groupBy(id)
    form (same ``_l2sq`` left fold, same min-over-(d, code) tie-break —
    array_min and min_by share the interpreted struct ordering; that
    form is the reference tests/test_wave15.py compares against). No
    m-way explode, no k-fanned scoring rows and no groupBy(id)
    exchange: encode pipelines inside the scan stage with NO shuffle at
    any scale (guide §2.3/§2.4; measured in OPTIMIZATION_r15.md). ``m``
    avoids a per-call countDistinct driver job when the caller already
    knows it (every composed pipeline does)."""
    if m is None:
        m = int(codebooks.agg(F.countDistinct("sub").alias("m")).first()["m"])
    if dim is None:
        dim = _probe_dim(vectors, vec_col)
    sd = dim // m
    # the per-row m·k·sd argmin fold is real CPU that would pin to a
    # single-row-group scan's ONE task — a conditional floor,
    # self-disabling at scale and a no-op for already-shuffled inputs
    from itdb_spark.plans.library import scan_parallelism_floor

    vectors = scan_parallelism_floor(vectors)
    src = (
        _normalize(vectors, id_col, vec_col, extra=carry)
        if normalize
        else vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            *[F.col(c) for c in carry],
        )
    )
    cbrow = _cb_nested(codebooks).withColumn("_cbk", F.lit(1))
    joined = src.withColumn("_cbk", F.lit(1)).join(F.broadcast(cbrow), "_cbk")
    # per sub: bind the svec slice once (bind_once — the HOF
    # re-evaluation hazard), then argmin over the sub's entries by the
    # (d, code) struct order
    codes = F.transform(
        F.col("cb"),
        lambda e: bind_once(
            F.slice(F.col("vec"), e.getField("sub") * sd + 1, sd),
            lambda svec: F.array_min(
                F.transform(
                    e.getField("entries"),
                    lambda ent: F.struct(
                        _l2sq(svec, ent.getField("cvec")).alias("d"),
                        ent.getField("code").alias("code"),
                    ),
                )
            ).getField("code"),
        ),
    )
    return joined.select("id", codes.alias("codes"), *carry)


def pq_search(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 10,
    dim: int | None = None,
    m: int | None = None,
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adc_score) — approximate cosine
    per (query, vector) as a HOF fold of m code-keyed table lookups over
    the code array. One corpus scan; the only exchange is the per-query
    top-k window (WindowGroupLimit pre-prunes). ``m`` skips the
    countDistinct driver job when the caller knows it."""
    if m is None:
        m = codebooks.agg(F.countDistinct("sub").alias("m")).first()["m"]
    if dim is None:
        dim = _probe_dim(queries, vec_col)
    qtables = _query_adc_tables(queries, codebooks, id_col, vec_col, m, dim)
    scored = encoded.crossJoin(F.broadcast(qtables)).where(
        F.col("id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        _adc_score(m),
    )
    return _top_n(scored, top_k, "adc_score").select(
        "query_id", "neighbor_id", "adc_score"
    )


def pq_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 10,
) -> DataFrame:
    """Stage 2 of the production pipeline: exact cosine over the PQ
    candidate set only — |candidates| distance computations instead of
    corpus-wide, with PQ's measured operating point (m=16, k=16 on the
    synthetic 64-dim corpus: 32× compression, 0.96 candidate-recall@50,
    see test_pq_candidate_recall) deciding how many candidates stage 1
    passes through. (query_id, neighbor_id, cosine)."""
    from itdb_spark.operators.similarity import cosine_pandas

    nvec = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nvec"),
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    exact = (
        candidates.select("query_id", "neighbor_id")
        .join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_pandas(F.col("qvec"), F.col("nvec")), 6).alias("cosine"),
        )
    )
    return _top_n(exact, top_k, "cosine").select("query_id", "neighbor_id", "cosine")


def pq_norm_cte(name: str = "pqv") -> str:
    """``pqv`` = (vec_id, vec) L2-normalized from the embeddings table;
    zero-norm (dead) embeddings drop out — the Spark side's try_divide →
    NULL → filter. Prefixed ``pq`` so it composes next to the IVF
    oracle's raw ``v`` CTE without a name clash. ``name`` (default
    renders the graded texts byte-identically) lets the residual oracle
    bind this as ``pqnorm`` and redefine ``pqv`` as the residual frame."""
    return f"""{name} AS (SELECT vec_id, list_transform(e, x -> x / norm) AS vec
           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                     x -> x * x))) AS norm
                 FROM embeddings)
           WHERE norm > 0)"""


def pq_residual_ctes(dim: int) -> list[str]:
    """CTEs rebinding ``pqv`` to the IVF RESIDUAL frame x̂ − c*(x)
    (operators/pq.py::ivf_anchor_means + ivf_residuals): normalized
    corpus ``pqnorm``, per-cell anchor means ``pqcs`` (mean of the
    cell's normalized live members — the variance-minimizing residual
    anchor, NOT the raw-vector IVF centroid and NOT normalized), and
    the subtraction joined through the final assignment ``af``.
    Everything downstream — pq_train_ctes, the encode CTE, the ADC
    join — composes UNCHANGED on the rebound ``pqv``: the residual
    oracle is the proven PQ replay plus these three CTEs (VERDICT r7
    #3's 'existing CTEs plus a subtraction').

    MATERIALIZED is load-bearing on pqcs/pqv: both hang the whole
    unrolled IVF chain (af → c4 → … → c0) off themselves, and DuckDB
    inlines plain CTEs — every downstream consumer (pqsv feeds the
    init + every Lloyd's round + the encode) would re-evaluate the IVF
    replay (measured 72 s → 6.5 s at sf0.01 when pqv materialized).
    Same discipline as the BPE chained-level oracle (packing.py)."""
    return [
        pq_norm_cte(name="pqnorm"),
        f"""pqcs AS MATERIALIZED (
            SELECT centroid_id, list(m ORDER BY pos) AS csvec FROM (
              SELECT a.centroid_id, r.i AS pos, avg(n.vec[r.i + 1]) AS m
              FROM pqnorm n
              JOIN af a ON a.vec_id = n.vec_id, range(0, {dim}) r(i)
              GROUP BY 1, 2)
            GROUP BY 1)""",
        f"""pqv AS MATERIALIZED (SELECT n.vec_id,
                list_transform(range(0, {dim}),
                               j -> n.vec[j + 1] - c.csvec[j + 1]) AS vec
            FROM pqnorm n
            JOIN af a ON a.vec_id = n.vec_id
            JOIN pqcs c ON c.centroid_id = a.centroid_id)""",
    ]


def pq_train_ctes(m: int, k: int, iters: int, sd: int) -> tuple[list[str], str]:
    """CTE list replaying train_pq + the corpus assignment on top of a
    ``pqv`` CTE the caller provides (pq_norm_cte). Returns (ctes,
    final_codebook_name); the list ends with ``pqaf`` = (vec_id, sub,
    code) — the encoded index — plus the final codebook. Shared by
    pq_oracle_sql and the composed IVF·PQ oracle so the training replay
    exists in exactly one place."""
    ctes = [
        f"""pqsv AS (SELECT vec_id, s.i AS sub,
                list_slice(vec, s.i * {sd} + 1, s.i * {sd} + {sd}) AS svec
           FROM pqv, range(0, {m}) s(i))""",
        f"""pqcb0 AS (SELECT sub, CAST(rn - 1 AS INT) AS code, svec AS cvec FROM (
            SELECT sub, svec,
                   row_number() OVER (PARTITION BY sub ORDER BY h, vec_id) AS rn
            FROM (SELECT pqsv.*, CAST(concat('0x',
                       substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                  FROM pqsv)) WHERE rn <= {k})""",
    ]
    l2 = (
        f"list_sum(list_transform(range(0, {sd}), "
        "j -> (s.svec[j + 1] - c.cvec[j + 1]) ** 2))"
    )
    prev = "pqcb0"
    for it in range(1, iters + 1):
        ctes.append(f"""pqa{it} AS (SELECT vec_id, sub, svec, code FROM (
            SELECT s.vec_id, s.sub, s.svec, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.sub
                       ORDER BY {l2}, c.code) AS rn
            FROM pqsv s JOIN {prev} c ON c.sub = s.sub) WHERE rn = 1)""")
        # empty-cluster retention mirrors train_pq: a code with no
        # members this round keeps its previous centroid
        ctes.append(f"""pqnm{it} AS (
            SELECT sub, code, list(mean ORDER BY pos) AS cvec FROM (
              SELECT sub, code, r.i AS pos, avg(svec[r.i + 1]) AS mean
              FROM pqa{it}, range(0, {sd}) r(i) GROUP BY 1, 2, 3)
            GROUP BY 1, 2)""")
        ctes.append(f"""pqcb{it} AS (
            SELECT sub, code, cvec FROM pqnm{it}
            UNION ALL
            SELECT p.sub, p.code, p.cvec FROM {prev} p
            WHERE NOT EXISTS (SELECT 1 FROM pqnm{it} n
                              WHERE n.sub = p.sub AND n.code = p.code))""")
        prev = f"pqcb{it}"
    ctes.append(f"""pqaf AS (SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY {l2}, c.code) AS rn
        FROM pqsv s JOIN {prev} c ON c.sub = s.sub) WHERE rn = 1)""")
    return ctes, prev


def pq_query_ip_ctes(
    final_cb: str, m: int, sd: int, n_queries: int, qsrc: str = "pqsv"
) -> list[str]:
    """``pqip`` = (query_id, sub, code, ip) — the per-query ADC lookup
    table rows, from the query subvectors (ids < n_queries) × the final
    codebook. Shared by pq_oracle_sql and the IVF·PQ oracle. ``qsrc``
    (default renders the graded texts byte-identically) is the
    subvector relation the QUERY side reads: the plain oracles slice
    queries out of the corpus subvectors ``pqsv``, but the residual
    oracle must read NORMALIZED query subvectors (the ADC table is
    q̂-subvector · residual-codeword) while ``pqsv`` holds residuals."""
    return [
        f"""pqqs AS (SELECT vec_id AS query_id, sub, svec FROM {qsrc}
            WHERE vec_id < {n_queries})""",
        f"""pqip AS (SELECT q.query_id, q.sub, c.code,
                list_sum(list_transform(range(0, {sd}),
                    j -> q.svec[j + 1] * c.cvec[j + 1])) AS ip
            FROM pqqs q JOIN {final_cb} c ON c.sub = q.sub)""",
    ]


def pq_oracle_sql(
    m: int = 16,
    k: int = 16,
    iters: int = 3,
    dim: int = 64,
    top_k: int = 10,
    n_queries: int = 5,
) -> str:
    """DuckDB twin of train_pq → pq_encode → pq_search (the sim-knn-pq
    registry oracle; tests/test_ivf_merge.py::test_pq_oracle_matches_spark
    runs the differential in CI). Same replay discipline as _ivf_oracle:
    every Spark step is deterministic (hash-ranked init, (d, code)
    tie-broken assignment), so the only cross-engine freedom is float
    summation order — absorbed by the round(6) on the final ADC score
    exactly as IVF's oracle absorbs it (empirically exact at test SFs)."""
    sd = dim // m
    ctes = [pq_norm_cte()]
    train, final_cb = pq_train_ctes(m, k, iters, sd)
    ctes += train
    ctes += pq_query_ip_ctes(final_cb, m, sd, n_queries)
    ctes.append("""pqscored AS (SELECT t.query_id, a.vec_id AS neighbor_id,
            round(sum(t.ip), 6) AS adc_score
        FROM pqaf a JOIN pqip t ON t.sub = a.sub AND t.code = a.code
        WHERE a.vec_id != t.query_id
        GROUP BY 1, 2)""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT query_id, neighbor_id, adc_score FROM (
      SELECT query_id, neighbor_id, adc_score,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_score DESC, neighbor_id) AS rn
      FROM pqscored) WHERE rn <= {top_k}""")


def _coarse_quantizer(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    max_train: int | None,
    train_backend: str,
) -> tuple[DataFrame, DataFrame]:
    """(assignments, centroids): the IVF half of every IVF-PQ index, from
    either training backend. ``spark`` runs build_ivf_index's
    distributed Lloyd's. ``driver`` is FAISS-shaped deploy training: the
    bounded hash-ranked sample is collected ONCE and Lloyd's runs in
    numpy (``_ivf_lloyd_np``); the corpus assignment stays distributed,
    so only training is sampled.

    At 100 TB this is the industry pattern (train the quantizer on a
    bounded sample driver-side, broadcast the index): the distributed
    loop pays a job round of scheduling latency per iteration over a
    sample that by construction fits one machine. The collect is
    bounded by ``max_train`` — REQUIRED, never corpus-sized — so this is
    the deliberate small-side materialization the manifest-DF sinks
    also use, not a driver-side-loop antipattern. The sample is drawn
    from the raw vectors, exactly the population build_ivf_index
    samples (before any norm filter: zero vectors go NaN-sim and land
    deterministically)."""
    if train_backend not in ("spark", "driver"):
        raise ValueError(f"train_backend must be spark|driver, got {train_backend!r}")
    if train_backend == "spark":
        return build_ivf_index(vectors, id_col, vec_col, k=n_cells, max_train=max_train)
    if max_train is None:
        raise ValueError(
            "train_backend='driver' requires max_train (the collected "
            "sample must be bounded)"
        )
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    )
    cent_ids, cents = _ivf_lloyd_np(_hash_sample_np(v, id_col, max_train), n_cells)
    centroids = model_df(
        vectors.sparkSession,
        [(int(i), [float(x) for x in c]) for i, c in zip(cent_ids, cents)],
        "centroid_id long, cvec array<double>",
    )
    return _ivf_assign(v, centroids, id_col), centroids


def _hash_sample_np(frame: DataFrame, id_col: str, max_train: int):
    """The ``max_train`` rows of ``frame`` with the smallest id hash,
    collected in hash-rank order as one float64 matrix of their ``vec``
    — the order the numpy trainers' first-k inits rely on."""
    import numpy as np

    rows = hash_ranked_sample(frame, id_col, max_train).collect()
    return np.asarray([r.vec for r in rows], dtype=np.float64)


def _ivf_lloyd_np(X, n_cells: int, ivf_iters: int = 4):
    """numpy IVF Lloyd's over a hash-rank-ordered sample. Returns
    (cent_ids, cents).

    Replicates ivf.build_ivf_index exactly: smallest-hash init (X is in
    hash-rank order), cosine assignment with desc-sim / asc-id
    tie-break (argmax takes the first index), per-dimension mean
    update, empty cells drop. float64 throughout, so results differ
    from the distributed trainer only in final-ulp summation order —
    absorbed by the same margins the DuckDB differential relies on
    (test_pq_assignment_margin)."""
    import numpy as np

    cents = X[:n_cells].copy()
    cent_ids = list(range(n_cells))
    xn = np.linalg.norm(X, axis=1)
    for _ in range(ivf_iters):
        cn = np.linalg.norm(cents, axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = (X @ cents.T) / (xn[:, None] * cn[None, :])
        # NaN sims (zero vector or zero centroid) LOSE on the Spark side:
        # a NULL sim sorts smallest in _assign's (sim, -cid) struct
        # argmax — while numpy's argmax propagates NaN as the maximum.
        # Map NaN → -inf so a dead centroid never captures live vectors;
        # an all-NaN (dead-vector) row argmaxes to index 0 = the smallest
        # centroid id, exactly the all-NULL tie-break Spark resolves
        # (test_ivfpq_driver_trainer_dead_embedding_in_window).
        sims = np.where(np.isnan(sims), -np.inf, sims)
        assign = np.argmax(sims, axis=1)
        keep_c, keep_i = [], []
        for ci in range(len(cents)):
            members = X[assign == ci]
            if len(members):
                keep_c.append(members.mean(axis=0))
                keep_i.append(cent_ids[ci])
        cents, cent_ids = np.asarray(keep_c), keep_i
    return cent_ids, cents


def _train_pq_driver(
    sample: DataFrame,
    m: int,
    k: int,
    dim: int,
    max_train: int,
    normalize: bool,
) -> DataFrame:
    """Codebooks (sub, code, cvec) from numpy PQ Lloyd's over the bounded
    hash-ranked sample of ``sample`` (id, vec) — train_pq's deploy twin.
    ``normalize`` divides each sampled row by its norm first (the raw
    variant, whose caller passes the zero-norm-filtered vectors: the
    population train_pq samples after ``_normalize`` drops dead
    embeddings); residuals train as-is.

    Replicates train_pq exactly: first-k init per subspace, L2-asc /
    code-asc assignment (argmin takes the first index), empty-cluster
    retention. ``n_codes`` can be < k when the sample holds fewer than k
    live vectors — the distributed trainer's limit(k) yields fewer
    codes in exactly the same way."""
    import numpy as np

    X = _hash_sample_np(sample, "id", max_train)
    if normalize:
        X = X / np.linalg.norm(X, axis=1)[:, None]
    S = X.reshape(len(X), m, dim // m)
    books = np.stack([S[:k, s, :].copy() for s in range(m)])  # (m, ≤k, sub)
    n_codes = books.shape[1]
    for _ in range(3):  # train_pq's default iters
        new_books = books.copy()  # retention: empty codes keep centroids
        for s in range(m):
            d = ((S[:, s, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d, axis=1)
            for code in range(n_codes):
                mem = S[a == code, s, :]
                if len(mem):
                    new_books[s, code] = mem.mean(axis=0)
        books = new_books
    return model_df(
        sample.sparkSession,
        [
            (s, c, [float(x) for x in books[s, c]])
            for s in range(m)
            for c in range(n_codes)
        ],
        "sub int, code int, cvec array<double>",
    )


def _normalized_cells(
    vectors: DataFrame, assignments: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, centroid_id): the normalized live vectors with their
    cell. When ``assignments`` still carries its ``vec`` column (the
    ``_assign`` output contract — the same raw vector per id that
    ``vectors`` holds, 1:1 on id), the cell label is already on the row
    and an id-equi-join against ``vectors`` would be a corpus-scale
    exchange for nothing, so the assignment frame is normalized
    directly. Assignment frames read back WITHOUT the vector payload (a
    persisted code-table shape) take the join."""
    if "vec" in assignments.columns:
        return _normalize(
            assignments.select(
                F.col(id_col), F.col("vec").alias(vec_col), "centroid_id"
            ),
            id_col, vec_col, extra=("centroid_id",),
        )
    return _normalize(vectors, id_col, vec_col).join(
        assignments.select(F.col(id_col).alias("id"), "centroid_id"), "id"
    )


def ivf_anchor_means(
    vectors: DataFrame,
    assignments: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(centroid_id, csvec): the residual ANCHOR per cell — the
    per-dimension mean of the cell's NORMALIZED live members. NOT the
    IVF centroid (a mean of RAW vectors) and NOT normalized itself: the
    decomposition dot(q̂, x̂) = dot(q̂, c*) + dot(q̂, x̂ − c*) holds for
    any fixed c*, and the member mean is the variance-minimizing choice
    — E|x̂ − c*|² = 1 − |c*|² < 1 = E|x̂|². (Subtracting the NORMALIZED
    centroid instead — a unit vector — INFLATES residuals on weakly
    clustered data: |x̂ − ĉ|² = 2 − 2cos(x̂, ĉ) > 1 whenever the cell's
    spread keeps cos below ½, and measured recall dropped below the raw
    variant's. Caught by test_ivfpq_residual_recall_not_worse.)

    Dead (zero-norm) embeddings drop with the normalized corpus before
    the mean (``_normalized_cells``), so every cell with at least one
    live member has a well-defined anchor and no division occurs at
    all."""
    return (
        _normalized_cells(vectors, assignments, id_col, vec_col)
        .select("centroid_id", F.posexplode("vec").alias("pos", "val"))
        .groupBy("centroid_id", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "centroid_id",
            F.transform("pm", lambda s: s.getField("m")).alias("csvec"),
        )
    )


def ivf_residuals(
    vectors: DataFrame,
    assignments: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cell: bool = False,
) -> DataFrame:
    """(id, vec): the IVF residual r = x̂ − c*(x) — the normalized vector
    minus its cell's anchor mean (ivf_anchor_means). In this space
    dot(q̂, x̂) = dot(q̂, c*) + dot(q̂, r), so search recovers the exact
    decomposition from a per-(query, cell) base term plus the residual
    ADC — and the residual carries strictly less variance than the raw
    vector, the reason FAISS's IVFPQ encodes residuals by default
    (Jégou et al. 2011 §III; better recall at the same code budget).

    ``carry_cell=True`` keeps ``centroid_id`` on the output so the
    caller can encode and cell-attach in one projection."""
    out_cols = ["id"] + (["centroid_id"] if carry_cell else [])
    return (
        _normalized_cells(vectors, assignments, id_col, vec_col)
        .join(F.broadcast(anchors), "centroid_id")
        .select(
            *out_cols,
            F.zip_with("vec", "csvec", lambda a, b: a - b).alias("vec"),
        )
    )


def build_ivfpq_res_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    m: int = 16,
    k: int = 16,
    max_train: int | None = None,
    train_backend: str = "spark",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Build the residual IVF-PQ index components: (coded, centroids,
    anchors, codebooks), where ``coded`` is the searchable payload
    (id, centroid_id, codes) — residual PQ codes co-located with their
    cell, the frame persist_ivfpq_res_index publishes partitioned by cell.

    ``train_backend="driver"`` (requires max_train) is the FAISS
    deployment lever ivfpq_search also has: BOTH iterative Lloyd's
    loops run in numpy over a collected hash-ranked sample
    (``_coarse_quantizer`` on raw vectors for the coarse quantizer,
    ``_train_pq_driver`` on the RESIDUAL sample for the codebooks — the
    residual twist: the PQ sample is drawn from ivf_residuals, the
    exact population train_pq(normalize=False) samples; no zero-drop —
    a zero residual is legitimate training data). The NON-iterative
    stages stay distributed in both backends: corpus assignment (one
    broadcast join), anchor means (one groupBy pass), residual
    construction, and encoding — only training is sampled. Bit-identity
    with the distributed trainer is gated in
    tests/test_ivf_merge.py::test_ivfpq_res_train_backends_bit_identical."""
    return _build_ivfpq_res_index(
        vectors, _probe_dim(vectors, vec_col), id_col, vec_col, n_cells, m, k,
        max_train, train_backend,
    )


def _build_ivfpq_res_index(
    vectors: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    n_cells: int,
    m: int,
    k: int,
    max_train: int | None,
    train_backend: str,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """``build_ivfpq_res_index`` for a caller that already probed ``dim``."""
    assignments, centroids = _coarse_quantizer(
        vectors, id_col, vec_col, n_cells, max_train, train_backend
    )
    anchors = ivf_anchor_means(vectors, assignments, id_col, vec_col)
    # carry the cell through the residual so encoding attaches it in
    # the same projection, not by an id-join of two corpus-scale frames
    resid = ivf_residuals(
        vectors, assignments, anchors, id_col, vec_col, carry_cell=True
    )
    if train_backend == "driver":
        codebooks = _train_pq_driver(resid, m, k, dim, max_train, normalize=False)
    else:
        codebooks = train_pq(
            resid, "id", "vec", m=m, k=k, dim=dim,
            max_train=max_train, normalize=False,
        )
    coded = pq_encode(
        resid, codebooks, "id", "vec", dim=dim, normalize=False,
        carry=("centroid_id",), m=m,
    ).select("id", "centroid_id", "codes")
    return coded, centroids, anchors, codebooks


def _adc_stages(
    coded: DataFrame,
    probed: DataFrame,
    anchors: DataFrame | None,
    codebooks: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    dim: int,
    candidates: int,
    top_k: int,
) -> DataFrame:
    """Post-probe IVF-PQ search shared by every IVF-PQ head: the probed
    cells' codes (``coded`` carries centroid_id, so the restriction is
    one broadcast join of the tiny (query, cell) pairs — at scale the
    code table is written partitionBy(centroid_id) and this join IS
    partition pruning), ADC over them, candidate cut, exact rerank
    against the primary vectors. ``anchors`` (the residual variant)
    adds the base term dot(q̂, c*) per (query, probed cell) in front of
    each ADC fold; None scores raw codes.

    ADC runs within the probed cells only: filtering pq_search's
    full-corpus result instead is NOT equivalent (its top-k is cut
    before the filter), so the two share the table build and score
    expression (_query_adc_tables/_adc_score) but not the cut."""
    if anchors is None:
        cells, base = probed.select("query_id", "centroid_id"), None
    else:
        qn = _normalize(queries, id_col, vec_col).select(
            F.col("id").alias("query_id"), F.col("vec").alias("qnvec")
        )
        cells = (
            probed.join(F.broadcast(anchors), "centroid_id")
            .join(F.broadcast(qn), "query_id")
            .select(
                "query_id",
                "centroid_id",
                F.aggregate(
                    F.zip_with("qnvec", "csvec", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ).alias("base"),
            )
        )
        base = F.col("base")
    members = coded.join(F.broadcast(cells), "centroid_id")
    qtables = _query_adc_tables(queries, codebooks, id_col, vec_col, m, dim)
    scored = (
        members.join(F.broadcast(qtables), "query_id")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _adc_score(m, base=base),
        )
    )
    cand = _top_n(scored, candidates, "adc_score").select("query_id", "neighbor_id")
    return pq_rerank(cand, vectors, queries, id_col, vec_col, top_k=top_k)


def persist_ivfpq_res_index(
    coded: DataFrame,
    centroids: DataFrame,
    anchors: DataFrame,
    codebooks: DataFrame,
    path: str,
) -> None:
    """Publish a residual IVF-PQ index in its production layout (the
    persist_ivf_index pattern, FAISS index-reuse shape): the code table
    as a sinks/versioned.py table at ``<path>/codes``, hive-partitioned
    by centroid_id inside its immutable version dir — an ADC scan reads
    ONLY probed cells' files, m bytes per vector, partition pruning does
    the cell selection at any index size — and the three small frames
    (centroids / anchors / codebooks) as single broadcastable files.

    The small frames are the FROZEN quantizer: written once,
    ``errorifexists``, BEFORE the codes publish (persist_ivf_index's
    contract), so a re-publish over a populated root raises instead of
    pairing new quantizer tables with old codes. Reader state memoized
    for this path (pinned schemas, the (m, dim) memo) is dropped first,
    for a root that was deleted and rebuilt in the same driver process:
    stale m/dim would silently mis-slice query subvectors."""
    _INDEX_META_CACHE.pop(os.path.abspath(path), None)
    invalidate_pinned_schemas(path)
    for name, frame in (
        ("centroids", centroids), ("anchors", anchors), ("codebooks", codebooks)
    ):
        frame.write.mode("errorifexists").parquet(f"{path}/{name}")
    write_version(coded, f"{path}/codes", partition_by=["centroid_id"])


def ivfpq_res_search_persisted(
    spark: SparkSession,
    path: str,
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 10,
    n_probe: int = 5,
    candidates: int = 100,
) -> DataFrame:
    """Search an index PERSISTED by persist_ivfpq_res_index — the
    production ANN serving path (build once, search many; FAISS index
    reuse): probe against the small persisted centroid table, collect
    the probed cell ids (bounded by the CELL count, never the corpus),
    and apply them as a STATIC IN-filter on the cell-partitioned code
    scan so unprobed cells' files are never read (PartitionFilters +
    file-set proof in tests/test_ivf_merge.py::
    test_ivfpq_res_persisted_search_prunes_partitions). Bit-identical
    to the in-session search over the same components: parquet
    round-trips doubles and int codes exactly. ``vectors`` is the
    PRIMARY table, read only by the exact rerank over the surviving
    candidates — the persisted index itself carries codes, never the
    float payload."""
    centroids = _read_pinned(spark, f"{path}/centroids")
    anchors = _read_pinned(spark, f"{path}/anchors")
    codebooks = _read_pinned(spark, f"{path}/codebooks")
    # m and dim are properties of the PERSISTED index, not caller
    # choices: a mismatched m would mis-slice query subvectors and
    # produce silently wrong ADC scores (partial join on `sub`), and
    # dim must equal the index's training dim or the rerank joins
    # nonsense. Both are derived from the index's own small tables —
    # m from the codebooks' subquantizer ids, dim from a centroid
    # vector — and memoized per index path: they are constants
    # of an immutable published index, so re-collecting them would be
    # two driver jobs (~0.4 s) on EVERY probe; a server reads its index
    # parameters once at load, not per query. The first probe per
    # process (bench warmup / server startup) still pays the two
    # tiny-frame jobs.
    meta_key = os.path.abspath(path)
    meta = _INDEX_META_CACHE.get(meta_key)
    if meta is None:
        meta = (
            int(codebooks.agg(F.max("sub")).first()[0]) + 1,
            int(centroids.select(F.size("cvec").alias("d")).first()["d"]),
        )
        _INDEX_META_CACHE[meta_key] = meta
    m, dim = meta
    probed = _probe_cells(queries, centroids, id_col, vec_col, n_probe)
    coded = _in_probed_cells(read_current_chain(spark, f"{path}/codes"), probed)
    return _adc_stages(
        coded, probed, anchors, codebooks, vectors, queries,
        id_col, vec_col, m, dim, candidates, top_k,
    )


def ivfpq_residual_search(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 10,
    n_cells: int = 8,
    n_probe: int = 5,
    m: int = 16,
    k: int = 16,
    candidates: int = 100,
    max_train: int | None = None,
    train_backend: str = "spark",
) -> DataFrame:
    """IVF·PQ with RESIDUAL encoding — the FAISS IVFPQ default (PQ over
    x − c(x) instead of raw vectors; Jégou et al. 2011): the residual
    against the cell's anchor mean carries E|r|² = 1 − |c*|² < 1 of the
    raw vector's unit variance, so the same (m, k) code budget
    quantizes with less error. The margin scales with cluster mass
    |c*|: gated not-worse-than-raw (and equal, 0.76, on this weakly
    clustered synthetic corpus) in
    tests/test_ivf_merge.py::test_ivfpq_residual_recall_not_worse.

    Pipeline differences vs ivfpq_search, and nothing else: the PQ
    codebooks train on ivf_residuals (normalize=False — residuals are
    already in the normalized space), encoding stores residual codes,
    and each ADC score adds the base term dot(q̂, c*) for the member's
    cell (dot(q̂, x̂) = dot(q̂, c*) + dot(q̂, r), so the same per-query
    table of q̂-subvector · residual-codeword dot products completes
    the score; the base table is |queries| × n_probe rows — tiny).
    Probe (raw-cosine cell selection, identical to the raw variant),
    candidate cut, and exact rerank are the shared stages.

    At 100 TB the residual index costs one anchor-mean groupBy plus one
    broadcast join at build time and a per-(query, probed-cell) dot
    product at search — same scan shape, same partition pruning, same
    m-bytes-per-vector ADC read. ``train_backend="driver"`` (requires
    max_train) runs both Lloyd's loops in numpy over the one collected
    sample — the FAISS deployment shape; see build_ivfpq_res_index."""
    dim = _probe_dim(vectors, vec_col)
    coded, centroids, anchors, codebooks = _build_ivfpq_res_index(
        vectors, dim, id_col, vec_col, n_cells, m, k, max_train, train_backend
    )
    probed = _probe_cells(queries, centroids, id_col, vec_col, n_probe)
    return _adc_stages(
        coded, probed, anchors, codebooks, vectors, queries,
        id_col, vec_col, m, dim, candidates, top_k,
    )


def ivfpq_search(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 10,
    n_cells: int = 8,
    n_probe: int = 5,
    m: int = 16,
    k: int = 16,
    candidates: int = 100,
    max_train: int | None = None,
    train_backend: str = "spark",
) -> DataFrame:
    """IVF·PQ — the composed 100 TB ANN architecture (FAISS IVFPQ shape,
    Jégou et al. 2011): the IVF coarse quantizer prunes the search to
    ``n_probe`` cells per query (at scale: partition pruning on the
    cell-partitioned index), PQ codes stand in for the float payload
    inside the probed cells (ADC — the scan reads m bytes per vector,
    not the vector), and an exact rerank over the surviving
    ``candidates`` recovers true ordering. Returns (query_id,
    neighbor_id, cosine) like ivf_knn/brute_force_knn.

    Composition of the two already-tested halves: build_ivf_index
    (operators/ivf.py) supplies cells, train_pq/pq_encode/pq_rerank
    supply the compression — no new math here, just the join shape a
    cluster runs: probed cells ⋈ encoded codes → per-query ADC fold →
    candidate top-N → exact rerank.

    Measured recall-vs-budget on the synthetic 500-vector corpus
    (mean recall@10 vs brute force): n_probe=4/cands=100 → 0.66,
    5/100 → 0.76, 6/150 → 0.86 — the knobs trade compute for recall
    exactly as designed. Small-corpus caveat: with only 8 cells,
    probing 5 is 62% of the corpus; at real scale cells number in the
    thousands and n_probe/n_cells is ~1%, so the same recall costs far
    less — the cell count, not the ratio, is what grows with data."""
    dim = _probe_dim(vectors, vec_col)
    # max_train: the deploy knob — bound BOTH training loops (IVF coarse
    # quantizer and PQ codebooks) at huge corpora; None = full-corpus,
    # the registered oracle-replayable form. Encoding and the final cell
    # assignment still touch every vector — only TRAINING is sampled.
    # train_backend="driver" (requires max_train) additionally runs both
    # Lloyd's loops in numpy over the collected samples — the FAISS
    # deployment shape; "spark" keeps the distributed loops.
    assignments, centroids = _coarse_quantizer(
        vectors, id_col, vec_col, n_cells, max_train, train_backend
    )
    if train_backend == "driver":
        v = vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        sqnorm = F.aggregate(F.col("vec"), F.lit(0.0), lambda a, x: a + x * x)
        codebooks = _train_pq_driver(
            v.where(sqnorm > 0.0), m, k, dim, max_train, normalize=True
        )
    else:
        codebooks = train_pq(
            vectors, id_col, vec_col, m=m, k=k, dim=dim, max_train=max_train
        )
    # encode directly over the assignment frame, carrying centroid_id
    # through the projection: the encoded index is then (id, codes,
    # centroid_id) in ONE pass — the row layout persist_ivfpq_res_index
    # stores — instead of re-attaching cells by an id-join of two
    # corpus-scale frames (same rows: assignments carry the same raw
    # vec per id that pq_encode normalizes, 1:1 on id)
    encoded = pq_encode(
        assignments.select(
            F.col(id_col), F.col("vec").alias(vec_col), "centroid_id"
        ),
        codebooks, id_col, vec_col, dim=dim, carry=("centroid_id",), m=m,
    )
    probed = _probe_cells(queries, centroids, id_col, vec_col, n_probe)
    return _adc_stages(
        encoded, probed, None, codebooks, vectors, queries,
        id_col, vec_col, m, dim, candidates, top_k,
    )
