"""IVF (inverted-file) approximate nearest neighbor: k-means coarse
quantizer → partition vectors by nearest centroid → probe only the top-P
cells per query. The second scale path next to hyperplane-LSH
(operators/similarity.py); IVF trades a training pass for tighter recall
control (probe count) and a physically partitionable index.

Lloyd's iterations are plain DataFrame ops (posexplode → per-dimension
mean), no MLlib dependency: the index build is itself a scale-safe
pipeline — assignment is a broadcast join against k centroids, the
update is one groupBy per iteration.

Determinism: initial centroids are the k vectors with the smallest
portable-hash of their id (seedless, reproducible); ties in assignment
break by centroid id. That determinism is what makes the sim-knn-ivf
gate fully hash-checkable: the DuckDB oracle unrolls the same Lloyd's
iterations in SQL (round 3) and reproduces every centroid and
assignment bit-for-bit; recall vs brute force is additionally asserted
in tests.

Serving spine: every search head here is a short composition of the
private stages ``_probe_cells`` (top-``n_probe`` cells per query),
``_in_probed_cells`` (the static probed-cell IN-filter a persisted
index's assignment chain is read through), ``_score_in_cells`` (exact
cosine of every candidate in the probed cells, optional allow-list)
with its top-k (``_rerank_in_cells``) and range (``_range_in_cells``)
finishes, and ``_top_n`` (the per-query ranking: score descending, id
ascending). operators/pq.py builds its ADC heads on the same probe,
restriction and ranking; operators/sq.py on the ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from itdb_spark.plans.library import collect_model, invalidate_pinned_schemas, model_df
from itdb_spark.plans.library import read_parquet_pinned as _read_pinned
from itdb_spark.sinks.versioned import append_version, read_current_chain, write_version

from itdb_spark.functions.core import hash_ranked_sample, portable_hash64
from itdb_spark.operators.similarity import cosine_pandas
from itdb_spark.plans.library import truncate_lineage


def _cents_nested(centroids: DataFrame) -> DataFrame:
    """The centroid table folded to ONE row (cents: array<struct<
    centroid_id, cvec>>) — the broadcastable quantizer row ``_assign``
    attaches by a constant-key broadcast hash join (the pq_encode
    ``_cb_nested`` pattern): the data rides in a one-row LocalRelation,
    not in the expression tree (constant-size plan analysis) and not in
    a groupBy() global aggregation (whose single-partition Exchange the
    plan-audit gate forbids). Driver-side fold of a k-row table — the
    coarse quantizer is broadcast-sized by definition; floats
    round-trip exactly."""
    rows = collect_model(centroids.select("centroid_id", "cvec"), "centroid table")
    cents = [
        (int(r.centroid_id), [float(x) for x in r.cvec])
        for r in sorted(rows, key=lambda r: int(r.centroid_id))
    ]
    return model_df(
        centroids.sparkSession,
        [(cents,)],
        "cents array<struct<centroid_id:bigint,cvec:array<double>>>",
    )


def _assign(vectors: DataFrame, centroids: DataFrame, id_col: str) -> DataFrame:
    """(id, vec, centroid_id): nearest centroid by cosine. The coarse
    quantizer is k rows, always broadcastable, so the assignment is ONE
    JVM projection per row: an argmax fold over the broadcast centroid
    row. No k-way fan-out, no Python kernel and no corpus-scale
    exchange for a decision each row can make alone (guide §2.3, §2.4,
    §4.1).

    Winner semantics are those of max_by over the (sim, -centroid_id)
    struct: array_max shares the interpreted struct ordering (a NULL
    sim sorts first, so NULL sims lose and the all-NULL zero-vector row
    falls to the smallest centroid id; try_divide yields NULL, and an
    explicit isnan guard pins the NaN-input corner). Cosine arithmetic
    is the same left fold the DuckDB oracle replays; it differs from
    the einsum kernel only in final-ulp summation order, absorbed by the
    assignment margins the driver-trainer bit-identity gates rely on.
    tests/test_wave15.py gates equality with the crossJoin → Arrow
    cosine → max_by form, zero-vector and exact-tie edges included."""
    from itdb_spark.functions.core import bind_once
    from itdb_spark.operators.similarity import dot_col
    from itdb_spark.plans.library import scan_parallelism_floor

    vectors = scan_parallelism_floor(vectors)
    crow = _cents_nested(centroids).withColumn("_ck", F.lit(1))
    joined = vectors.withColumn("_ck", F.lit(1)).join(F.broadcast(crow), "_ck")

    # cosine_fold's semantics with the row's own norm bound ONCE for all
    # k centroids (bind_once — the O(k·d) rescan hazard)
    def _sim(cvec, na):
        raw = F.try_divide(
            dot_col(F.col("vec"), cvec), na * F.sqrt(dot_col(cvec, cvec))
        )
        return F.when(F.isnan(raw), F.lit(None).cast("double")).otherwise(raw)

    best = bind_once(
        F.sqrt(dot_col(F.col("vec"), F.col("vec"))),
        lambda na: F.array_max(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    _sim(c.getField("cvec"), na).alias("sim"),
                    (-c.getField("centroid_id")).alias("nid"),
                    c.getField("centroid_id").alias("cid"),
                ),
            )
        ).getField("cid"),
    )
    return joined.select(F.col(id_col), "vec", best.alias("centroid_id"))


def build_ivf_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 4,
    max_train: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (assignments, centroids): assignments = (id, vec,
    centroid_id); centroids = (centroid_id, cvec). At scale, write
    ``assignments.write.partitionBy("centroid_id")`` — queries then read
    only probed partitions (partition pruning does the cell selection).

    ``max_train`` is the same 100 TB lever train_pq carries (pq.py):
    coarse-quantizer quality saturates with a bounded sample (FAISS
    trains IVF cells on ~10⁵-10⁶ vectors regardless of corpus size), so
    when set, Lloyd's iterations run over the ``max_train`` vectors with
    the smallest portable id hash — deterministic, seedless, cacheable
    by construction — and only the FINAL assignment touches the full
    corpus. None (the registered sim-knn-ivf / sim-knn-ivfpq form)
    trains on everything so the DuckDB oracle replays without a sample
    CTE."""
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    )
    train_v = v
    bounded = max_train is not None
    if bounded:
        # bounded, deterministic training sample — one materialization
        # feeds init + every assignment round (conditional cache, same
        # posture as train_pq: never pin a corpus-sized frame)
        train_v = hash_ranked_sample(v, id_col, max_train).cache()
    # seedless deterministic init: k vectors with smallest hashed id;
    # coalesce(1) so monotonically_increasing_id yields stable 0..k-1
    init = (
        train_v.withColumn("h", portable_hash64(F.col(id_col).cast("string")))
        .orderBy("h", id_col)
        .limit(k)
        .coalesce(1)
        .select(F.col("vec").alias("cvec"))
        .withColumn("centroid_id", F.monotonically_increasing_id())
    )
    # truncate_lineage: localCheckpoint, or reliable checkpoint() when the
    # session has a checkpoint dir (unreliable-executor clusters — the
    # centroid chain otherwise recomputes from round 0 on block loss).
    centroids = truncate_lineage(init, eager=True)
    for _ in range(iters):
        assigned = _assign(train_v, centroids, id_col)
        # new centroid = per-dimension mean of members (posexplode → groupBy)
        comps = assigned.select(
            "centroid_id", F.posexplode("vec").alias("pos", "val")
        )
        means = (
            comps.groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.transform("pm", lambda s: s.getField("m")).alias("cvec"),
            )
        )
        centroids = truncate_lineage(means, eager=True)
    assignments = truncate_lineage(_assign(v, centroids, id_col), eager=True)
    if bounded:
        train_v.unpersist()
    return assignments, centroids


def ivf_knn(
    spark: SparkSession,
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k per query probing only ``n_probe`` nearest cells: the scored
    candidate set is |cells probed| / |cells| of the corpus instead of all
    of it. Returns (query_id, neighbor_id, cosine).

    ``allowed`` (optional) is the FILTERED-SEARCH knob — the shape every
    production vector store exposes (search constrained by a metadata
    predicate): a one-column frame of permitted ``id_col`` values,
    applied as a semi-join on the candidate set INSIDE probed cells,
    BEFORE any cosine is computed. The index stays predicate-agnostic
    (one shared index serves every filter), the filter never touches
    unprobed cells, and filtered-out candidates cost zero scoring work.
    At 100 TB the semi-join is a broadcast when the allow-list is small
    (a dim-table predicate) or a shuffle semi-join keyed on the id
    otherwise — either way bounded by the probed-cell candidate count.
    None = unfiltered (the registered sim-knn-ivf form, unchanged)."""
    assignments, centroids = build_ivf_index(vectors, id_col, vec_col, k=n_cells)
    return ivf_search(
        assignments, centroids, queries, id_col, vec_col,
        k=k, n_probe=n_probe, allowed=allowed,
    )


def ivf_search(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Probe-and-rerank over a PREBUILT index — the search half of
    ivf_knn, exposed so an index can be built once and served many
    times (and MAINTAINED incrementally: assign new vectors to the
    existing centroids with ``_assign`` and union them into
    ``assignments`` — no retrain, the production ingest path; see
    sim-knn-ivf-incr)."""
    probed = _probe_cells(queries, centroids, id_col, vec_col, n_probe)
    return _rerank_in_cells(probed, assignments, id_col, k, allowed)


def _top_n(df: DataFrame, n: int, score: str, tie: str = "neighbor_id") -> DataFrame:
    """The ``n`` best rows of ``df`` per ``query_id``: ``score``
    descending, then ``tie`` ascending — the full tie-break every
    probe, candidate cut and final top-k needs for its DuckDB oracle to
    replay it. The rank filter lets Spark prune each group before the
    window's exchange (WindowGroupLimit)."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc(tie))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .drop("_rn")
    )


def _probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """(query_id, qvec, centroid_id): the top-``n_probe`` cells per query
    by coarse-quantizer cosine, centroid-id tie-break — the one probe of
    every IVF and IVF-PQ head. Scored by the JVM ``cosine_fold``: a
    queries×k grid is far too small to amortize an Arrow kernel's
    boundary and worker start, and the probe often runs inside a
    broadcast build on the critical path. A NULL sim (a dead query or
    centroid) sorts last."""
    from itdb_spark.operators.similarity import cosine_fold

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    cell_scores = q.crossJoin(F.broadcast(centroids)).select(
        "query_id", "qvec", "centroid_id",
        cosine_fold(F.col("qvec"), F.col("cvec")).alias("sim"),
    )
    return _top_n(cell_scores, n_probe, "sim", "centroid_id").select(
        "query_id", "qvec", "centroid_id"
    )


def _in_probed_cells(index: DataFrame, probed: DataFrame) -> DataFrame:
    """The rows of a cell-partitioned ``index`` read back from disk that
    lie in a probed cell. The distinct probed cell ids are collected to
    the driver (bounded by the CELL COUNT, never the corpus: distinct
    probed cells ≤ min(n_cells, |queries| × n_probe)) and applied as a
    STATIC IN-filter, so pruning is decided at plan time: the scan's
    PartitionFilters keep every unprobed cell's files unread, also
    through a versioned chain's union. The global probed-cell superset
    is re-restricted per query by the centroid_id equi-join downstream.
    Partition-directory values read back as int; the join key and every
    consumer expect the trainer's long."""
    cells = sorted(
        int(r.centroid_id)
        for r in probed.select("centroid_id").distinct().collect()
    )
    return index.where(F.col("centroid_id").isin(cells)).withColumn(
        "centroid_id", F.col("centroid_id").cast("long")
    )


def _score_in_cells(
    probed: DataFrame,
    assignments: DataFrame,
    id_col: str,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cos_raw): every candidate in its query's
    probed cells except the query itself, scored by exact cosine. The
    optional ``allowed`` semi-join runs BEFORE any cosine (see ivf_knn),
    so filtered-out candidates cost no scoring work."""
    cands = probed.join(assignments, "centroid_id").where(
        F.col("query_id") != F.col(id_col)
    )
    if allowed is not None:
        cands = cands.join(
            allowed.select(F.col(allowed.columns[0]).alias(id_col)),
            id_col,
            "left_semi",
        )
    return cands.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_pandas(F.col("qvec"), F.col("vec")).alias("cos_raw"),
    )


def _rerank_in_cells(
    probed: DataFrame,
    assignments: DataFrame,
    id_col: str,
    k: int,
    allowed: DataFrame | None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine): the top-``k`` finish."""
    scored = _score_in_cells(probed, assignments, id_col, allowed)
    return _top_n(scored, k, "cos_raw").select(
        "query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine")
    )


def _range_in_cells(
    probed: DataFrame, assignments: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(query_id, neighbor_id, cosine): the range finish — every scored
    candidate at cosine >= ``threshold``."""
    return (
        _score_in_cells(probed, assignments, id_col)
        .where(F.col("cos_raw") >= threshold)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"))
    )


def persist_ivf_index(assignments: DataFrame, centroids: DataFrame, path: str) -> None:
    """Publish an IVF index in its production layout: the assignment
    table as a sinks/versioned.py table at ``<path>/assignments``
    (hive-partitioned by centroid_id inside each immutable version dir,
    one atomic manifest swap — a probe reads ONLY probed cells' files,
    partition pruning does the cell selection at any index size), the
    centroid table as one small broadcastable file at
    ``<path>/centroids``. Incremental ingest is ``append_ivf_index``: a
    batch lands as a DELTA version of the same chain, each row inside
    its cell's directory, so it stays pruned and probes stay
    snapshot-isolated. centroid_id is stored as INT, the hive
    partition-value type parquet reads back — the append-time schema
    gate compares against the read-back chain schema (search casts to
    long).

    The FROZEN coarse quantizer is written once, ``errorifexists``,
    BEFORE the first assignment publish, so any visible index always
    has its quantizer. A re-publish over a populated root raises
    instead of pairing NEW centroids with the still-published OLD
    assignment chain (probes would rank cells under a quantizer the
    assignments were not built against, silently): build a fresh root
    and cut readers over atomically instead. Pinned reader schemas under
    ``path`` are dropped first, for a root that was deleted and rebuilt
    in the same process."""
    invalidate_pinned_schemas(path)
    centroids.write.mode("errorifexists").parquet(f"{path}/centroids")
    write_version(
        assignments.withColumn("centroid_id", F.col("centroid_id").cast("int")),
        f"{path}/assignments",
        partition_by=["centroid_id"],
    )


def ivf_search_persisted(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Probe-and-rerank against an index PERSISTED by persist_ivf_index —
    the production search path at 100 TB (the registered in-session
    queries rebuild per call because the grading harness is stateless;
    a deployed index is built once and served many times from disk, and
    refreshed between requests by ``append_ivf_index``).

    The assignment chain is read through ``_in_probed_cells``: the IN
    filter is pushed through the chain's union into every version dir's
    partition filters, so only probed cells' files are read in every
    chain link
    (tests/test_ivf_merge.py::test_ivf_persisted_search_prunes_partitions
    asserts both the plan and the file set), and snapshot isolation pins
    the probe to the chain resolved at entry even while an append
    publishes. Results are bit-identical to ivf_search over the
    in-memory (unioned) assignments: parquet round-trips doubles
    exactly."""
    centroids = _read_pinned(spark, f"{path}/centroids")
    probed = _probe_cells(queries, centroids, id_col, vec_col, n_probe)
    idx = _in_probed_cells(read_current_chain(spark, f"{path}/assignments"), probed)
    return _rerank_in_cells(probed, idx, id_col, k, allowed)


def append_ivf_index(
    spark: SparkSession,
    root: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tag: str | None = None,
) -> str:
    """BATCH-BOUNDED refresh of a ``persist_ivf_index`` index (round 13
    — the containment family's append discipline applied to vectors):
    the batch is assigned to the FROZEN coarse centroids
    (ivf_assign_incremental — one broadcast join over k centroids,
    nothing corpus-scale is read, shuffled, or retrained) and published
    as a DELTA version of the cell-partitioned assignment chain behind
    one atomic manifest swap. ``tag`` publishes atomically with the
    delta (chain_tags) — the foreachBatch at-least-once replay guard.
    Returns the new version name."""
    centroids = _read_pinned(spark, f"{root}/centroids")
    assigned = ivf_assign_incremental(
        new_vectors, centroids, id_col, vec_col
    ).withColumn("centroid_id", F.col("centroid_id").cast("int"))
    return append_version(
        assigned, f"{root}/assignments", partition_by=["centroid_id"],
        tag=tag,
    )


def ivf_assign_incremental(
    new_vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign NEW vectors to an EXISTING coarse quantizer — the index
    ingest path at 100 TB: training is a bounded one-off (build_ivf_index
    with max_train), but data keeps arriving; each batch is assigned to
    the frozen centroids (one broadcast join, no shuffle of the index)
    and appended to the cell-partitioned assignment chain
    (``append_ivf_index``: each delta row lands in its cell's directory
    and stays pruned). Same
    assignment rule as training (cosine desc, centroid-id asc), so an
    incrementally-ingested vector lands in exactly the cell a full
    rebuild would put it in given the same centroids."""
    v = new_vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
    )
    return _assign(v, centroids, id_col)


def cell_balanced_sample(
    assignments: DataFrame,
    id_col: str = "vec_id",
    quota: int = 40,
    seed: str = "bal42",
) -> DataFrame:
    """(id, centroid_id, cell_n): cluster-balanced subsampling — at most
    ``quota`` members per IVF cell, chosen deterministically by portable
    hash of (seed, id). The SemDeDup/DiverseSample curation move: dense
    regions of embedding space (near-duplicate semantic clusters) are
    capped while sparse regions survive intact, flattening the cluster
    distribution without a global sort or true randomness.

    One Window exchange on centroid_id: the per-cell rank and the cell
    size share a single partition+order (the size uses an unbounded
    frame), so the whole selection costs the one shuffle the cell key
    already implies. At 100 TB, run it per cell-partition of the written
    IVF index (partitionBy(centroid_id)) — the window then never crosses
    files."""
    h = portable_hash64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy("centroid_id").orderBy("_h", id_col)
    return (
        assignments.select(F.col(id_col), "centroid_id", h.alias("_h"))
        .select(
            id_col,
            "centroid_id",
            F.row_number().over(w).alias("_rn"),
            F.count("*")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .cast("long")
            .alias("cell_n"),
        )
        .where(F.col("_rn") <= quota)
        .select(id_col, "centroid_id", "cell_n")
    )


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    threshold: float = 0.95,
) -> DataFrame:
    """(vec_id, centroid_id, max_sim_lower, is_dup): SemDeDup (Abbas et
    al. 2023) — semantic deduplication confined to k-means cells: cluster
    with the IVF coarse quantizer, then WITHIN each cell mark a vector a
    semantic duplicate when its cosine to any lower-id cell-mate reaches
    the threshold (greedy keep-lowest-id, the deterministic form of the
    paper's keep-one-per-epsilon-ball). Vectors with no lower-id
    cell-mate above threshold are keepers (is_dup = false,
    max_sim_lower = null when the cell has no lower-id mate at all).

    The reference dedups exact content fingerprints (dupes/dedup.py:127);
    this is the embedding-space analogue for "same meaning, different
    bytes" — paraphrases, re-encodes, templated rewrites.

    Scale shape (100 TB): the pairwise cosine is confined to cells —
    O(sum cell²), never O(N²); n_cells grows with the corpus (SemDeDup
    uses ~sqrt(N) clusters) so cells stay bounded, exactly the
    quadratic-confinement discipline of the LSH buckets
    (similarity.py) and the range-join buckets (rangejoin.py). The
    within-cell join shuffles on centroid_id; comparison is the Arrow
    einsum cosine. The threshold decision compares the ROUNDED cosine,
    so the oracle's decision is identical whenever the hash gate on the
    rounded value holds — no extra float-margin exposure."""
    assignments, _ = build_ivf_index(vectors, id_col, vec_col, k=n_cells)
    x = assignments.select(
        F.col(id_col).alias("xid"), F.col("vec").alias("xvec"), "centroid_id"
    )
    y = assignments.select(
        F.col(id_col).alias("yid"), F.col("vec").alias("yvec"), "centroid_id"
    )
    sims = (
        x.join(y, "centroid_id")
        .where(F.col("yid") < F.col("xid"))
        .select(
            "xid",
            cosine_pandas(F.col("xvec"), F.col("yvec")).alias("sim"),
        )
        .groupBy("xid")
        .agg(F.max("sim").alias("ms"))
    )
    return (
        assignments.join(sims, assignments[id_col] == sims["xid"], "left")
        .select(
            F.col(id_col),
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.round("ms", 6).alias("max_sim_lower"),
            F.coalesce(
                F.round("ms", 6) >= F.lit(threshold), F.lit(False)
            ).alias("is_dup"),
        )
    )


def ivf_range_search(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.25,
    n_probe: int = 3,
) -> DataFrame:
    """Cosine RANGE search over a prebuilt IVF index: probe the
    top-``n_probe`` cells per query, return every candidate in those
    cells at cosine >= ``threshold`` — the scale path of
    similarity.cosine_range_search (which scans the corpus per query
    set; here unprobed cells are never scored, and over the persisted
    layout their FILES are never read — the partition-pruning property
    persist_ivf_index proves for top-k carries over unchanged because
    the probe half is shared). Deterministic (same probe tie-breaks as
    ivf_search), so the oracle replays it exactly; recall vs the brute
    range is the audited quantity, not an assumption."""
    probed = _probe_cells(queries, centroids, id_col, vec_col, n_probe)
    return _range_in_cells(probed, assignments, id_col, threshold)


def ivf_range_search_persisted(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.25,
    n_probe: int = 3,
) -> DataFrame:
    """``ivf_range_search`` against a ``persist_ivf_index`` index, its
    assignment chain read through ``_in_probed_cells`` so unprobed
    cells' FILES are never read (the ivf_search_persisted discipline,
    radius form). Bit-identical to the in-memory form: parquet
    round-trips doubles exactly."""
    centroids = _read_pinned(spark, f"{path}/centroids")
    probed = _probe_cells(queries, centroids, id_col, vec_col, n_probe)
    idx = _in_probed_cells(read_current_chain(spark, f"{path}/assignments"), probed)
    return _range_in_cells(probed, idx, id_col, threshold)
