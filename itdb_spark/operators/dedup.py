"""Deduplication operators for the training-data pipeline: exact
(hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
SimHash, and n-gram Jaccard verification.

The reference's dedup is fingerprint grouping over a bounded content sample
(sha256 of the last 100 KB, dupes/dedup.py:42,:127-143) plus a fuzzy
filename self-join (dupes/dedup.py:146-171); these operators are the same
two ideas generalized to web-corpus scale: cheap candidate generation with
a bounded number of shuffles, then exact verification only on candidates.

All hashing uses ``portable_hash64`` (md5-prefix → int64) so the DuckDB
oracle reproduces every bucket assignment bit-for-bit. At pure-Spark scale
swap in ``xxhash64`` — same structure, cheaper hash.

Scale notes (100 TB):
* exact_dup_groups: one shuffle on the fingerprint; fingerprints are
  near-unique so no skew.
* minhash: explode(tokens) is the big intermediate — size ≈ corpus token
  count; the groupBy(doc) computes all NUM_PERM mins in one map-side
  partial agg, so the shuffle carries one row per (doc, NUM_PERM) not per
  token. Band-bucket join shuffles doc_ids only (no text).
* verification joins carry only candidate pairs — the quadratic blowup is
  confined to hash buckets.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from itdb_spark.functions.core import HASH_PRIME, portable_hash64

NUM_PERM = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_PERM // NUM_BANDS


def _perm_coeffs(j: int) -> tuple[int, int]:
    """Deterministic permutation coefficients (odd multiplier, offset)."""
    return 2 * j + 1, 101 * j + 17


def tokens_distinct(text: Column) -> Column:
    """Distinct whitespace tokens of the lowercased text (the shingle set)."""
    return F.array_distinct(F.split(F.trim(F.lower(text)), r"\s+"))


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the MinHash/Jaccard unit. Word
    n-grams (not unigrams) keep shingle space large enough that unrelated
    documents rarely collide. Pure higher-order expressions; the token
    array is bound ONCE via a single-element transform (a naive inline
    `split(...)` inside the lambda re-tokenizes per element → O(tokens²)),
    and short docs collapse to one whole-text shingle (Spark's sequence()
    runs descending when stop < start, so it needs the guard)."""
    parts = ", ".join(f"element_at(toks, i + {j})" for j in range(n))
    return F.expr(
        f"flatten(transform(array(split(trim(lower({text_col})), '\\\\s+')), toks -> "
        f"CASE WHEN size(toks) < {n} THEN array(array_join(toks, ' ')) "
        f"ELSE array_distinct(transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))) END))"
    )


def exact_dup_groups(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: full-content hash → groups with >1 member.
    One shuffle; group key is the 128-bit md5 so collisions ≈ 0."""
    return (
        docs.select(F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("cnt"), F.min("doc").alias("keep_doc"), F.max("doc").alias("max_doc"))
        .where(F.col("cnt") > 1)
    )


def shingle_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, w) exploded word-3-gram shingle frame — the shared input of
    MinHash signatures and exact Jaccard verification. Build it ONCE and
    cache when both stages run in the same pipeline (dedup-jaccard,
    pipe-curate): the explode is the dominant intermediate (≈ corpus token
    count) and recomputing it per stage doubles the heaviest scan."""
    return docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(text_col)).alias("w"),
    )


def shingle_set_col(text_col: str) -> Column:
    """Per-document sorted xxhash64 shingle-set ARRAY, built IN-ROW —
    the zero-shuffle twin of ``shingle_frame(...).select(doc,
    xxhash64(w)).groupBy(doc).agg(sort_array(collect_list(w)))`` that
    every containment build used to run (r15, guide §2.4: the explode
    fans each doc's shingles out only for the groupBy(doc) exchange to
    collect them straight back — partial aggregation meant the shuffle
    already carried one array row per doc, so the exchange bought
    nothing; a higher-order transform builds the same array inside the
    scan stage). Row-identical to the explode→groupBy form by
    construction: ``word_shingles`` is already per-row distinct,
    ``transform`` preserves elements (xxhash64 collisions included),
    and ``sort_array`` fixes the order ``collect_list`` left
    unspecified. The ONE divergence is NULL text: explode drops the
    doc, in-row yields a NULL array — callers filter NULL text out
    (doc_shingle_sets does) to keep the forms exactly equal.
    Equality is pinned on the real corpus + a NULL/empty-text edge
    frame in tests/test_wave15.py."""
    return F.sort_array(
        F.transform(word_shingles(text_col), lambda g: F.xxhash64(g))
    )


def doc_shingle_sets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, ts) distinct-shingle-set frame for the containment family:
    one in-row projection, no explode, no exchange (see
    ``shingle_set_col``). The NULL guard filters on the TEXT column,
    not on ts: ts is NULL iff text is NULL (split/trim/lower/transform
    all propagate NULL and nothing else in the chain produces one), a
    Filter on ts would re-evaluate the whole tokenize+hash+sort
    expression per row (Filter and Project don't share subexpressions),
    and IsNotNull(text) pushes down to the parquet scan."""
    return docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), shingle_set_col(text_col).alias("ts")
    )


def _shingle_hash(hash_fn: str) -> "Callable[[Column], Column]":
    """Shingle hash choice: ``portable`` (md5-prefix — DuckDB reproduces
    every bucket bit-for-bit; the oracle-gate default) or ``xxhash64``
    (JVM-native, measured ~24% faster on the sf0.1 signature stage — the
    deploy choice when no cross-engine differential is needed; bucket
    assignments differ from portable but the LSH statistics are
    identical, recall-gated in test_scale_paths)."""
    if hash_fn == "portable":
        return portable_hash64
    if hash_fn == "xxhash64":
        return lambda c: F.abs(F.xxhash64(c))
    raise ValueError(f"unknown hash_fn: {hash_fn!r} (portable | xxhash64)")


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = NUM_PERM,
    shingles: DataFrame | None = None,
    hash_fn: str = "portable",
) -> DataFrame:
    """(doc, m0..m{num_perm-1}) MinHash signature over word-3-gram shingles.

    explode(shingle set) → shingle hash (see ``_shingle_hash``) →
    ``num_perm`` min-aggregations in a single groupBy (one shuffle;
    map-side combine keeps the shuffle at one row per doc per
    partition). Pass a pre-built ``shingles`` frame (``shingle_frame``)
    to share the explode with other consumers."""
    words = shingles if shingles is not None else shingle_frame(docs, id_col, text_col)
    h = _shingle_hash(hash_fn)
    hashed = words.select("doc", (h(F.col("w")) % HASH_PRIME).alias("h"))
    aggs = []
    for j in range(num_perm):
        a, b = _perm_coeffs(j)
        aggs.append(F.min((F.col("h") * a + b) % HASH_PRIME).alias(f"m{j}"))
    return hashed.groupBy("doc").agg(*aggs)


def minhash_bands(signatures: DataFrame, num_bands: int = NUM_BANDS) -> DataFrame:
    """Signature → (doc, band, band_hash): concatenate each band's rows into
    a string key. Banding trades precision for recall: P(candidate) =
    1-(1-s^r)^b for Jaccard s.

    The band width is derived from the signature frame's actual m* columns
    (NOT the module-global NUM_PERM) so callers that built signatures with a
    different num_perm band the full signature rather than a silent prefix."""
    m_cols = sorted(
        (c for c in signatures.columns if c.startswith("m") and c[1:].isdigit()),
        key=lambda c: int(c[1:]),
    )
    num_perm = len(m_cols)
    if num_perm % num_bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by num_bands={num_bands}")
    per_band = num_perm // num_bands
    structs = []
    for b in range(num_bands):
        cols = [F.col(f"m{b * per_band + r}").cast("string") for r in range(per_band)]
        structs.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *cols).alias("band_hash"))
        )
    return signatures.select(
        "doc", F.explode(F.array(*structs)).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def band_structs(
    text_col: str, num_perm: int = NUM_PERM, num_bands: int = NUM_BANDS
) -> Column:
    """array<struct<band,band_hash>> LSH band keys computed NARROWLY per
    row: text → distinct word-3-gram shingles → portable hashes → per-band
    concat of the band's permutation minima — one higher-order expression,
    NO explode and NO signature groupBy shuffle. The shingle and hashed
    arrays are each bound once via a single-element transform so the md5
    work runs once per shingle, not once per permutation.

    MEASURED trade-off (sf0.1, local[32], min-of-5): this form is ~2×
    slower than the exploded ``minhash_signatures`` + groupBy path (1.06 s
    vs 0.53 s for the band table) — higher-order lambdas evaluate
    interpreted per element, while the exploded path's 16 partial_min
    aggregations run in whole-stage codegen and win despite paying a
    shuffle of the exploded shingle table. ``minhash_candidates`` therefore
    registers the exploded path; equivalence of the two is pinned by
    test_band_structs_matches_exploded_signature_path. Revisit if Spark
    gains codegen for HOF lambdas, or on clusters where shuffle IO (not
    CPU) is the binding constraint."""
    if num_perm % num_bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by num_bands={num_bands}")
    per_band = num_perm // num_bands

    def hash_one(s: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % HASH_PRIME
        )

    def perm_min(hs: Column, j: Column) -> Column:
        a = j * 2 + F.lit(1)
        b = j * 101 + F.lit(17)
        return F.array_min(F.transform(hs, lambda h: (h * a + b) % HASH_PRIME))

    def bands_of(hs: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_bands - 1)),
            lambda band: F.struct(
                band.cast("int").alias("band"),
                F.concat_ws(
                    "_",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(per_band - 1)),
                        lambda r: perm_min(hs, band * per_band + r).cast("string"),
                    ),
                ).alias("band_hash"),
            ),
        )

    bound = F.transform(
        F.array(word_shingles(text_col)),
        lambda sh: F.transform(
            F.array(F.transform(sh, hash_one)),
            bands_of,
        ),
    )
    return bound[0][0]


def minhash_candidates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = NUM_PERM,
    max_bucket: int | None = None,
    shingles: DataFrame | None = None,
    distinct_pairs: bool = True,
    bands: DataFrame | None = None,
    hash_fn: str = "portable",
) -> DataFrame:
    """Candidate near-duplicate pairs (id1 < id2) from LSH band buckets.

    ``distinct_pairs=False`` skips the final pair-level distinct (a full
    shuffle of the pair table): a pair colliding in k bands appears k
    times. Correct for duplicate-insensitive consumers — connected
    components' min-label propagation, EXISTS-style membership — and one
    shuffle cheaper; keep the default for anything that counts or verifies
    pairs.

    Band table: exploded shingles → codegen'd 16-min groupBy (one shuffle;
    measured faster than the narrow ``band_structs`` HOF form — see its
    docstring). Pair generation is ONE further shuffle: groupBy (band,
    band_hash) collects each bucket's doc ids and in-bucket pairs come
    from an array comprehension (transform × slice over the sorted id
    array — JVM-side, no Python), followed by a pair-level distinct. A
    band-table self-join would shuffle the table twice (or broadcast one
    side, recomputing the signature pipeline) and need a cache to avoid
    double compute; the groupBy form needs neither, so nothing is left
    resident after the action. Pass ``shingles`` (a cached
    ``shingle_frame``) to share the explode with other consumers.

    ``max_bucket`` caps hot buckets (boilerplate/template corpora where one
    band hash collects thousands of docs — each contributes O(size²) pairs).
    Buckets above the cap are dropped from pair generation; at 100 TB route
    them to a template-cluster side channel instead of the pairwise path
    (SCALE.md "hot buckets"). The cap is enforced BEFORE collect_list via a
    window count over the same (band, band_hash) keys: the count shares the
    groupBy's exchange (no extra shuffle) and drops hot-bucket ROWS, so a
    pathological bucket never materializes its id array in an aggregation
    buffer — the cap genuinely bounds array memory to max_bucket ids.
    Over-cap docs are not lost: ``minhash_template_channel`` re-emits them
    as template clusters (pass the same cached ``bands`` frame to share
    the banding pass between both outputs)."""
    if bands is None:
        bands = minhash_bands(
            minhash_signatures(docs, id_col, text_col, num_perm, shingles, hash_fn)
        )
    if max_bucket is not None:
        bucket_n = F.count("*").over(Window.partitionBy("band", "band_hash"))
        bands = (
            bands.withColumn("bucket_n", bucket_n)
            .where(F.col("bucket_n") <= max_bucket)
            .drop("bucket_n")
        )
    buckets = bands.groupBy("band", "band_hash").agg(
        F.array_sort(F.collect_list("doc")).alias("docs")
    )
    ds = F.col("docs")
    in_bucket_pairs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    pairs = buckets.select(F.explode(in_bucket_pairs).alias("p")).select(
        F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2")
    )
    return pairs.distinct() if distinct_pairs else pairs


def _overcap_channel(
    exploded: DataFrame, key_cols: list[str], id_col: str, cap: int
) -> DataFrame:
    """Rows of ``exploded`` whose group (by ``key_cols``) exceeds ``cap``,
    annotated with the group's elected representative (min id — the same
    keeper rule elect_keepers uses) and size. ONE shuffle: count and min
    share a single Window over the group keys; the filter runs above the
    same Window exec, so the channel costs exactly the exchange the cap
    check already pays."""
    w = Window.partitionBy(*[F.col(c) for c in key_cols])
    return (
        exploded.select(
            *[F.col(c) for c in key_cols],
            F.col(id_col).alias("doc_id"),
            F.min(id_col).over(w).alias("template_id"),
            F.count("*").over(w).cast("long").alias("n_members"),
        )
        .where(F.col("n_members") > cap)
    )


def minhash_template_channel(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = NUM_PERM,
    max_bucket: int = 4,
    shingles: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """(band, band_hash, doc_id, template_id, n_members): the hot-bucket
    SIDE CHANNEL for ``minhash_candidates(max_bucket=...)`` — every doc in
    an over-cap LSH bucket, tagged with the bucket's elected template
    representative (min doc id).

    ``max_bucket`` protects the pairwise path from O(size²) blowup on
    boilerplate corpora, but dropping over-cap buckets silently UN-dedups
    their members. This channel re-emits them as template clusters:
    downstream keeps each bucket's template_id and drops (or re-weights)
    the rest — constant work per member, no pairs. Share one cached
    ``bands`` frame (``minhash_bands(minhash_signatures(...))``) with
    minhash_candidates to get both outputs from a single banding pass;
    the channel itself adds one Window exchange over the same
    (band, band_hash) keys the candidate groupBy uses (SCALE.md "hot
    buckets")."""
    if bands is None:
        bands = minhash_bands(minhash_signatures(docs, id_col, text_col, num_perm, shingles))
    return _overcap_channel(bands, ["band", "band_hash"], "doc", max_bucket)


def winnow_template_channel(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int = 20,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(fp, doc_id, template_id, n_members): the stop-fingerprint SIDE
    CHANNEL for ``winnow_pairs(max_df=...)`` — every (doc, fingerprint)
    row whose fingerprint exceeds the document-frequency cap, tagged with
    the fingerprint's elected template representative.

    winnow_pairs anti-joins stop-fingerprints away (they are corpus
    boilerplate; each contributes O(df²) pairs); this channel preserves
    them as template clusters so shared-boilerplate documents still get
    deduped — cluster members sharing an over-df fingerprint collapse to
    its template_id with constant work per member."""
    f = winnow_fingerprints(docs, id_col, text_col, k, window).select(
        F.col("doc"), F.explode("fps").alias("fp")
    )
    return _overcap_channel(f, ["fp"], "doc", max_df)


def ngram_decontam(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """(doc_id, n_grams, n_overlap): training documents sharing at least
    one word n-gram with a benchmark/eval set — train/test contamination
    detection (the GPT-3/Llama decontamination step: drop or flag
    training docs that contain eval n-grams).

    Scale shape: the benchmark side is SMALL by construction (eval sets
    are thousands of docs against a 100 TB corpus), so its distinct
    n-gram hash set is broadcast and the corpus side never shuffles its
    exploded grams — one broadcast left join + one groupBy(doc) over
    per-doc-distinct grams, whose key is the doc id (near-unique,
    skew-free). Grams are compared by portable 60-bit hash, not string
    (~10× fewer broadcast bytes; a collision flags one extra gram —
    acceptable for a filter that errs toward flagging). Docs shorter
    than ``n`` tokens carry no grams and cannot be flagged."""
    def gram_hashes(df: DataFrame) -> DataFrame:
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        grams = F.expr(
            f"transform(sequence(1, size(t)-{n - 1}),"
            f" i -> concat({_kgram_terms(n)}))"
        )
        return (
            df.select(F.col(id_col).alias("doc"), toks.alias("t"))
            .where(F.size("t") >= n)
            .select("doc", F.explode(F.array_distinct(grams)).alias("g"))
            .select("doc", portable_hash64(F.col("g")).alias("g"))
        )

    bench_grams = gram_hashes(bench).select("g").distinct().withColumn("hit", F.lit(1))
    return (
        gram_hashes(train)
        .join(F.broadcast(bench_grams), "g", "left")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"),
        )
        .where(F.col("n_overlap") > 0)
    )


def _folded(sh: DataFrame) -> DataFrame:
    """(doc, w) with string shingles folded to xxhash64 longs; a frame
    the caller already folded to bigint passes through unhashed."""
    if dict(sh.dtypes)["w"] == "bigint":
        return sh.select("doc", "w")
    return sh.select("doc", F.xxhash64("w").alias("w"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-3-gram-shingle Jaccard verification → (id1, id2, jaccard).

    With ``candidates`` (an (id1, id2) frame, normally
    ``minhash_candidates``): intersections are computed ONLY for those
    pairs — the scale path; work is O(candidates × shingles-per-doc).

    Without: all-pairs via shingle co-occurrence self-join — exact but
    inherently quadratic once the shingle space saturates (at sf0.1 the
    ~30-word synthetic vocabulary yields 10M co-occurring pairs), so
    exhaustive mode is for small corpora and tests only.

    The shingle join key is xxhash64(shingle), not the string (~10× fewer
    shuffle bytes); a 64-bit collision (P ≈ n²/2⁶⁵) would perturb one
    pair's count by 1 — negligible. The verified-pair result is
    materialized with an eager localCheckpoint so nothing (cache or
    multiply-referenced lineage) stays resident in the caller's session
    (plans.library.materialized). Pass ``shingles`` (a cached
    ``shingle_frame``) only when the caller is ALREADY amortizing the
    explode across another consumer; the self-built candidates path
    computes per-doc shingle arrays in-row instead (shingle_set_col — no
    explode, no groupBy(doc) exchange, r15). ``shingles`` may carry string
    shingles or ones already folded to bigint (``_folded``)."""
    from itdb_spark.plans.library import materialized, truncate_lineage

    if candidates is not None:
        # per-doc hash ARRAYS, intersected per candidate row — replaces
        # the exploded (pair x shingle) join+groupBy: same-session A/B
        # at sf0.1 measured the verification stage alone 2.3x faster
        # (1.39 s -> 0.60 s warm over cached inputs) and the registered
        # end-to-end query ~10% faster (3.38/2.73 s -> 3.04/2.52 s,
        # identical 17,274 output rows — candidate generation dominates
        # the rest). Fewer shuffled bytes: each pair ships two
        # doc-bounded arrays once instead of one row per candidate-side
        # shingle plus an aggregation.
        if shingles is not None:
            # caller-shared cached explode: fold + collect per doc (the
            # caller is amortizing the explode across the candidate
            # stage, so consume it rather than re-shingle)
            arrs = _folded(shingles).groupBy("doc").agg(
                F.collect_list("w").alias("ws")
            )
        else:
            # r15: the shingle-hash array is a PER-ROW fact, so the
            # self-built path computes it in-row (shingle_set_col — no
            # Generate, no groupBy(doc) exchange; the containment family's
            # measured win, commit "in-row shingle sets"). Row-identical to
            # explode→collect_list up to element ORDER, which
            # array_intersect/size never observe. Deliberately NOT
            # checkpointed even though it feeds BOTH join sides below:
            # recomputing the scan+transform per side beat a
            # localCheckpoint's block write+read in the interleaved A/B
            # (tools/jaccard_ab_r15.py: nockpt 1.84-2.05 s vs 2.29-2.77 s
            # checkpointed, every round) — and recompute-from-columnar-
            # parquet is the 100 TB posture anyway. NULL-text guard
            # matches the explode form (explode drops NULL-shingle docs —
            # see doc_shingle_sets for why the filter is on text, not ws).
            arrs = docs.where(F.col(text_col).isNotNull()).select(
                F.col(id_col).alias("doc"),
                shingle_set_col(text_col).alias("ws"),
            )
        a = arrs.select(F.col("doc").alias("id1"), F.col("ws").alias("ws1"))
        b = arrs.select(F.col("doc").alias("id2"), F.col("ws").alias("ws2"))
        # sz1/sz2 are size(ws) on plain attributes — the separate
        # groupBy(doc).count() aggregation and its two sa/sb joins the
        # pre-r15 form paid are gone (collect_list length == count(*)
        # per doc by construction, xxhash64 collisions included).
        common = (
            candidates.select("id1", "id2")
            .join(a, "id1")
            .join(b, "id2")
            .select(
                "id1",
                "id2",
                F.size(F.array_intersect("ws1", "ws2")).alias("common"),
                F.size("ws1").alias("sz1"),
                F.size("ws2").alias("sz2"),
            )
        )
    else:
        # exhaustive all-pairs via shingle co-occurrence self-join (small
        # corpora/tests only): keeps the exploded form — the self-join IS
        # over exploded rows. words feeds 4 references (a/b/sa/sb), so the
        # r14 checkpoint discipline stays.
        base = (
            shingles if shingles is not None else shingle_frame(docs, id_col, text_col)
        )
        words = truncate_lineage(_folded(base))
        sizes = words.groupBy("doc").agg(F.count("*").alias("sz"))
        a = words.alias("a")
        b = words.alias("b")
        sa = sizes.select(F.col("doc").alias("id1"), F.col("sz").alias("sz1"))
        sb = sizes.select(F.col("doc").alias("id2"), F.col("sz").alias("sz2"))
        common = (
            a.join(
                b,
                (F.col("a.w") == F.col("b.w")) & (F.col("a.doc") < F.col("b.doc")),
            )
            .groupBy(F.col("a.doc").alias("id1"), F.col("b.doc").alias("id2"))
            .agg(F.count("*").alias("common"))
            .join(sa, "id1")
            .join(sb, "id2")
        )
    jac = F.col("common").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("common")
    ).cast("double")
    verified = common.select(
        "id1", "id2", F.round(jac, 4).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)
    return materialized(verified)


# --- containment family --------------------------------------------------
#
# Five heads share one spine over DISTINCT shingle sets:
#   _canon → _rank → _candidates → _verify → _expand / _same_set_pairs
# containment_join and containment_join_incremental rebuild the corpus
# ranks per call; persist_containment_index writes them once and
# containment_probe_persisted / append_containment_index read them.
#
# Eager points: a frame referenced more than once downstream is
# materialized with truncate_lineage (an eager localCheckpoint), not
# .cache(). Every reference to a cached frame re-analyzes its whole
# logical subtree, and with each later frame containing the earlier ones
# the composed plan grows near-exponentially (measured at 1.5 s of driver
# planning per probe call); a checkpoint is the same single
# materialization but leaves a leaf scan behind. Each checkpointed frame
# is bounded by distinct content, the batch or the candidate set.


def _canon(doc_sets: DataFrame) -> DataFrame:
    """(doc, ts, *flags) → (ts, sid, members): one row per DISTINCT
    shingle set, sid = min(doc), members = the doc-sorted array of
    struct(doc, *flags). Candidates and verification then run per set,
    not per doc, so work scales with distinct content rather than
    duplication depth (crawls are commonly 30-50% exact-duplicate
    content; the per-doc form over-spilled the host disk at sf10). The
    group key is the exact sorted shingle array, no hash involved."""
    member = F.struct(*[c for c in doc_sets.columns if c != "ts"])
    return doc_sets.groupBy("ts").agg(
        F.min("doc").alias("sid"),
        F.sort_array(F.collect_list(member)).alias("members"),
    )


def _members(canon: DataFrame) -> DataFrame:
    """(sid, m): one row per member struct of each canonical set."""
    return canon.select("sid", F.explode("members").alias("m"))


def _ceil_t(nt: str, t_num: int, t_den: int) -> Column:
    """ceil(t * nt) in integers: the overlap a set of size nt must reach
    with its partner. Prefix length is nt - ceil(t * nt) + 1."""
    return F.expr(f"({t_num} * {nt} + {t_den - 1}) DIV {t_den}")


def _rank(post: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """Rank a (sid, w, df) posting frame rarest-first: rn = rank of w in
    its set under (df, w), nt = set size, pfx = w lies in the set's
    prefix.

    Prefix-filter theorem (Bayardo/Ma/Srikant WWW 2007 §4, specialized
    to C(A,B) = |A∩B| / min(|A|,|B|)): under any global total order of
    shingles, a qualifying pair's SMALLER set S shares >= ceil(t|S|)
    shingles with the other set, so S's first |S| - ceil(t|S|) + 1
    shingles cannot all miss it. Candidate generation therefore joins
    only small-side prefixes against the full posting index. The order
    needs only to be total and shared, so a frozen persisted df (0 for
    never-indexed shingles) is as lossless as a recomputed one;
    rarest-first is for pruning (prefix shingles are the globally
    rarest, so candidate cost is sum over prefix shingles of df, which
    is sub-quadratic on Zipfian df). Ranking by the xxhash64 fold of
    the shingle instead of its string only changes which candidates are
    probed, never which pairs verify."""
    by_set = Window.partitionBy("sid")
    return (
        post.withColumn("rn", F.row_number().over(by_set.orderBy("df", "w")))
        .withColumn("nt", F.count("*").over(by_set))
        .withColumn("pfx", F.col("rn") <= F.col("nt") - _ceil_t("nt", t_num, t_den) + 1)
    )


def _with_df(post: DataFrame) -> DataFrame:
    """Attach each shingle's df, counted over the (sid, w) postings."""
    return post.join(post.groupBy("w").agg(F.count("*").alias("df")), "w")


def _frozen_df(post: DataFrame, vocab: DataFrame) -> DataFrame:
    """Attach the persisted df to (sid, w) postings from the index's
    kind='vocab' rows: the postings' own keys broadcast into the vocab
    scan, and never-indexed shingles take df = 0."""
    seen = vocab.join(F.broadcast(post.select("w").distinct()), "w")
    return post.join(F.broadcast(seen), "w", "left").na.fill(0, ["df"])


def _candidates(
    probes: list[tuple[DataFrame, DataFrame]], t_num: int, t_den: int
) -> DataFrame:
    """Candidate set pairs (id1 < id2) from (prefix, index) probe pairs of
    ranked (sid, w, nt, rn) postings. A prefix row probes index rows of
    the same shingle whose set is at least as large (ties: larger sid),
    so each pair is generated from its small side only.

    PPJoin positional filter (Xiao/Wang/Lin/Yu WWW 2008 §3.2, adapted to
    containment): for a common shingle at ranks (rn_a, rn_b), every
    later common shingle sits after it in both sets, so at the pair's
    FIRST common shingle |A∩B| <= 1 + min(nt_a - rn_a, nt_b - rn_b).
    The max of that bound over all matched prefix shingles (and over
    every probe, so a pair found twice is judged on its best bound) is
    >= the bound at the first common one, hence dropping pairs whose max
    misses ceil(t * nt_small) is lossless. Without it, the sf10 candidate
    set fed ~83 GB of array rows into verification."""
    small_side = (F.col("a.nt") < F.col("b.nt")) | (
        (F.col("a.nt") == F.col("b.nt")) & (F.col("a.sid") < F.col("b.sid"))
    )
    pairs = [
        prefix.alias("a")
        .join(index.alias("b"), "w")
        .where(small_side)
        .select(
            F.least("a.sid", "b.sid").alias("id1"),
            F.greatest("a.sid", "b.sid").alias("id2"),
            (
                F.lit(1)
                + F.least(F.col("a.nt") - F.col("a.rn"), F.col("b.nt") - F.col("b.rn"))
            ).alias("ub"),
            _ceil_t("a.nt", t_num, t_den).alias("req"),
        )
        for prefix, index in probes
    ]
    return (
        reduce(DataFrame.unionByName, pairs)
        .groupBy("id1", "id2")
        .agg(F.max("ub").alias("ub"), F.max("req").alias("req"))
        .where(F.col("ub") >= F.col("req"))
        .select("id1", "id2")
    )


def _verify(cand: DataFrame, sets: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """Exact check of candidate set pairs against the (sid, ts) arrays:
    (id1, id2, inter, small) where t_den * inter >= t_num * small, the
    threshold in cleared-denominator integers."""

    def side(k: int) -> DataFrame:
        return sets.select(F.col("sid").alias(f"id{k}"), F.col("ts").alias(f"ts{k}"))

    return (
        cand.join(side(1), "id1")
        .join(side(2), "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("ts1", "ts2")).cast("long").alias("inter"),
            F.least(F.size("ts1"), F.size("ts2")).cast("long").alias("small"),
        )
        .where(t_den * F.col("inter") >= t_num * F.col("small"))
    )


def _expand(qual: DataFrame, members: DataFrame) -> DataFrame:
    """Qualifying set pairs → member pairs (m1, m2, inter, small) through
    a (sid, m) member map."""

    def side(k: int) -> DataFrame:
        return members.select(F.col("sid").alias(f"id{k}"), F.col("m").alias(f"m{k}"))

    return (
        qual.join(side(1), "id1")
        .join(side(2), "id2")
        .select("m1", "m2", "inter", "small")
    )


def _same_set_pairs(canon: DataFrame) -> DataFrame:
    """Member pairs inside one canonical set, containment 1 by definition,
    emitted in-row over the doc-sorted members without reaching the
    verifier: (m1, m2, inter, small) with m1 before m2."""
    n = F.size("ts").cast("long")
    pairs = F.expr(
        "flatten(transform(members, (m1, i) -> "
        "transform(slice(members, i + 2, size(members)), m2 -> struct(m1, m2))))"
    )
    return (
        canon.where(F.size("members") >= 2)
        .select(n.alias("inter"), n.alias("small"), F.explode(pairs).alias("p"))
        .select(F.col("p.m1").alias("m1"), F.col("p.m2").alias("m2"), "inter", "small")
    )


def _doc_pairs(cross: DataFrame, same: DataFrame, keep: Column) -> DataFrame:
    """The containment output (id1 < id2, inter, small, contain_milli)
    from the expanded and same-set member pairs that satisfy ``keep``."""
    return (
        cross.unionByName(same)
        .where(keep)
        .select(
            F.least("m1.doc", "m2.doc").alias("id1"),
            F.greatest("m1.doc", "m2.doc").alias("id2"),
            "inter",
            "small",
            F.expr("CAST(1000 * inter DIV small AS BIGINT)").alias("contain_milli"),
        )
    )


def containment_candidates(
    sh: DataFrame, t_num: int = 8, t_den: int = 10, materialize: bool = False
) -> DataFrame:
    """Small-side prefix-filter candidate pairs (id1 < id2) from a
    (doc, w) shingle frame, without verification: exposed so the
    Zipf-fixture invariant test and the bench tooling can pin the
    candidate fraction, the quantity the sub-quadratic claim rides on.
    ``materialize=True`` checkpoints the ranked frame, which feeds both
    join sides; the default stays lazy for plan audits."""
    from itdb_spark.plans.library import truncate_lineage

    post = sh.select(F.col("doc").alias("sid"), "w")
    ranked = _rank(_with_df(post), t_num, t_den)
    if materialize:
        ranked = truncate_lineage(ranked)
    return _candidates([(ranked.where("pfx"), ranked)], t_num, t_den)


def _containment_self_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int,
    t_den: int,
    new_col: str | None,
    materialize: bool,
) -> DataFrame:
    """The rebuild head behind containment_join (no ``new_col``: one
    probe, every pair kept) and containment_join_incremental (the
    two-probe case split, pairs touching the increment kept). df is
    counted over distinct sets per call."""
    from itdb_spark.plans.library import materialized, truncate_lineage

    flags = [F.col(new_col).alias("is_new")] if new_col else []
    # NULL-text guard on the text column (see doc_shingle_sets)
    doc_sets = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), shingle_set_col(text_col).alias("ts"), *flags
    )
    canon = _canon(doc_sets)
    if materialize:
        canon = truncate_lineage(canon)
    touch = (
        [
            F.exists("members", lambda m: m["is_new"]).alias("has_new"),
            F.exists("members", lambda m: ~m["is_new"]).alias("has_old"),
        ]
        if new_col
        else []
    )
    ranked = _rank(
        _with_df(canon.select("sid", *touch, F.explode("ts").alias("w"))), t_num, t_den
    )
    if materialize:
        ranked = truncate_lineage(ranked)
    prefix = ranked.where("pfx")
    if new_col:
        probes = [
            (prefix.where("has_new"), ranked),
            (prefix.where("has_old"), ranked.where("has_new")),
        ]
        keep = F.col("m1.is_new") | F.col("m2.is_new")
    else:
        probes, keep = [(prefix, ranked)], F.lit(True)
    qual = _verify(_candidates(probes, t_num, t_den), canon, t_num, t_den)
    out = _doc_pairs(_expand(qual, _members(canon)), _same_set_pairs(canon), keep)
    return materialized(out, canon) if materialize else out


def containment_join_incremental(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    new_col: str,
    t_num: int = 8,
    t_den: int = 10,
) -> DataFrame:
    """Incremental form of ``containment_join``: exactly the pairs at
    containment >= t that TOUCH the increment (``new_col`` marks the
    newly ingested docs), without regenerating the old×old pair space.

    Case split on the small side A of a qualifying pair (A, B), at set
    level (a set is new-touched / old-touched from its members):
    * A new-touched → probe 1: its prefix joins the full index;
    * A old-touched, B new-touched → probe 2: its prefix joins the index
      restricted to new-touched sets.
    Old×old pairs come from neither probe, so pair generation is bounded
    by the batch. df is recomputed over the union (one groupBy): stale df
    would still be lossless but prunes worse, and a frozen hash order
    measured ~100x more candidates on the Zipf fixture. Output schema
    matches containment_join."""
    return _containment_self_join(docs, id_col, text_col, t_num, t_den, new_col, True)


def containment_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 8,
    t_den: int = 10,
    materialize: bool = True,
) -> DataFrame:
    """EXACT containment self-join at C(A,B) = |A∩B| / min(|A|,|B|) >=
    t_num/t_den over word-3-gram shingle sets → (id1, id2, inter, small,
    contain_milli). The lossless route to quote/boilerplate subsumption
    that the LSH candidate stage structurally misses: a short document
    quoted wholesale inside a long one has containment ~1 but Jaccard
    ~0.1, and MinHash bands tuned for Jaccard surfaced 1% of such planted
    pairs (SCALE.md §round-9; tests/test_wave10.py pins this operator at
    100% on that corpus). Small-side prefix filter, PPJoin bound and
    exact verification as in ``_rank`` / ``_candidates`` / ``_verify``;
    the containment bound depends only on the small set, so unlike the
    symmetric Jaccard AllPairs join no index-side prefix exists.
    Generalizes the reference's bounded candidate probe
    (dupes/dedup.py:146-171) from filename prefixes to content shingles.

    ``materialize=False`` returns the lazy composed frame with no eager
    job (the plan-audit hook, tests/test_plan_audit.py)."""
    return _containment_self_join(
        docs, id_col, text_col, t_num, t_den, None, materialize
    )


def simhash(
    docs: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(doc, simhash): sign of the per-bit sum of ±1 token-hash contributions
    — token *multiset*, each occurrence votes. One explode + one groupBy
    with ``bits`` conditional sums (all map-side combinable). Near-dups
    share most bits → group/bucket on the value."""
    words = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
    )
    hashed = words.select("doc", portable_hash64(F.col("w")).alias("h"))
    sums = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"bit{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy("doc").agg(*sums)
    value = None
    for b in range(bits):
        term = F.when(F.col(f"bit{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        value = term if value is None else (value + term)
    return agg.select("doc", value.cast("long").alias("simhash"))


def _kgram_terms(k: int) -> str:
    """Space-joined k-gram concat() operand list over tokens ``t`` for a
    1-based loop variable ``i`` — ``t[i-1], ' ', t[i], ..., t[i+k-2]``.
    Built from ``k`` so winnow_fingerprints honors its k parameter for
    every k, not just the trigram default."""
    def idx(off: int) -> str:
        return "t[i]" if off == 0 else f"t[i{off:+d}]"

    return ", ' ', ".join(idx(j - 1) for j in range(k))


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(doc, fps): distinct winnowing fingerprints per document —
    portable-hash every k-gram, slide a ``window`` of consecutive hashes,
    keep each window's minimum (Schleimer-Wilkerson-Aiken). Guarantee:
    documents sharing a run of >= window+k-1 tokens share a fingerprint.
    Pure per-row array expressions: no shuffle, no UDF. Shared by the
    text-winnow gate query and winnow_pairs."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # k-gram hashes as ROWS, not a nested array expression: Catalyst's
    # projection collapse would inline an h-array EXPRESSION into every
    # per-window slice(h, j, w) reference — recomputing the whole md5
    # chain once per window, O(n·w) interpreted hash evals per doc
    # (measured 60s for 500 docs). posexplode → codegen'd md5 once per
    # k-gram → collect back through an aggregation, whose output is an
    # ATTRIBUTE the collapse cannot substitute into.
    kg = (
        docs.select(F.col(id_col).alias("doc"), toks.alias("t"))
        .where(F.size("t") >= k)
        .select(
            "doc",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(t)-{k - 1}),"
                    f" i -> concat({_kgram_terms(k)}))"
                )
            ).alias("pos", "g"),
        )
        .select("doc", "pos", portable_hash64(F.col("g")).alias("h"))
    )
    base = kg.groupBy("doc").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "h"))),
            lambda s: s.getField("h"),
        ).alias("h")
    )
    n_windows = F.greatest(F.size("h") - window + 1, F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice("h", j, window)),
        )
    )
    return base.select("doc", F.size("h").cast("long").alias("n_kgrams"), fps.alias("fps"))


def winnow_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 3,
    max_df: int = 20,
) -> DataFrame:
    """(id1, id2, n_shared): document pairs sharing >= ``min_shared``
    winnowing fingerprints — the plagiarism/boilerplate-detection join.

    Scale shape mirrors LSH bucketing: explode fingerprints, DROP
    stop-fingerprints appearing in more than ``max_df`` documents (they
    are corpus boilerplate, and each contributes O(df²) pairs — the
    exact hot-bucket hazard minhash_candidates caps), then self-join on
    fingerprint. Quadratic work is confined to <= max_df-sized posting
    lists. The df-filter broadcasts the SMALL side: a map-side-combinable
    count yields the stop-set (df > max_df), rare by construction, and
    the exploded table anti-joins against it — the hot-key discipline of
    operators/skew.py::skew_safe_join. (Never broadcast the
    kept-fingerprint complement: it is nearly every distinct fingerprint
    in the corpus — billions of rows at 100 TB.)"""
    from itdb_spark.plans.library import materialized

    pairs, f = _winnow_pairs_plan(docs, id_col, text_col, min_shared, max_df)
    return materialized(pairs, f)


def _winnow_pairs_plan(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int,
    max_df: int,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, cached fingerprint frame) BEFORE lineage truncation — split
    out so tests/test_scale_paths.py can assert the physical join plan
    (materialized() checkpoints eagerly, hiding the join behind an RDD
    scan)."""
    # One cached fingerprint table feeds the df-count AND both join sides
    # (the ngram_jaccard_pairs cache-then-release convention) — without it
    # the narrow md5/k-gram pipeline recomputes once per consumer.
    f = (
        winnow_fingerprints(docs, id_col, text_col)
        .select("doc", F.explode("fps").alias("fp"))
        .cache()
    )
    stop = (
        f.groupBy("fp").agg(F.count("*").alias("df")).where(F.col("df") > max_df)
        .select("fp")
    )
    kept = f.join(F.broadcast(stop), "fp", "left_anti")
    a = kept.select(F.col("fp").alias("a_fp"), F.col("doc").alias("id1"))
    b = kept.select(F.col("fp").alias("b_fp"), F.col("doc").alias("id2"))
    pairs = (
        a.join(b, (F.col("a_fp") == F.col("b_fp")) & (F.col("id1") < F.col("id2")))
        .groupBy("id1", "id2")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return pairs, f


def chunk_dup_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 10,
) -> DataFrame:
    """(doc_id, n_chunks, n_dup_chunks): fixed-window chunk-level dedup
    signals — split each doc into consecutive ``chunk_tokens``-token
    chunks (full chunks only), hash them, and count how many of a doc's
    distinct chunks appear in at least one OTHER document. The
    paragraph/passage-dedup step (RefinedWeb-style) generalized to
    boundary-free text; documents shorter than one chunk carry none.

    Blind spot by design: a one-token shift moves every chunk boundary,
    so near-dups with insertions evade chunk hashing — that is what
    winnowing (text-winnow) is for; chunk dedup is the cheap exact-reuse
    detector. Two map-side-combined shuffles: chunk-hash (near-unique,
    skew-free) then doc."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    chunks = F.expr(
        f"transform(sequence(1, size(t) div {chunk_tokens}),"
        f" i -> concat_ws(' ', slice(t, (i-1)*{chunk_tokens}+1, {chunk_tokens})))"
    )
    ch = (
        docs.select(F.col(id_col).alias("doc"), toks.alias("t"))
        .where(F.size("t") >= chunk_tokens)
        .select("doc", F.explode(F.array_distinct(chunks)).alias("c"))
        .select("doc", portable_hash64(F.col("c")).alias("h"))
    )
    docs_per_chunk = ch.groupBy("h").agg(
        F.count_distinct("doc").alias("nd")
    )
    return (
        ch.join(docs_per_chunk, "h")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("long")
            .alias("n_dup_chunks"),
        )
    )


def band_collision_counts(new_bands: DataFrame, index_bands: DataFrame) -> DataFrame:
    """(doc_id, n_hit_bands): incremental-ingest dedup — for each NEW
    document, how many of its LSH bands collide with any bucket of the
    EXISTING corpus index. A doc with n_hit_bands >= 1 is a near-dup
    suspect of something already ingested and goes to verification; the
    rest append clean.

    Scale shape: the index side is the persisted band table of the whole
    corpus (write.partitionBy or bucketBy on (band, band_hash)); the new
    batch is small — broadcast it or rely on the index bucketing so only
    matching buckets are read. No pairwise work at all: collision is
    detected against bucket KEYS (one distinct pass), not member lists."""
    idx = index_bands.select("band", "band_hash").distinct()
    return (
        new_bands.join(idx, ["band", "band_hash"])
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.count_distinct("band").cast("long").alias("n_hit_bands"))
    )


def band_collision_counts_onepass(
    bands: DataFrame, is_idx: Column
) -> DataFrame:
    """``band_collision_counts`` for the case where index and batch are
    SPLITS OF ONE BAND TABLE (the rebuild form's shape): instead of
    filtering the table twice, distinct-ing the index side and joining
    the batch side back (which plants TWO copies of the whole signature
    pipeline in the plan — measured r14: the composed plan cost ~1.3 s
    of driver planning per call, the query's single largest component),
    flag each (band, band_hash) bucket with a window max of ``is_idx``
    and keep batch rows in flagged buckets. ONE copy of the pipeline,
    ONE bucket-keyed shuffle in place of distinct + join — the same
    rows survive: a batch band row joins a distinct index key iff its
    bucket contains >= 1 index row, which is exactly ``max(is_idx) =
    1`` over the bucket. At scale this also drops the join's second
    corpus-scale shuffle (the window and the removed distinct shuffle
    the same band table once).

    NULL keys (r14 ADVICE): an equi-join drops NULL-keyed rows while
    ``Window.partitionBy`` groups them together, so rows with a NULL
    ``band``/``band_hash`` are filtered up front to keep the
    join-equivalence claim exact for ANY caller (minhash_bands itself
    can never produce them — concat_ws never yields NULL — so this
    filter drops nothing on the registered paths)."""
    w = Window.partitionBy("band", "band_hash")
    flag = F.max(F.when(is_idx, 1).otherwise(0)).over(w)
    return (
        bands.where(F.col("band").isNotNull() & F.col("band_hash").isNotNull())
        .withColumn("_hit", flag)
        .where((~is_idx) & (F.col("_hit") == 1))
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.count_distinct("band").cast("long").alias("n_hit_bands"))
    )


def persist_band_index(bands: DataFrame, root: str) -> str:
    """Publish the corpus LSH band table (doc, band, band_hash) as a
    versioned on-disk index — the build-once/probe-many serving shape
    the ANN family already has (persist_ivf_index): at 100 TB the
    corpus-side signatures are computed ONCE at ingest and every
    subsequent batch probes the persisted table instead of re-shingling
    the whole corpus (the rebuild form's per-call cost, linear in the
    corpus; the persisted probe's per-call cost is linear in the BATCH).

    Layout: one immutable version dir hive-partitioned by ``band``
    (NUM_BANDS partitions — a probe restricted to a band subset prunes
    directories; the full probe reads (band, band_hash) keys only,
    never text), published via the sinks/versioned.py atomic-manifest
    kernel — so a refresh (append batch bands, or full rebuild after
    retuning num_perm) is write_version + one atomic pointer swap, with
    old versions retained for pinned readers until vacuum. Returns the
    published version name. band_hash strings and doc ids round-trip
    parquet exactly, so the persisted probe is BIT-identical to the
    in-session form (gated in tests).

    A sibling versioned table at ``<root>_keys`` holds the DISTINCT
    bucket keys (band, band_hash) — round 12: the sf10 probe profile
    put ~2 s of its 11.8 s wall in re-deriving the key set from the
    4M-row member table EVERY call, a corpus-scale distinct that
    belongs at publish time (collision screening needs keys only; the
    member rows stay for verification routing). The keys table is
    derived and read alone by the probe, so single-table manifest
    atomicity still covers every reader.

    Publish ORDER (ADVICE r12): member table FIRST, keys sibling
    SECOND. The two manifests have no cross-table atomicity, so the
    order picks which torn state a crash between them leaves: keys
    without members would route collision hits to members that do not
    exist (over-report, wrong), while members without keys just means
    the probe's fallback derives keys from the member table (fully
    live, merely unamortized) — fail toward under-claiming."""
    from itdb_spark.sinks.versioned import write_version

    v = write_version(bands, root, partition_by=["band"])
    write_version(
        bands.select("band", "band_hash").distinct(),
        root + "_keys",
        partition_by=["band"],
    )
    return v


def band_collision_counts_persisted(
    spark: SparkSession, index_root: str, new_bands: DataFrame
) -> DataFrame:
    """``band_collision_counts`` against a ``persist_band_index`` table:
    the amortized incremental-ingest path — per-call work is the new
    batch's signatures plus one key-join against the on-disk DISTINCT
    bucket-key table (``<root>_keys``, written at publish; no member
    lists, no pairs, no corpus recompute OR corpus-scale distinct per
    call). Reader is pinned to the currently-published version, so a
    concurrent index refresh never perturbs an in-flight probe. Falls
    back to deriving keys from the member table for pre-round-12 roots
    published without the sibling. Both reads follow the append chain
    (read_current_chain — identical to read_current for tables only
    ever replaced), so an ``append_band_index``-maintained index serves
    without compaction."""
    from itdb_spark.sinks.versioned import current_version, read_current_chain

    keys_root = index_root + "_keys"
    if current_version(keys_root) is not None:
        keys = read_current_chain(spark, keys_root).select(
            "band", "band_hash"
        )
        return (
            new_bands.join(keys, ["band", "band_hash"])
            .groupBy(F.col("doc").alias("doc_id"))
            .agg(F.count_distinct("band").cast("long").alias("n_hit_bands"))
        )
    return band_collision_counts(
        new_bands, read_current_chain(spark, index_root)
    )


def append_band_index(
    spark: SparkSession, root: str, new_bands: DataFrame,
    tag: str | None = None,
) -> str:
    """BATCH-BOUNDED refresh of a ``persist_band_index`` table (round
    12 — the containment index's append_containment_index discipline
    applied to the MinHash family): after a screened batch is accepted,
    its band rows land as a DELTA version of the member table and its
    NOT-YET-PRESENT bucket keys as a delta of the sibling keys table —
    two append_version publishes, each an atomic pointer swap, write
    cost bounded by the batch. The novelty anti-join is batch-bounded
    on BOTH sides: the chain's key table is first map-side restricted
    by the broadcast batch keys (matched ⊆ batch keys), then the
    batch's keys anti-join that small frame — the corpus-scale key set
    is scanned once, never shuffled. Returns the member table's new
    version name.

    Publish ORDER (ADVICE r12): member delta FIRST, keys delta SECOND
    — a crash between the two sibling publishes then leaves a keys
    table that merely UNDER-reports (the batch screens as not yet
    accepted; probes stay correct-toward-novelty), instead of keys
    claiming buckets whose member rows do not exist. The novelty
    anti-join reads the keys CHAIN as of entry, which the member
    append never touches, so the swap changes no published content.

    ``tag`` (round 13) makes acceptance idempotent under at-least-once
    delivery: the tag publishes atomically with the KEYS delta — the
    LAST of the two sibling publishes, so a replay after a crash
    between them REDOES both (completing the torn pair) rather than
    skipping forever with the keys half missing. The redo's only
    artifact is a duplicate member delta, which every probe path
    absorbs (collision screening reads the keys SET; counts are
    count_distinct) — exactly-once for the pair's visible semantics."""
    from itdb_spark.sinks.versioned import (
        append_version,
        chain_tags,
        current_version,
        read_current_chain,
    )

    keys_root = root + "_keys"
    if tag and tag in chain_tags(keys_root):
        return current_version(root)  # replay of a COMPLETED accept
    bkeys = new_bands.select("band", "band_hash").distinct()
    matched = (
        read_current_chain(spark, keys_root)
        .select("band", "band_hash")
        .join(F.broadcast(bkeys), ["band", "band_hash"])
        .distinct()
    )
    fresh = bkeys.join(matched, ["band", "band_hash"], "left_anti")
    v = append_version(new_bands, root, partition_by=["band"])
    append_version(fresh, keys_root, partition_by=["band"], tag=tag)
    return v


# Row layout of the persisted containment index: every kind carries all
# columns, NULL where the kind has none.
_INDEX_COLS = {
    "w": "bigint", "df": "bigint", "nt": "bigint", "rn": "int",
    "pfx": "boolean", "doc": "bigint", "ts": "array<bigint>",
    "sid": "bigint", "kh": "bigint",
}


def _index_rows(**kinds: DataFrame) -> DataFrame:
    """Union one frame per ``kind`` into the index's row layout."""
    return reduce(
        DataFrame.unionByName,
        [
            df.select(
                F.lit(kind).alias("kind"),
                *[
                    (F.col(c) if c in df.columns else F.lit(None).cast(t)).alias(c)
                    for c, t in _INDEX_COLS.items()
                ],
            )
            for kind, df in kinds.items()
        ],
    )


def _kind(table: DataFrame, kind: str) -> DataFrame:
    return table.where(F.col("kind") == kind)


def persist_containment_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    root: str,
    t_num: int = 8,
    t_den: int = 10,
) -> str:
    """Build + publish the corpus CONTAINMENT serving index: one
    versioned table, hive-partitioned by ``kind``, holding the corpus
    canonicalized to distinct shingle sets (a per-doc index multiplies
    every probe's candidate space by the duplication depth squared):

      kind='post':   (sid, w BIGINT, df, nt, rn, pfx) — one row per
                     (set, shingle), ranked by ``_rank`` under the
                     corpus's own (df, w) order, df counted over
                     distinct sets;
      kind='member': (sid, doc) — the set → document map;
      kind='vocab':  (w, df) — one row per distinct shingle, so a probe
                     ranks its batch with one map-side key join;
      kind='set':    (sid, ts ARRAY<BIGINT>, kh BIGINT) — the sorted
                     shingle array plus its stored content hash
                     kh = xxhash64(ts), so verification reads candidate
                     arrays and the append matches content by pushing
                     batch kh keys into the scan.

    The order is FROZEN at this build: probes and appends rank new sets
    under the stored df (0 for unseen shingles), a fixed total order, so
    the prefix theorem keeps every later probe lossless (``_rank``);
    batch-era df drift costs pruning, never recall. Persisting the ranks
    is what makes the probe batch-bounded, where the rebuild form
    recomputes the union df per call.

    The table is written range-partitioned by (kind, coalesce(kh, sid,
    w)) and sorted by kh: each set-partition file covers a narrow kh
    band, so row-group stats bound the append's IO by the batch, and the
    secondary key keeps the NULL-kh kinds spread over many files (ranging
    on kh alone put every post/member/vocab row in one reader task).
    All kinds land in ONE version behind one atomic pointer swap
    (sinks/versioned.py); refresh = rebuild + write_version, or
    ``append_containment_index``. Returns the version name."""
    from itdb_spark.sinks.versioned import write_version

    canon = _canon(doc_shingle_sets(docs, id_col, text_col)).cache()
    post = canon.select("sid", F.explode("ts").alias("w"))
    df_ = post.groupBy("w").agg(F.count("*").alias("df"))
    table = (
        _index_rows(
            post=_rank(post.join(df_, "w"), t_num, t_den),
            member=_members(canon).select("sid", "m.doc"),
            vocab=df_,
            set=canon.withColumn("kh", F.xxhash64("ts")),
        )
        .repartitionByRange(F.col("kind"), F.coalesce("kh", "sid", "w"))
        .sortWithinPartitions("kh")
    )
    try:
        return write_version(
            table, root, partition_by=["kind"],
            writer_options={"parquet.block.size": _INDEX_BLOCK_BYTES},
        )
    finally:
        canon.unpersist()


# Row-group size for the containment index's version writes: the
# default 128 MB leaves the kh-clustered set partition with row groups
# too coarse for a micro-batch's pushed-down key filter to prune
# (SCALE.md §r13). 4 MB groups measured the append's restriction stage
# 0.481 -> 0.185 s at sf10 (92 keys) with the probe itself unregressed
# (5.42 -> 5.12 s).
_INDEX_BLOCK_BYTES = str(1 << 22)


# Batch-key count above which the append's content match switches from
# a pushed-down literal IN filter (row-group pruning: IO bounded by the
# batch — the streaming micro-batch shape) to a broadcast join on the
# stored kh (one full 8-byte-column scan, no re-hash — the bulk-ingest
# shape): a plan carrying tens of thousands of literals costs more to
# build and evaluate than the pruning saves (measured at sf10 with 4 MB
# row groups: a 92-key batch's restriction stage 0.185 s vs the
# re-hash's 0.63 s; a 21k-key batch 2.3x SLOWER end-to-end — SCALE.md
# §r13).
_KH_PUSHDOWN_MAX = 4096


def append_containment_index(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 8,
    t_den: int = 10,
    tag: str | None = None,
    use_stored_kh: bool = True,
) -> str:
    """BATCH-BOUNDED refresh of a ``persist_containment_index`` table:
    publish a DELTA version (sinks/versioned.py::append_version — new
    files + one atomic pointer swap) that adds the batch's genuinely new
    distinct sets, their postings ranked under the index's frozen order
    (the vocab partition is never extended), and maps EVERY batch doc
    into the member partition — docs whose exact shingle array already
    exists in the chain join that set's sid. Nothing corpus-scale is
    shuffled, ranked or rewritten. Returns the published version name.

    Content match (the ``kh`` pushdown): the batch's distinct content
    hashes are pushed into the set-partition scan as a literal IN filter
    (up to ``_KH_PUSHDOWN_MAX`` keys, else a broadcast join on the stored
    kh), so with the kh-clustered layout the scan reads only the row
    groups the batch touches and no corpus array is re-hashed. Set rows
    with a NULL stored kh (a pre-kh dir, or a fold that merged one) are
    re-hashed on a side branch, which parquet null-count stats prune to
    nothing on a kh-native chain; the min-esid fold keeps a chain that
    holds the same content under two sids deterministic.
    ``use_stored_kh=False`` forces the re-hash of every set row (the
    reference twin for chains without ``kh``); results are identical.

    ``tag`` is published atomically with the delta (chain_tags), so an
    at-least-once caller can key acceptance on its batch id."""
    from itdb_spark.plans.library import truncate_lineage
    from itdb_spark.sinks.versioned import append_version, read_current_chain

    table = read_current_chain(spark, root)
    braw = truncate_lineage(
        _canon(doc_shingle_sets(batch, id_col, text_col)).withColumn(
            "kh", F.xxhash64("ts")
        )
    )
    sets = _kind(table, "set")

    def rehashed(rows: DataFrame) -> DataFrame:
        return rows.select(
            F.col("sid").alias("esid"), "ts", F.xxhash64("ts").alias("kh")
        ).join(F.broadcast(braw.select("kh").distinct()), "kh")

    if use_stored_kh and "kh" in table.columns:
        stored = sets.where(F.col("kh").isNotNull()).select(
            F.col("sid").alias("esid"), "ts", "kh"
        )
        bkh = [r["kh"] for r in braw.select("kh").distinct().collect()]
        if len(bkh) <= _KH_PUSHDOWN_MAX:
            matched = stored.where(F.col("kh").isin(bkh) if bkh else F.lit(False))
        else:
            matched = stored.join(F.broadcast(braw.select("kh").distinct()), "kh")
        found = matched.unionByName(rehashed(sets.where(F.col("kh").isNull())))
    else:
        found = rehashed(sets)
    found = found.groupBy("kh", "ts").agg(F.min("esid").alias("esid"))
    bcanon = truncate_lineage(
        braw.join(found, ["kh", "ts"], "left").select(
            F.coalesce("esid", "sid").alias("sid"),
            F.col("esid").isNull().alias("is_new_set"),
            "ts",
            "members",
            "kh",
        )
    )
    new_sets = bcanon.where("is_new_set")
    post = _frozen_df(
        new_sets.select("sid", F.explode("ts").alias("w")),
        _kind(table, "vocab").select("w", "df"),
    )
    delta = _index_rows(
        post=_rank(post, t_num, t_den),
        member=_members(bcanon).select("sid", "m.doc"),
        set=new_sets,
    ).sortWithinPartitions("kh")
    # braw/bcanon are checkpoint leaves, reclaimed by the ContextCleaner
    # once `delta` is dropped; an unpersist before the publish would
    # recompute the delta
    return append_version(
        delta, root, partition_by=["kind"], tag=tag,
        writer_options={"parquet.block.size": _INDEX_BLOCK_BYTES},
    )


def containment_probe_persisted(
    spark: SparkSession,
    index_root: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 8,
    t_den: int = 10,
) -> DataFrame:
    """``containment_join_incremental`` against a
    ``persist_containment_index`` table: exactly the containment >= t
    pairs touching ``batch`` over (index corpus ∪ batch), with per-call
    work bounded by the BATCH. Batch doc ids must be disjoint from the
    indexed corpus's.

    The batch canonicalizes itself and ranks under the index's frozen
    order (``_frozen_df``). Probe 1 joins batch-set prefixes against the
    stored postings ∪ the batch's; probe 2 joins the stored prefix rows
    against the batch postings. The batch side broadcasts in both, so
    the corpus-scale posting partition streams map-side with no
    corpus-sized exchange. Verification reads candidate index sets'
    arrays off the 'set' partition and member expansion reads the
    'member' partition, both map-side restricted to the broadcast
    candidate sids. Every cross pair has a batch side, and only the
    batch's own identical-content pairs are emitted in-row, so no
    old×old pair appears. Output is set-identical to the rebuild form
    (tests/test_wave12.py)."""
    from itdb_spark.plans.library import materialized, truncate_lineage
    from itdb_spark.sinks.versioned import read_current_chain

    table = read_current_chain(spark, index_root)
    bcanon = truncate_lineage(_canon(doc_shingle_sets(batch, id_col, text_col)))
    post = _frozen_df(
        bcanon.select("sid", F.explode("ts").alias("w")),
        _kind(table, "vocab").select("w", "df"),
    )
    branked = truncate_lineage(_rank(post, t_num, t_den))
    posting = ["sid", "w", "nt", "rn"]
    idx = _kind(table, "post")
    b_post = branked.select(*posting)
    probes = [
        # batch prefixes x (stored ∪ batch) postings: small side new
        (
            F.broadcast(branked.where("pfx")),
            idx.select(*posting).unionByName(b_post),
        ),
        # stored prefixes x batch postings: small side old, partner new
        (idx.where("pfx").select(*posting), F.broadcast(b_post)),
    ]
    cand = truncate_lineage(_candidates(probes, t_num, t_den))
    cand_sids = F.broadcast(
        cand.select(F.explode(F.array("id1", "id2")).alias("sid")).distinct()
    )
    # two verification joins read it; candidate-set-bounded, so it
    # broadcasts and the candidate pairs never shuffle with arrays
    all_ts = (
        _kind(table, "set").select("sid", "ts").join(cand_sids, "sid")
        .unionByName(bcanon.select("sid", "ts"))
        .cache()
    )
    qual = _verify(cand, F.broadcast(all_ts), t_num, t_den)
    members = (
        _kind(table, "member").select("sid", F.struct("doc").alias("m"))
        .unionByName(_members(bcanon))
        .join(cand_sids, "sid")
    )
    out = _doc_pairs(_expand(qual, members), _same_set_pairs(bcanon), F.lit(True))
    return materialized(out, bcanon, branked, cand, all_ts)


def duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
) -> DataFrame:
    """(doc_id, n_spans, dup_tokens, max_span_len, first_span_start):
    exact-substring duplicate-span detection (the ExactSubstr dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better") at token granularity: a token span is DUPLICATED when the
    ``min_len``-gram starting there occurs >= 2 times in the whole corpus
    (within-document repeats count, as in the paper's suffix-array
    criterion). Overlapping duplicated grams are consolidated into
    MAXIMAL disjoint spans — interval union, so ``dup_tokens`` is the
    exact number of tokens lying inside any duplicated region, the
    quantity a span-removal pass would delete. Documents with no
    duplicated span produce no row.

    The reference dedups whole files by content fingerprint
    (dupes/dedup.py:127-143); this is the sub-document generalization a
    training corpus needs — boilerplate headers/footers and quoted
    passages duplicate spans without duplicating files.

    Scale shape (100 TB): the suffix array of the paper is replaced by
    three bounded shuffles — (1) gram-frequency groupBy, whose map-side
    partial aggregation collapses boilerplate grams BEFORE the exchange
    (a gram occurring 10^8 times ships one partial count per input
    partition, not 10^8 rows); (2) a hash join of gram-positions against
    the (much smaller) duplicated-gram table; (3) one groupBy(doc)
    collecting the matched positions, after which span consolidation is
    pure per-row array arithmetic bounded by each document's own length.
    No window over the gram table, so a hot gram never serializes into
    one partition's sort. Gram hashing reuses the posexplode discipline
    of winnow_fingerprints (dedup.py:526) to keep md5 evaluation at one
    per gram under projection collapse."""
    iv = duplicate_span_intervals(docs, id_col, text_col, min_len)
    lens = F.zip_with("starts", "ends", lambda s, e: e - s + F.lit(min_len))
    return iv.select(
        "doc_id",
        F.size(lens).cast("long").alias("n_spans"),
        F.aggregate(
            lens, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("dup_tokens"),
        F.array_max(lens).cast("long").alias("max_span_len"),
        F.element_at(F.col("starts"), 1).cast("long").alias("first_span_start"),
    )


def duplicate_span_intervals(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
) -> DataFrame:
    """(doc_id, starts, ends): the maximal duplicated regions underlying
    duplicate_spans, as parallel arrays of GRAM positions — region i
    covers tokens [starts[i], ends[i] + min_len - 1]. Shared by the
    dedup-span stats query and remove_duplicate_spans (the despan
    rewrite). Only documents with at least one duplicated gram appear."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    kg = (
        docs.select(F.col(id_col).alias("doc"), toks.alias("t"))
        .where(F.size("t") >= min_len)
        .select(
            "doc",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(t)-{min_len - 1}),"
                    f" i -> concat_ws(' ', slice(t, i, {min_len})))"
                )
            ).alias("pos0", "g"),
        )
        .select(
            "doc",
            (F.col("pos0") + 1).alias("pos"),
            portable_hash64(F.col("g")).alias("h"),
        )
    )
    dup_grams = (
        kg.groupBy("h").agg(F.count("*").alias("cnt")).where(F.col("cnt") >= 2)
    )
    positions = (
        kg.join(dup_grams.select("h"), "h")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.array_sort(F.collect_list("pos")).alias("p"))
    )
    # Interval union of [pos, pos+L-1] grams: a new maximal span starts
    # where the gap to the previous duplicated gram exceeds L (lazy CASE
    # branches keep array indexing in-bounds under ANSI mode).
    starts = F.expr(
        "filter(transform(sequence(0, size(p)-1),"
        " i -> CASE WHEN i = 0 THEN p[i]"
        f"      WHEN p[i] - p[i-1] > {min_len} THEN p[i] END),"
        " x -> x IS NOT NULL)"
    )
    ends = F.expr(
        "filter(transform(sequence(0, size(p)-1),"
        " i -> CASE WHEN i = size(p)-1 THEN p[i]"
        f"      WHEN p[i+1] - p[i] > {min_len} THEN p[i] END),"
        " x -> x IS NOT NULL)"
    )
    return positions.select(
        "doc_id", starts.alias("starts"), ends.alias("ends")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
) -> DataFrame:
    """(doc_id, clean_text, n_tokens, n_removed): the despan REWRITE —
    the actual deliverable of exact-substring dedup: every token inside
    a duplicated region (duplicate_span_intervals) is deleted and the
    survivors re-join with single spaces (whitespace is normalized; the
    token stream, not the byte stream, is the unit of removal, as in
    Lee et al.'s span-excision pass). Documents with no duplicated span
    pass through with their token stream intact. Left join against the
    interval table + per-row array arithmetic — membership cost is
    O(n_tokens · n_spans) per doc, both bounded by the doc itself."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    iv = duplicate_span_intervals(docs, id_col, text_col, min_len)
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    j = base.join(iv, "doc_id", "left")
    kept = F.expr(
        "CASE WHEN starts IS NULL THEN t ELSE "
        "filter(transform(sequence(1, size(t)), j -> "
        "  CASE WHEN array_max(zip_with(starts, ends, (s, e) -> "
        f"    CASE WHEN j >= s AND j <= e + {min_len - 1} THEN 1 ELSE 0 END)) = 1 "
        "  THEN NULL ELSE t[j-1] END), x -> x IS NOT NULL) END"
    )
    return j.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("n_tokens"),
        (F.size("t") - F.size(kept)).cast("long").alias("n_removed"),
    )
