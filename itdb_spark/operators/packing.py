"""Sequence packing for LLM pretraining batches: concatenate documents in
a deterministic order and slice the token stream into fixed-budget packs
(the standard concat-and-chunk layout — every pack is exactly ``budget``
tokens except the last, documents may straddle pack boundaries).

Packing semantics choice: concat-and-chunk is the form that scales.
True greedy bin packing (next-fit/first-fit: close a bin when the next
document would overflow) carries sequential state per bin — inherently a
single-threaded scan, unshardable without changing its output. The
concat-and-chunk form is a pure function of the exclusive token cumsum,
which the ranged two-phase pattern (plans/library.ranged_cumsum)
computes with NO single-partition exchange — so the same plan packs a
100 TB corpus. (The reference has no packing analog; this is one of the
training-data extensions the engine adds, COVERAGE.md.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itdb_spark.plans.library import model_df, ranged_cumsum


def pack_sequences(
    docs: DataFrame,
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
    bucket=None,
) -> DataFrame:
    """(order_col, n_tokens, pack_id, pack_offset) for every document:

    * ``pack_id``   — which fixed-``budget`` pack the document STARTS in
                      (floor(cumsum_before / budget));
    * ``pack_offset`` — token position within that pack
                      (cumsum_before mod budget).

    A document with pack_offset + n_tokens > budget straddles into the
    next pack(s) — the trainer's chunker handles the split; the pack
    boundaries themselves are deterministic and order-reproducible, so a
    SQL oracle (one window cumsum) can verify the assignment exactly.
    """
    cum = ranged_cumsum(
        docs, [order_col], tokens_col, out_col="_cb", bucket=bucket
    )
    return cum.select(
        order_col,
        F.col(tokens_col).cast("long").alias(tokens_col),
        F.floor(F.col("_cb") / budget).cast("long").alias("pack_id"),
        (F.col("_cb") % budget).cast("long").alias("pack_offset"),
    )


def pack_chunks(
    docs: DataFrame,
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
    bucket=None,
) -> DataFrame:
    """The chunk-split expansion of ``pack_sequences`` — what the trainer
    actually consumes: one row per (document, pack) a document touches,
    with the slice geometry

    * ``slice_start`` — first token of the doc that lands in this pack;
    * ``slice_len``  — how many of the doc's tokens this pack takes.

    A doc spanning packs p0..p1 explodes into p1−p0+1 rows (bounded by
    ceil(n_tokens/budget)+1 — long docs fan out proportionally to their
    own length, never to corpus size). Invariants (unit-tested): per-doc
    Σ slice_len = n_tokens; per-pack Σ slice_len = budget for every pack
    except the last.

    Zero-token docs emit NO chunk rows (filtered before the explode):
    with n <= 0 and cumsum_before on a pack boundary, p1 < p0 and
    F.sequence(p0, p1) would generate a DESCENDING two-element sequence —
    spurious rows with slice_len <= 0 that a SQL generate_series oracle
    (empty for p1 < p0) never emits. They still participate in the
    cumsum; contributing 0 tokens, they shift nothing."""
    cum = ranged_cumsum(docs, [order_col], tokens_col, out_col="_cb", bucket=bucket)
    n = F.col(tokens_col).cast("long")
    cb = F.col("_cb")
    p0 = F.floor(cb / budget).cast("long")
    p1 = F.floor((cb + n - 1) / budget).cast("long")
    exploded = cum.where(n > 0).select(
        order_col,
        n.alias("_n"),
        cb.alias("_cbv"),
        F.explode(F.sequence(p0, p1)).alias("pack_id"),
    )
    pack_lo = F.col("pack_id") * budget
    pack_hi = (F.col("pack_id") + 1) * budget
    start_tok = F.greatest(F.col("_cbv"), pack_lo)
    end_tok = F.least(F.col("_cbv") + F.col("_n"), pack_hi)
    return exploded.select(
        order_col,
        "pack_id",
        (start_tok - F.col("_cbv")).cast("long").alias("slice_start"),
        (end_tok - start_tok).cast("long").alias("slice_len"),
    )


BPE_MERGES = (
    "t h", "h e", "i n", "e r", "a n", "r e", "o n", "a t", "e n", "n d",
    "e s", "o r", "t e", "e d", "i s", "i t", "a l", "a r", "s t", "t o",
    "th e", "in g", "an d", "er s",
)


def bpe_segment(word: str, merges: tuple[str, ...] = BPE_MERGES) -> list[str]:
    """GPT-2-style BPE application with a fixed merge table: repeatedly
    merge the FIRST occurrence of the lowest-rank adjacent pair until no
    pair is in the table. First-occurrence-per-step is equivalent to the
    usual merge-all-occurrences-left-to-right: while the best pair is
    still present it stays the best (ranks are fixed; equal rank means
    the same pair), so successive steps sweep its occurrences left to
    right before any other pair can move."""
    syms = list(word)
    rank = {m: i for i, m in enumerate(merges)}
    while len(syms) > 1:
        best_i, best_r = -1, len(merges)
        for i in range(len(syms) - 1):
            r = rank.get(syms[i] + " " + syms[i + 1], len(merges))
            if r < best_r:
                best_i, best_r = i, r
        if best_i < 0 or best_r >= len(merges):
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_pair_counts(state: DataFrame, min_count: int = 2) -> DataFrame:
    """Adjacent-pair counts over a (c, syms) vocabulary state — the ONE
    shuffle inside each learn_bpe iteration, exposed for the plan gate:
    the sum must partial-aggregate map-side (the exchange carries
    |distinct pairs| rows, never the exploded pair stream)."""
    return (
        state.where(F.size("syms") >= 2)
        .select(
            "c",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> concat(syms[i], ' ', syms[i + 1]))"
                )
            ).alias("p"),
        )
        .groupBy("p")
        .agg(F.sum("c").cast("long").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )


def learn_bpe(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 12,
    min_count: int = 2,
    batch: int = 1,
) -> DataFrame:
    """BPE merge-table TRAINING (Sennrich et al. 2016) — the learning
    half of the tokenizer loop whose application half is bpe_segment /
    fn-bpe: iteratively count corpus-wide adjacent symbol pairs
    (weighted by word frequency), merge the most frequent pair
    everywhere, repeat. Returns (rank, left_sym, right_sym, merged,
    pair_count) — the merge table bpe_segment consumes.

    Scale shape (the same discipline as Lloyd's in ivf.py/pq.py): the
    corpus is touched ONCE (word-count groupBy); every iteration after
    that is vocabulary-scale — one map-side-combined groupBy over
    exploded adjacent pairs (the only shuffle, keyed by pair), a 1-row
    argmax collect (the driver-side decision every iterative trainer
    makes), and a narrow fold projection applying the merge. State
    lineage is truncated per iteration. ``n_merges`` bounds the loop;
    training cost is O(n_merges · |vocab|), never O(corpus).

    Determinism / oracle parity: ties in pair count break by the pair
    string ascending (binary UTF-8 compare — identical in Spark and
    DuckDB); counts are BIGINT; training stops when no pair reaches
    ``min_count``. Symbols are Unicode code points (list(word) — the
    bpe_segment convention). The merge substitution is a left-to-right
    non-overlapping array fold; the DuckDB oracle replays it as a
    sentinel-delimited string replace() (also left-to-right
    non-overlapping), so both engines merge identical occurrences —
    words containing the sentinel code points (U+0001/U+0002) are
    filtered from the vocabulary on BOTH sides to make the encoding
    injective."""
    spark = docs.sparkSession
    from itdb_spark.plans.library import truncate_lineage

    # No parallelism floor on the vocab build (r14 negative result):
    # flooring the docs scan measured WORSE at sf0.1 (0.09 s repartition
    # + 0.31 s over 32 tasks vs 0.22 s on the single scan task — the
    # stage is too small to amortize the task scheduling). At scale the
    # scan has real splits anyway.
    toks = (
        docs.where(F.length(F.trim(text_col)) > 0)
        .select(F.explode(F.split(F.trim(F.lower(text_col)), r"\s+")).alias("w"))
        .where(
            (F.length("w") >= 1)
            & ~F.col("w").contains("\x01")
            & ~F.col("w").contains("\x02")
        )
    )
    vocab = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    chars = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    state = truncate_lineage(
        vocab.select("c", chars.alias("syms")), eager=True
    )
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges:
        pairs = bpe_pair_counts(state, min_count)
        room = n_merges - len(merges)
        if batch == 1:
            best = pairs.orderBy(F.desc("cnt"), F.asc("p")).limit(1).collect()
        else:
            # deploy lever (SCALE.md): amortize the per-round argmax
            # collect by taking up to `batch` NON-INTERACTING pairs per
            # round, greedily from the (count desc, pair asc) order.
            # Non-interaction requires the rules' INPUT SYMBOLS *and*
            # MERGED OUTPUTS to be pairwise disjoint — a merged output
            # is NOT automatically a new symbol (code review:
            # ("abc","d") and ("a","bc") share no input yet the second
            # rule's output IS the first rule's left symbol, and the
            # one-pass fold then merges [a, bc, d] to [abcd] where
            # sequential application yields [abc, d]). With the full
            # {left, right, left+right} sets disjoint, merging one rule
            # can neither create nor destroy an occurrence of another,
            # so the multi-rule fold below is ORDER-FREE and exactly
            # equal to applying the rules sequentially. The SELECTION
            # itself remains a greedy approximation of merge-by-merge
            # training (a pair involving a just-merged symbol could
            # outrank later batch members), so batch>1 is a deploy
            # twin, never the registered oracle-replayed form. Gated
            # against a Python reference of these exact semantics plus
            # compression quality in tests/test_operators.py.
            top = (
                pairs.orderBy(F.desc("cnt"), F.asc("p"))
                .limit(4 * batch)
                .collect()
            )
            best, used = [], set()
            for r in top:
                l, rt = r.p.split(" ")
                if used & {l, rt, l + rt}:
                    continue
                best.append(r)
                used.update((l, rt, l + rt))
                if len(best) == min(batch, room):
                    break
        if not best:
            break
        rules = []
        for r in best:
            left, right = r.p.split(" ")
            merges.append(
                (len(merges) + 1, left, right, left + right, int(r.cnt))
            )
            rules.append((left, right))

        # factory, not a default arg: pyspark's lambda-arity inspection
        # would read a third parameter as the lambda's index variable.
        # r15: the per-element rule check is ONE struct-keyed map lookup
        # instead of the previous nested when-chain (one branch per
        # rule, each re-comparing last(acc) and x): the batch's rules
        # are pairwise symbol-disjoint by selection, so at most one
        # rule can match a given (last, x) pair and the lookup picks
        # exactly the branch the chain would have — same result, ~8×
        # fewer expression nodes per element at batch=8, which is what
        # the per-round driver planning wall was made of (r15 profile:
        # 1.5-3 s planning gaps per round on the chained form).
        def _make_merge_step(step_rules):
            rmap = F.create_map(
                *[
                    part
                    for left, right in step_rules
                    for part in (
                        F.struct(
                            F.lit(left).alias("l"), F.lit(right).alias("r")
                        ),
                        F.lit(left + right),
                    )
                ]
            )

            def _merge_step(acc, x):
                # size guard first: Catalyst `when` only evaluates the
                # lookup on the guarded branch, and element_at(acc, -1)
                # on an empty array errors under ANSI
                merged = F.when(
                    F.size(acc) > 0,
                    F.try_element_at(
                        rmap,
                        F.struct(
                            F.element_at(acc, -1).alias("l"), x.alias("r")
                        ),
                    ),
                )
                return F.when(
                    merged.isNotNull(),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                    ),
                ).otherwise(F.concat(acc, F.array(x)))

            return _merge_step

        new_syms = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            _make_merge_step(tuple(rules)),
        )
        state = truncate_lineage(
            state.select("c", new_syms.alias("syms")), eager=True
        )
    # a merge table is model-sized at any corpus scale
    return model_df(
        spark,
        merges,
        "rank long, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


_BPE_TRAIN_HEAD = [
    """toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE len(trim(text)) > 0
    ),
    vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks
      WHERE len(w) >= 1 AND NOT contains(w, chr(1)) AND NOT contains(w, chr(2))
      GROUP BY w
    ),
    words_0 AS MATERIALIZED (
      SELECT c,
             chr(1) || array_to_string(
               list_transform(range(1, len(w) + 1), i -> w[i]),
               chr(2) || chr(1)) || chr(2) AS s
      FROM vocab
    )"""
]


def _bpe_train_level(k: int, min_count: int) -> str:
    return f"""pairs_{k} AS MATERIALIZED (
      SELECT p, CAST(sum(c) AS BIGINT) AS cnt FROM (
        SELECT c, unnest(list_transform(range(1, len(syms)),
                     i -> concat(syms[i], ' ', syms[i + 1]))) AS p
        FROM (
          SELECT c,
                 string_split(trim(s, chr(1) || chr(2)), chr(2) || chr(1)) AS syms
          FROM words_{k}
        ) WHERE len(syms) >= 2
      ) GROUP BY p HAVING CAST(sum(c) AS BIGINT) >= {min_count}
    ),
    best_{k} AS MATERIALIZED (
      SELECT p, cnt FROM pairs_{k} ORDER BY cnt DESC, p LIMIT 1
    ),
    words_{k + 1} AS MATERIALIZED (
      SELECT c,
             CASE WHEN b.p IS NULL THEN s
                  ELSE replace(s,
                         chr(1) || split_part(b.p, ' ', 1) || chr(2)
                           || chr(1) || split_part(b.p, ' ', 2) || chr(2),
                         chr(1) || replace(b.p, ' ', '') || chr(2))
             END AS s
      FROM words_{k} LEFT JOIN best_{k} b ON true
    )"""


def _bpe_train_select(k: int) -> str:
    return f"""SELECT CAST({k + 1} AS BIGINT) AS rank,
           split_part(p, ' ', 1) AS left_sym,
           split_part(p, ' ', 2) AS right_sym,
           replace(p, ' ', '') AS merged,
           cnt AS pair_count
    FROM best_{k}"""


def _bpe_train_parts(
    n_merges: int, min_count: int
) -> tuple[list[str], list[str]]:
    """(CTE parts, per-level merge SELECTs) shared by the fn-bpe-train
    oracle and the fn-bpe-roundtrip oracle — one rendering of the
    training replay, two graded consumers (the bm25_replay_ctes
    discipline)."""
    parts = _BPE_TRAIN_HEAD[:]
    for k in range(n_merges):
        parts.append(_bpe_train_level(k, min_count))
    selects = [_bpe_train_select(k) for k in range(n_merges)]
    return parts, selects


def bpe_train_oracle_sql(n_merges: int = 12, min_count: int = 2) -> str:
    """DuckDB twin of learn_bpe: the merge fixpoint UNROLLED into
    ``n_merges`` chained CTE levels (the proven pattern — the sim-knn-ivf
    oracle unrolls Lloyd's the same way; a RECURSIVE CTE cannot
    aggregate over its own recursion table, which pair counting needs).
    Each level re-derives pair counts from the sentinel-delimited word
    strings, picks the argmax (count desc, pair asc — the same
    tie-break), and applies the merge via non-overlapping left-to-right
    replace(); a level whose best pair misses ``min_count`` passes the
    state through unchanged, so early exhaustion yields fewer rows on
    both engines identically. Every level is AS MATERIALIZED: each
    words_k is referenced twice (pair counting + the next level), so
    DuckDB's default CTE inlining would re-evaluate the chain
    exponentially (2^n_merges over the base scan — measured: the
    un-materialized form did not finish)."""
    parts, selects = _bpe_train_parts(n_merges, min_count)
    return (
        "\n    WITH " + ",\n    ".join(parts) + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
    )


def bpe_roundtrip_oracle_sql(n_merges: int = 12, min_count: int = 2) -> str:
    """DuckDB twin of the END-TO-END tokenizer loop: replay learn_bpe's
    training (the shared _bpe_train_parts levels), collect the learned
    merge table into a rank-ordered list, then segment the corpus
    vocabulary with it via the fn-bpe recursive-CTE pattern (first
    occurrence of the lowest-rank adjacent pair per recursion level —
    provably equal to merge-all-left-to-right) and join the counts back
    per document. The only difference from the fn-bpe-count oracle is
    that the merge list is the LEARNED `(SELECT m FROM ml)` instead of a
    literal; an empty learned table (degenerate corpus) yields a NULL
    list, every list_position returns NULL, and segmentation stays at
    the character level — exactly bpe_segment's behavior with an empty
    merges tuple."""
    parts, selects = _bpe_train_parts(n_merges, min_count)
    union = "\n        UNION ALL\n        ".join(selects)
    # DuckDB forbids subqueries inside lambdas — the learned list joins
    # in as a plain column (ml is one row) and the lambda captures it
    pos = "nullif(list_position(m, concat(syms[i], ' ', syms[i+1])), 0)"
    parts.append(f"""ml AS MATERIALIZED (
      SELECT list(left_sym || ' ' || right_sym ORDER BY rank) AS m
      FROM ({union})
    )""")
    parts.append("""atoks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE len(trim(text)) > 0
    ),
    awords AS (SELECT DISTINCT w FROM atoks WHERE len(w) >= 1)""")
    parts.append(f"""bpe AS (
      SELECT w, list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
      FROM awords
      UNION ALL
      SELECT w,
        list_concat(list_concat(
          syms[1:bi-1],
          [concat(syms[bi], syms[bi+1])]),
          syms[bi+2:]) AS syms
      FROM (
        SELECT w, syms,
          list_position(
            list_transform(range(1, len(syms)), i -> {pos}),
            list_min(list_filter(
              list_transform(range(1, len(syms)), i -> {pos}),
              x -> x IS NOT NULL))) AS bi
        FROM bpe, ml
      ) WHERE bi IS NOT NULL
    ),
    seg AS (
      SELECT w, CAST(len(syms) AS BIGINT) AS n_subwords
      FROM bpe, ml
      WHERE len(list_filter(list_transform(range(1, len(syms)), i -> {pos}),
            x -> x IS NOT NULL)) = 0
    )""")
    return (
        "\n    WITH RECURSIVE " + ",\n    ".join(parts) + """
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(s.n_subwords) AS BIGINT) AS n_bpe_tokens
    FROM atoks t JOIN seg s USING (w)
    GROUP BY 1
    """
    )
