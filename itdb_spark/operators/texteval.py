"""Text-pair evaluation over (candidate, reference) document pairs: ROUGE-n
(Lin, ACL 2004 workshop), BLEU component counts (Papineni et al., ACL
2002) and chrF component counts (Popović, WMT 2015) — the summarization/
eval-harness counterpart of the retrieval metrics in
operators/retrieval.py. Training-data pipelines run exactly this shape
for decontamination scoring (candidate training doc vs benchmark
reference) and for eval-set regression tracking.

Scale shape: the three heads are thin folds over ONE stage,
``_clipped_counts``. Per side, every requested gram level leaves through
one level-tagged explode; both sides union into a single
(pair, n, gram)-keyed sum (one gram-postings shuffle), a bounded
per-(pair, n) fold clips the counts (m = Σ_g min(cand(g), ref(g)), tc,
tr), and a left join from the broadcast pairs × n grid keeps explicit
zero rows for empty or too-short texts. No cross join against the
corpus: the grid's build side is the n-range.

Exactness: every metric is integer micro-unit arithmetic on BIGINT
counts through one guarded ratio, ``_micros`` (1e6·num div den, 0 on an
empty denominator). F-scores use count-level identities (ROUGE F1 =
2·overlap/(n_cand + n_ref), chrF2 = 5m/(4·tr + tc)), so each is ONE
integer floor division, never a compounding of two rounded ratios. A
DuckDB oracle reproduces every value bit-for-bit with `//`; the
irrational BLEU/chrF folds (geometric mean, brevity penalty, the cross-n
average) stay with the consumer.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from itdb_spark.catalog import EDGE_ID_FLOOR
from itdb_spark.functions.core import bind_once


def _gram_col(text: Column, n: int) -> Column:
    """Multiset of lowercase word n-grams as array<string> (duplicates
    preserved — ROUGE clips on COUNTS, not distinct grams). Empty or
    too-short texts yield an empty array."""
    toks = F.array_remove(F.split(F.lower(F.trim(text)), r"\s+"), "")
    if n == 1:
        return toks
    # adjacent n-token windows via transform over the valid start range;
    # the token array is bound ONCE (bind_once, r14): referenced inline,
    # the split+array_remove re-ran per element × n element_at refs —
    # O(tokens²) per doc (the word_shingles hazard)
    return bind_once(
        toks,
        lambda t: F.when(
            F.size(t) < n, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)],
                ),
            )
        ),
    )


def _char_gram_col(text: Column, n: int) -> Column:
    """Multiset of character n-grams over the WHITESPACE-STRIPPED
    lowercase text (chrF operates on characters with spaces removed —
    Popović 2015 §2). Too-short strings yield an empty array."""
    s = F.regexp_replace(F.lower(text), r"\s+", "")
    if n == 1:
        # split-to-chars keeps this the cheap path
        return F.filter(F.split(s, ""), lambda c: c != F.lit(""))
    # bind the stripped string ONCE (bind_once, r14): referenced inline,
    # the whole-text regexp_replace re-ran per extracted gram — O(chars²)
    # per doc per n
    return bind_once(
        s,
        lambda ss: F.when(
            F.length(ss) < n, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(ss) - n + 1),
                lambda i: ss.substr(i, F.lit(n)),
            )
        ),
    )


def _micros(num: str, den: str) -> Column:
    """BIGINT ``num * 1e6 div den`` (SQL expressions over the count
    columns), 0 when the non-negative denominator is 0."""
    return (
        F.when(F.expr(f"{den} > 0"), F.expr(f"{num} * 1000000 div ({den})"))
        .otherwise(F.lit(0).cast("long"))
        .cast("long")
    )


def _clipped_counts(
    pairs: DataFrame,
    gram_fn: Callable[[Column, int], Column],
    ns: range,
    pair_col: str,
    cand_col: str,
    ref_col: str,
) -> DataFrame:
    """Dense (pair_id, n, m, tc, tr): for every input pair and every n in
    ``ns``, the clipped match count m = Σ_g min(cand(g), ref(g)) and the
    candidate/reference gram totals over ``gram_fn(text, n)``; pairs
    with no grams at some n get an explicit zero row."""
    def side(col: str, cm: int, rm: int) -> DataFrame:
        def tag(n: int):
            # single-arg closure: F.transform's two-arg form binds the
            # element INDEX as the second argument and would clobber
            # the level tag
            return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

        levels = [F.transform(gram_fn(F.col(col), n), tag(n)) for n in ns]
        return pairs.select(
            F.col(pair_col).alias("pair_id"),
            F.explode_outer(F.concat(*levels)).alias("ng"),
        ).select(
            "pair_id",
            F.col("ng.n").alias("n"),
            F.col("ng.gram").alias("gram"),
            F.lit(cm).alias("c"),
            F.lit(rm).alias("r"),
        )

    counts = (
        side(cand_col, 1, 0)
        .unionByName(side(ref_col, 0, 1))
        .where(F.col("gram").isNotNull())
        .groupBy("pair_id", "n", "gram")
        .agg(
            F.sum("c").cast("long").alias("nc"),
            F.sum("r").cast("long").alias("nr"),
        )
    )
    per_n = counts.groupBy("pair_id", "n").agg(
        F.sum(F.least("nc", "nr")).cast("long").alias("m"),
        F.sum("nc").cast("long").alias("tc"),
        F.sum("nr").cast("long").alias("tr"),
    )
    grid = pairs.select(F.col(pair_col).alias("pair_id")).crossJoin(
        F.broadcast(
            pairs.sparkSession.range(ns.start, ns.stop).select(
                F.col("id").cast("int").alias("n")
            )
        )
    )
    z = F.lit(0).cast("long")
    return grid.join(per_n, ["pair_id", "n"], "left").select(
        "pair_id",
        "n",
        F.coalesce("m", z).alias("m"),
        F.coalesce("tc", z).alias("tc"),
        F.coalesce("tr", z).alias("tr"),
    )


def rouge_n(
    pairs: DataFrame,
    n: int = 1,
    pair_col: str = "pair_id",
    cand_col: str = "cand_text",
    ref_col: str = "ref_text",
) -> DataFrame:
    """Per-pair ROUGE-n: (pair_id, n_cand, n_ref, overlap, p_micros,
    r_micros, f1_micros). Overlap is the clipped multiset intersection
    Σ_g min(count_cand(g), count_ref(g)) — the ROUGE definition."""
    counts = _clipped_counts(
        pairs, _gram_col, range(n, n + 1), pair_col, cand_col, ref_col
    )
    return counts.select(
        "pair_id",
        F.col("tc").alias("n_cand"),
        F.col("tr").alias("n_ref"),
        F.col("m").alias("overlap"),
        _micros("m", "tc").alias("p_micros"),
        _micros("m", "tr").alias("r_micros"),
        _micros("2 * m", "tc + tr").alias("f1_micros"),
    )


def bleu_counts(
    pairs: DataFrame,
    max_n: int = 4,
    pair_col: str = "pair_id",
    cand_col: str = "cand_text",
    ref_col: str = "ref_text",
) -> DataFrame:
    """Per-pair BLEU component counts: for n = 1..max_n the CLIPPED
    n-gram match count m{n} and the candidate total t{n}, the token
    lengths c_len / r_len (the brevity-penalty inputs — the unigram
    totals, since the n=1 grams are the tokens) and modified precisions
    p{n}_micros = 1e6·m{n} div t{n}. The geometric mean and BP =
    exp(min(0, 1−r/c)) are a trivial driver-side fold over these
    integers; the irrational exp/log stays OUT of the relation so both
    engines hash-match bit-for-bit."""
    ns = range(1, max_n + 1)
    counts = _clipped_counts(pairs, _gram_col, ns, pair_col, cand_col, ref_col)

    def at(n: int, col: str, name: str) -> Column:
        # the grid is dense: exactly one row per (pair, n)
        return F.sum(F.when(F.col("n") == n, F.col(col))).cast("long").alias(name)

    wide = counts.groupBy("pair_id").agg(
        at(1, "tc", "c_len"),
        at(1, "tr", "r_len"),
        *[c for n in ns for c in (at(n, "m", f"m{n}"), at(n, "tc", f"t{n}"))],
    )
    return wide.select(
        "*", *[_micros(f"m{n}", f"t{n}").alias(f"p{n}_micros") for n in ns]
    )


def chrf_counts(
    pairs: DataFrame,
    max_n: int = 6,
    pair_col: str = "pair_id",
    cand_col: str = "cand_text",
    ref_col: str = "ref_text",
) -> DataFrame:
    """Per-(pair, n) chrF component counts: clipped character-n-gram
    matches m, candidate total tc, reference total tr for n = 1..max_n,
    plus integer-micro precision/recall and the chrF2 per-n F-score via
    the count-level identity F2 = (1+2^2)PR/(2^2·P+R) = 5m/(4·tr + tc) —
    ONE integer floor division, the rouge_n F1 discipline extended to
    beta=2. The cross-n average a chrF consumer reports is a bounded
    driver-side fold over these rows per pair; keeping rows per n (long
    form) rather than wide columns keeps every value exact and the
    relation mergeable."""
    counts = _clipped_counts(
        pairs, _char_gram_col, range(1, max_n + 1), pair_col, cand_col, ref_col
    )
    return counts.select(
        "pair_id",
        F.col("n").cast("long").alias("n"),
        "m",
        "tc",
        "tr",
        _micros("m", "tc").alias("p_micros"),
        _micros("m", "tr").alias("r_micros"),
        _micros("5 * m", "4 * tr + tc").alias("f2_micros"),
    )


# --- DuckDB oracles -----------------------------------------------------------


def _pairs_sides_sql(n_pairs: int) -> str:
    """The oracles' shared CTE prefix: the consecutive-document pairing
    (candidate = doc d, reference = doc d+1, d < n_pairs, PLUS any
    consecutive pairs among ids >= EDGE_ID_FLOOR — the edge corpus's
    planted degenerate docs are consecutive up there, so the adversarial
    sweep exercises the empty/whitespace/unicode/CJK paths while normal
    testdata, whose ids the invariants gate keeps below the floor, is
    unaffected) and its two text sides tagged c/r."""
    return f"""
    WITH pairs AS (
      SELECT c.doc_id AS pair_id, c.text AS cand_t, r.text AS ref_t
      FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id < {n_pairs} OR c.doc_id >= {EDGE_ID_FLOOR}
    ),
    sides AS (
      SELECT pair_id, cand_t AS t, 1 AS c, 0 AS r FROM pairs
      UNION ALL
      SELECT pair_id, ref_t AS t, 0 AS c, 1 AS r FROM pairs
    ),"""


_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(trim(t)), '\\s+'), x -> x != '')"
)


def _micros_sql(num: str, den: str) -> str:
    """DuckDB twin of _micros."""
    div = f"({den})" if " " in den else den
    return (f"CAST(CASE WHEN {den} > 0 THEN {num} * 1000000 // {div} "
            "ELSE 0 END AS BIGINT)")


def _word_grams_sql(n: int) -> str:
    """DuckDB twin of _gram_col over a ``toks`` list column."""
    if n == 1:
        return "toks"
    return f"""CASE WHEN len(toks) < {n} THEN []
            ELSE list_transform(range(0, len(toks) - {n} + 1),
                 i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' '))
            END"""


def rouge_oracle_sql(
    n: int = 1,
    n_pairs: int = 30,
) -> str:
    """DuckDB twin of rouge_n over the consecutive-document pairing the
    eval-rouge registry entry uses (_pairs_sides_sql). Mirrors the
    multiset-clip and the integer `div` arithmetic."""
    return f"""{_pairs_sides_sql(n_pairs)}
    toksed AS (
      SELECT pair_id, c, r, {_TOKS_SQL} AS toks
      FROM sides
    ),
    grams AS (
      SELECT pair_id, c, r, unnest({_word_grams_sql(n)}) AS gram FROM toksed
    ),
    counts AS (
      SELECT pair_id, gram,
             CAST(sum(c) AS BIGINT) AS nc, CAST(sum(r) AS BIGINT) AS nr
      FROM grams GROUP BY 1, 2
    ),
    per_pair AS (
      SELECT p.pair_id,
             CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_cand,
             CAST(coalesce(sum(nr), 0) AS BIGINT) AS n_ref,
             CAST(coalesce(sum(least(nc, nr)), 0) AS BIGINT) AS overlap
      FROM pairs p LEFT JOIN counts ct ON ct.pair_id = p.pair_id
      GROUP BY 1
    )
    SELECT pair_id, n_cand, n_ref, overlap,
           {_micros_sql("overlap", "n_cand")} AS p_micros,
           {_micros_sql("overlap", "n_ref")} AS r_micros,
           {_micros_sql("2 * overlap", "n_cand + n_ref")} AS f1_micros
    FROM per_pair
    """


def bleu_oracle_sql(max_n: int = 4, n_pairs: int = 30) -> str:
    """DuckDB twin of bleu_counts over the same pairing as
    rouge_oracle_sql. One MATERIALIZED tokenization feeds all max_n gram
    levels (UNION ALL branches — linear, not chained, but MATERIALIZED
    still stops DuckDB re-tokenizing per branch); lengths come straight
    from the token arrays, never from gram rows, so fully-empty pairs
    keep exact zero counts through the final LEFT JOIN."""
    branches = "\n      UNION ALL\n      ".join(
        f"""SELECT pair_id, c, r, {n} AS n,
                   unnest({_word_grams_sql(n)}) AS gram FROM toksed"""
        for n in range(1, max_n + 1))
    m_cols = ",\n           ".join(
        f"""CAST(coalesce(sum(CASE WHEN n = {n} THEN m END), 0) AS BIGINT)
               AS m{n},
           CAST(coalesce(sum(CASE WHEN n = {n} THEN t END), 0) AS BIGINT)
               AS t{n}"""
        for n in range(1, max_n + 1))
    p_cols = ",\n           ".join(
        f"{_micros_sql(f'm{n}', f't{n}')} AS p{n}_micros"
        for n in range(1, max_n + 1))
    return f"""{_pairs_sides_sql(n_pairs)}
    toksed AS MATERIALIZED (
      SELECT pair_id, c, r, {_TOKS_SQL} AS toks
      FROM sides
    ),
    lengths AS (
      SELECT pair_id,
             CAST(coalesce(max(CASE WHEN c = 1 THEN len(toks) END), 0)
                  AS BIGINT) AS c_len,
             CAST(coalesce(max(CASE WHEN r = 1 THEN len(toks) END), 0)
                  AS BIGINT) AS r_len
      FROM toksed GROUP BY 1
    ),
    grams AS (
      {branches}
    ),
    counts AS (
      SELECT pair_id, n, gram,
             CAST(sum(c) AS BIGINT) AS nc, CAST(sum(r) AS BIGINT) AS nr
      FROM grams GROUP BY 1, 2, 3
    ),
    per_n AS (
      SELECT pair_id, n,
             CAST(sum(least(nc, nr)) AS BIGINT) AS m,
             CAST(sum(nc) AS BIGINT) AS t
      FROM counts GROUP BY 1, 2
    ),
    folded AS (
      SELECT l.pair_id, l.c_len, l.r_len,
           {m_cols}
      FROM lengths l LEFT JOIN per_n pn ON pn.pair_id = l.pair_id
      GROUP BY 1, 2, 3
    )
    SELECT pair_id, c_len, r_len,
           {", ".join(f"m{n}, t{n}" for n in range(1, max_n + 1))},
           {p_cols}
    FROM folded
    """


def chrf_oracle_sql(max_n: int = 6, n_pairs: int = 30) -> str:
    """DuckDB twin of chrf_counts over the same pairing as
    rouge_oracle_sql. One MATERIALIZED space-strip feeds all gram
    levels; the (pair x n) grid densifies through a range() cross join
    so degenerate texts keep zero rows. regexp_replace carries the 'g'
    flag (DuckDB replaces first-match-only by default)."""
    def gram_branch(n: int) -> str:
        if n == 1:
            grams = "list_filter(regexp_split_to_array(s, ''), x -> x != '')"
        else:
            grams = f"""CASE WHEN length(s) < {n} THEN []
                ELSE list_transform(range(1, length(s) - {n} + 2),
                     i -> substr(s, i, {n}))
                END"""
        return f"""SELECT pair_id, c, r, {n} AS n,
                   unnest({grams}) AS gram FROM stripped"""

    branches = "\n      UNION ALL\n      ".join(
        gram_branch(n) for n in range(1, max_n + 1))
    return f"""{_pairs_sides_sql(n_pairs)}
    stripped AS MATERIALIZED (
      SELECT pair_id, c, r,
             regexp_replace(lower(t), '\\s+', '', 'g') AS s
      FROM sides
    ),
    grams AS (
      {branches}
    ),
    counts AS (
      SELECT pair_id, n, gram,
             CAST(sum(c) AS BIGINT) AS nc, CAST(sum(r) AS BIGINT) AS nr
      FROM grams GROUP BY 1, 2, 3
    ),
    per_n AS (
      SELECT pair_id, n,
             CAST(sum(least(nc, nr)) AS BIGINT) AS m,
             CAST(sum(nc) AS BIGINT) AS tc,
             CAST(sum(nr) AS BIGINT) AS tr
      FROM counts GROUP BY 1, 2
    ),
    dense AS (
      SELECT g.pair_id, g.n,
             CAST(coalesce(pn.m, 0) AS BIGINT) AS m,
             CAST(coalesce(pn.tc, 0) AS BIGINT) AS tc,
             CAST(coalesce(pn.tr, 0) AS BIGINT) AS tr
      FROM (SELECT p.pair_id, CAST(n.n AS BIGINT) AS n
            FROM pairs p CROSS JOIN
                 (SELECT unnest(range(1, {max_n + 1})) AS n) n) g
      LEFT JOIN per_n pn ON pn.pair_id = g.pair_id AND pn.n = g.n
    )
    SELECT pair_id, n, m, tc, tr,
           {_micros_sql("m", "tc")} AS p_micros,
           {_micros_sql("m", "tr")} AS r_micros,
           {_micros_sql("5 * m", "4 * tr + tc")} AS f2_micros
    FROM dense
    """
