"""Containment family edge cases: every head against the pure-Python
exhaustive engine on one small edge corpus."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from tests.test_wave10 import _py_containment_pairs

_Q = [f"q{i}" for i in range(12)]
_X = [f"x{i}" for i in range(10)]
_LONG = "alpha beta gamma delta epsilon zeta eta theta"
_LOREM = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"

# (doc_id, text, part): part 0 is the indexed corpus, part 1 the first
# batch, part 2 the second batch.
EDGE_ROWS = [
    (1, None, 0),
    (2, "", 0),
    (3, "   ", 1),  # whitespace-only: same one-shingle set as ""
    (4, "tiny", 0),
    (5, "Tiny", 2),  # under 3 tokens, identical set across parts
    (6, "two words", 1),
    (7, _LONG, 0),  # identical set in the corpus and in both batches
    (8, _LONG, 1),
    (9, _LONG, 2),
    (10, " ".join(_Q), 0),  # 10 shingles
    (11, " ".join(_Q[:10] + _X), 2),  # shares exactly 8 of them: 8/10
    (12, " ".join(_Q[:9] + _X), 1),  # 7/10 against doc 10
    (13, None, 2),
    (14, "", 2),
    (15, _LOREM, 0),
    (16, "ipsum dolor sit amet consectetur", 1),  # small new side, old container
    (17, "two  words", 0),
]


def _docs(spark, parts):
    rows = [r for r in EDGE_ROWS if r[2] in parts]
    return spark.createDataFrame(rows, "doc_id long, text string, part int")


def _expected(parts, touching):
    """Python reference over the non-NULL docs of ``parts``, restricted
    to pairs with a side in ``touching``."""
    part = {d: p for d, _, p in EDGE_ROWS}
    rows = [(d, t) for d, t, p in EDGE_ROWS if p in parts and t is not None]
    return {
        k: v
        for k, v in _py_containment_pairs(rows).items()
        if part[k[0]] in touching or part[k[1]] in touching
    }


def _got(df):
    return {(r.id1, r.id2): (r.inter, r.small, r.contain_milli) for r in df.collect()}


def test_every_containment_head_matches_python_on_edge_corpus(spark, tmp_path):
    from itdb_spark.operators.dedup import (
        append_containment_index,
        containment_join,
        containment_join_incremental,
        containment_probe_persisted,
        persist_containment_index,
    )

    every = {0, 1, 2}
    docs = _docs(spark, every)
    exact = _expected(every, every)
    assert (10, 11) in exact and exact[(10, 11)] == (8, 10, 800)
    assert (10, 12) not in exact
    assert _got(containment_join(docs, "doc_id", "text")) == exact

    incr = containment_join_incremental(
        docs.withColumn("is_new", F.col("part") >= 1), "doc_id", "text", "is_new"
    )
    assert _got(incr) == _expected(every, {1, 2})

    root = os.path.join(str(tmp_path), "probe", "index")
    persist_containment_index(_docs(spark, {0}), "doc_id", "text", root)
    probe = containment_probe_persisted(spark, root, _docs(spark, {1, 2}), "doc_id", "text")
    assert _got(probe) == _expected(every, {1, 2})

    chain = os.path.join(str(tmp_path), "chain", "index")
    persist_containment_index(_docs(spark, {0}), "doc_id", "text", chain)
    append_containment_index(spark, chain, _docs(spark, {1}), "doc_id", "text")
    probe2 = containment_probe_persisted(spark, chain, _docs(spark, {2}), "doc_id", "text")
    assert _got(probe2) == _expected(every, {2})
