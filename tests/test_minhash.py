"""MinHash/LSH band family against a pure-Python reference on one edge
corpus: candidate pairs, and every band-collision screen (in-session,
one-pass, persisted before and after an append, and the persisted probe
falling back to the member chain when the keys sibling is missing)."""

from __future__ import annotations

import hashlib
import os
import re
import shutil

import pyspark.sql.functions as F

from itdb_spark.functions.core import HASH_PRIME
from itdb_spark.operators.dedup import NUM_BANDS, NUM_PERM, _perm_coeffs

_BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
_NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
_ONE_BAND = "sigma quick brown fox jumps over the lazy dog near the river bank today"
_OTHER = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"

# (doc_id, text): ids < 100 are the indexed corpus, 100-199 the first
# batch, 200-299 the second batch.
EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "tiny"),
    (4, _BASE),
    (101, "   "),  # whitespace-only: the same one-shingle set as ""
    (102, "two words"),
    (103, _BASE),  # exact dup of an indexed doc
    (104, _ONE_BAND),  # shares exactly one band with _BASE
    (105, None),
    (201, "Tiny"),  # under 3 tokens, same set as an indexed doc
    (202, _NEAR),  # near dup of _BASE
    (203, "two  words"),  # same set as a first-batch doc
    (204, _OTHER),
]


def _shingles(text: str) -> set[str]:
    toks = re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" "))
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _portable(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ref_bands(rows) -> set[tuple[int, int, str]]:
    """(doc, band, band_hash) of every non-NULL-text doc."""
    per = NUM_PERM // NUM_BANDS
    out = set()
    for doc, text in rows:
        if text is None:
            continue
        hs = [_portable(w) % HASH_PRIME for w in _shingles(text)]
        m = [
            min((h * a + b) % HASH_PRIME for h in hs)
            for a, b in map(_perm_coeffs, range(NUM_PERM))
        ]
        for band in range(NUM_BANDS):
            out.add((doc, band, "_".join(str(x) for x in m[band * per : (band + 1) * per])))
    return out


def _ref_pair_bands(bands) -> dict[tuple[int, int], int]:
    """Number of shared bands per colliding pair (id1 < id2)."""
    out: dict[tuple[int, int], int] = {}
    for a, ba, ha in bands:
        for b, bb, hb in bands:
            if a < b and ba == bb and ha == hb:
                out[(a, b)] = out.get((a, b), 0) + 1
    return out


def _ref_hits(new_bands, index_bands) -> set[tuple[int, int]]:
    keys = {(b, h) for _, b, h in index_bands}
    hit: dict[int, set[int]] = {}
    for doc, b, h in new_bands:
        if (b, h) in keys:
            hit.setdefault(doc, set()).add(b)
    return {(doc, len(bs)) for doc, bs in hit.items()}


def _rows(lo: int, hi: int):
    return [r for r in EDGE_ROWS if lo <= r[0] < hi]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bands(spark, rows):
    from itdb_spark.operators.dedup import minhash_bands, minhash_signatures

    return minhash_bands(minhash_signatures(_frame(spark, rows), "doc_id", "text"))


def _hits(df) -> set[tuple[int, int]]:
    return {(r.doc_id, r.n_hit_bands) for r in df.collect()}


def test_edge_corpus_reference_shape():
    """The corpus exercises what its comments claim, per the reference."""
    bands = _ref_bands(EDGE_ROWS)
    assert {d for d, _, _ in bands} == {r[0] for r in EDGE_ROWS if r[1] is not None}
    shared = _ref_pair_bands(bands)
    assert {(2, 101), (3, 201), (4, 103), (102, 203)} <= shared.keys()
    assert shared[(4, 104)] == 1
    assert shared[(4, 202)] >= 2
    assert not any(204 in p for p in shared)


def test_minhash_candidates_match_reference(spark):
    from itdb_spark.operators.dedup import minhash_candidates

    got = {
        (r.id1, r.id2)
        for r in minhash_candidates(_frame(spark, EDGE_ROWS), "doc_id", "text").collect()
    }
    assert got == set(_ref_pair_bands(_ref_bands(EDGE_ROWS)))
    assert {(r.doc, r.band, r.band_hash) for r in _bands(spark, EDGE_ROWS).collect()} == (
        _ref_bands(EDGE_ROWS)
    )


def test_band_collision_screens_match_reference(spark, tmp_path):
    from itdb_spark.operators.dedup import (
        append_band_index,
        band_collision_counts,
        band_collision_counts_onepass,
        band_collision_counts_persisted,
        persist_band_index,
    )

    idx, b1, b2 = _rows(0, 100), _rows(100, 200), _rows(200, 300)
    ref_idx = _ref_bands(idx)
    batch = _bands(spark, b1 + b2)
    want = _ref_hits(_ref_bands(b1 + b2), ref_idx)
    assert (104, 1) in want and (103, NUM_BANDS) in want

    assert _hits(band_collision_counts(batch, _bands(spark, idx))) == want
    # a batch delivered twice counts each colliding band once
    twice = batch.unionByName(batch)
    assert _hits(band_collision_counts(twice, _bands(spark, idx))) == want
    onepass = band_collision_counts_onepass(
        _bands(spark, EDGE_ROWS), F.col("doc") < 100
    )
    assert _hits(onepass) == want

    root = os.path.join(str(tmp_path), "bands")
    persist_band_index(_bands(spark, idx), root)
    assert _hits(band_collision_counts_persisted(spark, root, batch)) == want
    assert _hits(band_collision_counts_persisted(spark, root, twice)) == want

    append_band_index(spark, root, _bands(spark, b1))
    want2 = _ref_hits(_ref_bands(b2), ref_idx | _ref_bands(b1))
    assert (203, NUM_BANDS) in want2
    b2_bands = _bands(spark, b2)
    assert _hits(band_collision_counts_persisted(spark, root, b2_bands)) == want2

    # keys sibling missing (a crash between the member-first sibling
    # publishes): the probe derives keys from the member chain
    shutil.rmtree(root + "_keys")
    assert _hits(band_collision_counts_persisted(spark, root, b2_bands)) == want2
    assert _hits(
        band_collision_counts_persisted(spark, root, b2_bands.unionByName(b2_bands))
    ) == want2
