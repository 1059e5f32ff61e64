#!/usr/bin/env python
"""Degenerate-document robustness audit.

TESTDATA.md's tables regenerate between rounds, and today's generation
happens to contain no empty or whitespace-only documents — so any query
whose Spark side and DuckDB oracle disagree ONLY on degenerate text
(ADVICE r4's fn-pack finding was exactly this class) passes the gate
right up until a regen silently breaks it. This tool makes that failure
mode testable NOW: it derives an sf dir from a real one with
adversarial documents appended —

  900001  ''            (empty)
  900002  '   '         (spaces only — trim-sensitive)
  900003  '\\t\\n '       (non-space whitespace — split()-empty-token bait)
  900004  'word'        (single token — shingle/k-gram floors)
  900005  '\\tlead trail\\n' (boundary whitespace around real tokens)
  900006  unicode accents  (code-point lower/length/regex semantics)
  900007  unsegmented CJK  (one giant token)

— plus adversarial EVENTS (EDGE_EVENTS_SQL: two NULL-user rows, the
-2.675 / 0.004999999999999999 cents-rounding boundary values, and a
NULL value) and adversarial EMBEDDINGS (EDGE_EMBEDDINGS_SQL: the zero
vector and a near-zero vector) — and runs the standard oracle
differential over it. Usage:

    python tools/edge_corpus.py [src_sf_dir] [query-id ...]

Run with no query ids for the full registry (round-5 baseline: 185/185
on the full edge corpus at sf0.001 — after it caught EIGHT real
defects: three stateful-stream crashes on NULL keys, the
nearest-as-of NULL-distance win, Python-floor vs SQL-truncate
division, fn-time's negative-duration rendering, and two ANSI
divide-by-zero job crashes on the dead embedding (fn-embed-norm,
sim-maxsim)).
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

EDGE_DOCS = [
    (900001, "", "en", "src0", 0),
    (900002, "   ", "en", "src0", 3),
    (900003, "\t\n ", "en", "src1", 3),
    (900004, "word", "en", "src1", 4),
    (900005, "\tlead trail\n", "de", "src2", 12),
    # Unicode: non-ASCII lower/length/regex semantics (code points, not
    # bytes, on both engines — divergence here corrupts every token
    # count), and an unsegmented CJK run (one giant 'token', the
    # shingle/k-gram floor case in a different costume).
    (900006, "Héllo WÖRLD déjà vu", "fr", "src0", 19),
    (900007, "日本語のテキスト", "ja", "src2", 8),
    # Round-6 classes (VERDICT r5 #6) aimed at the sketch / BPE /
    # repetition families:
    # 900008 — heavy hitter: one token at 50× the background rate. CMS
    # cells saturate on it (the top-k compare must survive the
    # over-estimate), KMV sees tiny distinct-count, repetition scoring
    # maxes, and BPE's pair counts are dominated by a single pair.
    (900008, ("tok " * 50).strip(), "en", "src0", 199),
    # 900009 — combining marks: 'é' precomposed (U+00E9) AND decomposed
    # (e + U+0301) in one doc. Both engines must agree code-point-wise
    # (length 4 vs 5, distinct 'words' even though they RENDER equal) —
    # any NFC-normalizing path diverges. The BPE vocab gets a word whose
    # first merge pair is (e, U+0301).
    (900009, "café café éclair", "fr", "src1", 18),
    # 900010 — unsegmented single-char run: BPE's merge fixpoint does
    # maximal doubling (a+a → aa, aa+aa → aaaa ...), the shingle floor
    # gets a 1-word doc, and entropy is exactly zero.
    (900010, "a" * 32, "en", "src2", 32),
    # 900011 — BPE sentinel bait (VERDICT r7 #5): learn_bpe filters
    # words containing the merge-encoding sentinel code points
    # U+0001/U+0002 from the training vocabulary on BOTH engines
    # (packing.py) — until this doc existed no corpus row exercised
    # that filter, so its cross-engine parity was untested. The two
    # poisoned words must vanish from fn-bpe-train's vocab while the
    # clean words still train/merge; every OTHER text query must treat
    # the sentinels as ordinary non-space characters.
    (900011, "ab\x01cd ef\x02gh clean pair pair", "en", "src0", 27),
]

# Every planted id must sit at/above the shared catalog floor — the
# eval-rouge pairing predicate and the testdata-invariants gate key on
# the SAME constant, so the diagnostic range cannot drift apart from
# the predicate that consumes it (round-6 ADVICE).
from itdb_spark.catalog import EDGE_ID_FLOOR  # noqa: E402

assert all(d[0] >= EDGE_ID_FLOOR for d in EDGE_DOCS), (
    "edge doc ids must be >= EDGE_ID_FLOOR"
)

# NULL-key events: SQL join equality never matches NULL but window
# partitionBy / groupBy treat NULL as a regular group — the class of
# divergence the join-nearest review finding exposed. One NULL-user
# error and one NULL-user click probe every user-keyed join's NULL path.
EDGE_EVENTS_SQL = """
  (900001, TIMESTAMP '2024-01-01 00:05:00', NULL, 'error', 1.0, '{}'),
  (900002, TIMESTAMP '2024-01-01 00:06:00', NULL, 'click', 2.5, '{}'),
  (900003, TIMESTAMP '2024-01-01 00:07:00', 900001, 'purchase', -2.675, '{}'),
  (900004, TIMESTAMP '2024-01-01 00:08:00', 900001, 'purchase', 0.004999999999999999, '{}'),
  (900005, TIMESTAMP '2024-01-01 00:09:00', 900002, 'view', NULL, '{}'),
  (900006, TIMESTAMP '2024-01-01 00:04:00', NULL, 'view', 1.5, '{}'),
  (900007, NULL, 900002, 'error', 4.0, '{}'),
  (900008, NULL, 900002, 'click', 0.5, '{}'),
  (900009, NULL, 900003, 'view', 2.0, '{}')
"""
# 900003/900004: cents-rounding boundary values — the negative half-cent
# and the double just below one half cent (floor(x+0.5) rounds UP in the
# addition; Spark F.round, DuckDB round, and streaming cents_half_up all
# round DOWN). Every money-summing query must agree on these.
# 900005: NULL value — Spark concat/arithmetic null-propagates where
# DuckDB concat ignores NULL args and list() keeps NULL elements; every
# value-consuming query must pin which behavior it means.
# 900006: NULL-user 'view' — probes the funnel's NULL-key SET path: a
# stateful machine that lets the NULL group set t_view reports stage 1
# where the LEFT JOIN oracle (never equality-matches NULL) says stage 0;
# it precedes 900002's NULL-user click so the view→click chain would
# fire if the guard were missing. (ADVICE r5: 'error'/'click' alone
# could never set a stage, leaving the set-path unprobed.)
# 900007/900008: NULL-timestamp rows — the as-of NULL-ts path: a NaT
# error must never become carried state (pandas .value yields the int64
# sentinel, not an epoch) and a NaT non-error event must emit NULLs, on
# both the batch window form and the streaming carry.
# 900009: NULL-ts 'view' for a user (900003) with NO other funnel
# events — the hardest funnel NULL-ts case: the three funnel forms
# three-way diverged on it (oracle stage 1 via grouped-NULL min, batch
# Spark stage 0, streaming sentinel-chains) until NULL-ts events were
# defined out of the funnel by an identical pre-filter everywhere;
# user 900003 must now appear in NO funnel output at all.

# Degenerate embeddings: the ZERO vector (dead embedding — at corpus
# scale some rows always embed to zero) makes every cosine 0/0, where
# Spark produces IEEE NaN but DuckDB produces NULL (its float division
# by zero returns NULL, not NaN/inf) — any unguarded normalization
# diverges. The near-zero vector probes denormal/precision edges with a
# well-defined norm.
EDGE_EMBEDDINGS_SQL = """
  (900001, list_transform(range(64), i -> CAST(0.0 AS FLOAT)), 0),
  (900002, list_transform(range(64), i -> CAST(CASE WHEN i = 0 THEN 1e-20 ELSE 0.0 END AS FLOAT)), 1)
"""


def build_edge_dir(src: str, dst: str) -> str:
    """Copy every table from src; rebuild documents.parquet with the
    degenerate rows appended. Deterministic — same src → same dst.

    The tables are rewritten in place, so the schemas this process
    pinned for them (catalog.load_table reads through
    read_parquet_pinned) are dropped first."""
    from itdb_spark.plans.library import invalidate_pinned_schemas

    invalidate_pinned_schemas(dst)
    os.makedirs(dst, exist_ok=True)
    synth = ("documents.parquet", "events.parquet", "embeddings.parquet")
    for f in glob.glob(os.path.join(src, "*.parquet")):
        if os.path.basename(f) not in synth:
            shutil.copy(f, dst)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}/embeddings.parquet')
          UNION ALL
          SELECT * FROM (VALUES {EDGE_EMBEDDINGS_SQL})
            t(vec_id, embedding, label)
        ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}/events.parquet')
          UNION ALL
          SELECT * FROM (VALUES {EDGE_EVENTS_SQL})
            t(event_id, ts, user_id, event_type, value, props)
        ) TO '{dst}/events.parquet' (FORMAT PARQUET)
        """
    )
    values = ", ".join(
        "(%d, %s, '%s', '%s', %d)"
        % (
            i,
            "'"
            + t.replace("\t", "' || CHR(9) || '")
            .replace("\n", "' || CHR(10) || '")
            .replace("\x01", "' || CHR(1) || '")
            .replace("\x02", "' || CHR(2) || '")
            + "'",
            la,
            so,
            n,
        )
        for i, t, la, so, n in EDGE_DOCS
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}/documents.parquet')
          UNION ALL
          SELECT * FROM (VALUES {values}) t(doc_id, text, lang, source, n_chars)
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return dst


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    dst = os.path.join("/tmp", "itdb_spark_edge_" + os.path.basename(os.path.normpath(src)))
    build_edge_dir(src, dst)
    print(f"edge corpus at {dst}; running oracle differential ...")
    os.execv(sys.executable, [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_oracle.py"), dst] + sys.argv[2:])


if __name__ == "__main__":
    main()
