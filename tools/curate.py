#!/usr/bin/env python
"""End-to-end corpus curation CLI — the product face of the engine: one
command takes a documents parquet and emits a training-ready corpus plus
a JSON report, running the same registry-verified operators the
correctness gate checks one by one.

    python tools/curate.py --input /root/testdata/sf0.001 \
        --output /tmp/curated [--budget 2048] [--quality 0.5] [--jaccard 0.5]

Stages (each = operators with oracle-checked twins):
  0. expectations — pre-flight validation counts (pipe-expectations shape)
  1. profile      — dataset card before/after (pipe-profile shape)
  1.5 normalize   — Unicode NFC (text-normalize shape; visually-equal
                    pre/de-composed text must collide in every
                    fingerprint below)
  2. exact dedup  — md5 fingerprint groups, keep min doc_id
  3. near dedup   — MinHash LSH candidates → Jaccard verify → connected
                    components → keep component minimum
  4. span excision— remove duplicated 8-gram regions (ExactSubstr)
  5. quality gate — heuristic score threshold
  6. pack plan    — 2048-token concat-and-chunk geometry
  7. shuffle      — deterministic epoch order (ranged row_number)

Outputs under --output:
  corpus/   cleaned documents (doc_id, text, n_tokens, epoch_pos)
  packs/    (doc_id, pack_id, slice_start, slice_len) loader geometry
  report.json  per-stage row counts + removal reasons
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--input", required=True, help="dir containing documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--budget", type=int, default=2048, help="pack token budget")
    ap.add_argument("--quality", type=float, default=0.5, help="min quality score")
    ap.add_argument("--jaccard", type=float, default=0.5, help="near-dup threshold")
    args = ap.parse_args(argv)

    import pyspark.sql.functions as F

    from itdb_spark.functions.core import portable_hash64
    from itdb_spark.functions.text import quality_score, tokens
    from itdb_spark.operators.clustering import connected_components, elect_keepers
    from itdb_spark.operators.dedup import (
        exact_dup_groups,
        minhash_candidates,
        ngram_jaccard_pairs,
        remove_duplicate_spans,
    )
    from itdb_spark.operators.packing import pack_chunks
    from itdb_spark.plans.library import ranged_row_number
    from itdb_spark.session import get_spark

    spark = get_spark()
    report: dict = {"input": args.input, "stages": {}}

    docs = spark.read.parquet(os.path.join(args.input, "documents.parquet"))
    n0 = docs.count()
    report["stages"]["input"] = {"rows": n0}

    # 0. expectations pre-flight (pipe-expectations' documents checks):
    # exact violation counts recorded BEFORE any mutation — a drop with
    # failing expectations should be triaged, not silently curated.
    expectations = {
        "text_empty": docs.where(
            F.col("text").isNull() | (F.length(F.trim("text")) == 0)
        ).count(),
        "doc_id_dup": n0 - docs.select("doc_id").distinct().count(),
    }
    report["stages"]["expectations"] = expectations

    def profile(df, text_col="text"):
        """per-source dataset-card summary (pipe-profile shape)."""
        return {
            r.source: {"docs": r.n, "tokens": r.tok}
            for r in df.groupBy("source")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.size(tokens(F.col(text_col)))).cast("long").alias("tok"),
            )
            .collect()
        }

    report["profile_before"] = profile(docs)

    # 1.5 Unicode NFC normalization BEFORE any fingerprinting: pre- and
    # de-composed forms of the same rendered text are different byte
    # sequences, so an unnormalized corpus leaks visually-identical
    # duplicates straight past the md5 and shingle stages (the
    # text-normalize query's rationale). The UDF is the SAME one the
    # graded text-normalize query runs (functions/text.py); the frame is
    # cached so the Arrow pass runs once, not once per downstream
    # consumer (the changed-count, the dup-group build, and the
    # dup-member join would otherwise each replay it).
    from itdb_spark.functions.text import nfc_normalize

    normalized = docs.withColumn("text_nfc", nfc_normalize(F.col("text"))).cache()
    n_changed = normalized.where(F.col("text") != F.col("text_nfc")).count()
    docs = normalized.select(
        "doc_id", F.col("text_nfc").alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    )
    report["stages"]["normalize"] = {"rows": n0, "changed": n_changed}

    # 2. exact dedup: drop every member of a fingerprint group except min
    groups = exact_dup_groups(docs, "doc_id", "text")
    dup_members = (
        docs.select("doc_id", F.md5("text").alias("fingerprint"))
        .join(groups.select("fingerprint", "keep_doc"), "fingerprint")
        .where(F.col("doc_id") != F.col("keep_doc"))
        .select("doc_id")
    )
    docs1 = docs.join(dup_members, "doc_id", "left_anti").cache()
    n1 = docs1.count()
    normalized.unpersist()  # docs1 is materialized; the NFC pass is done
    report["stages"]["exact_dedup"] = {"rows": n1, "removed": n0 - n1}

    # 3. near dedup: LSH -> verify -> CC -> keep component min
    cands = minhash_candidates(docs1, "doc_id", "text")
    verified = ngram_jaccard_pairs(
        docs1, "doc_id", "text", threshold=args.jaccard, candidates=cands
    )
    comp = connected_components(verified.select("id1", "id2"))
    keepers = elect_keepers(comp).select(F.col("keeper").alias("doc_id"))
    members = comp.select(F.col("node").alias("doc_id"))
    docs2 = (
        docs1.join(members, "doc_id", "left_anti")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .unionByName(
            docs1.join(keepers, "doc_id").select(
                "doc_id", "text", "lang", "source", "n_chars"
            )
        )
        .cache()
    )
    n2 = docs2.count()
    report["stages"]["near_dedup"] = {"rows": n2, "removed": n1 - n2}

    # 4. span excision (ExactSubstr) on the survivors
    clean = remove_duplicate_spans(docs2, "doc_id", "text", min_len=8)
    docs3 = (
        docs2.select("doc_id", "lang", "source")
        .join(clean, "doc_id")
        .select("doc_id", F.col("clean_text").alias("text"), "lang", "source",
                "n_tokens", "n_removed")
    )
    span_tokens_removed = docs3.agg(F.sum("n_removed")).collect()[0][0] or 0
    report["stages"]["despan"] = {"rows": n2, "tokens_removed": int(span_tokens_removed)}

    # 5. quality gate on the CLEANED text
    # n_tokens recomputed with tokens() semantics (empty -> 0): the despan
    # operator's count inherits split-of-empty-string's phantom [''] token,
    # which would sail through the > 0 gate and emit a 1-token pack slice
    # into an empty string (code-review finding)
    docs4 = (
        docs3.withColumn("n_tokens", F.size(tokens(F.col("text"))).cast("long"))
        .withColumn("quality", quality_score(F.col("text")))
        .where(F.col("quality") >= args.quality)
        .where(F.col("n_tokens") > 0)
        .cache()
    )
    n4 = docs4.count()
    report["stages"]["quality"] = {"rows": n4, "removed": n2 - n4}

    # 6. pack plan over cleaned token counts
    packs = pack_chunks(
        docs4.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens")),
        "doc_id", "n_tokens",
        budget=args.budget,
        bucket=F.floor(F.col("doc_id") / 100),
    )
    n_packs = packs.select("pack_id").distinct().count()
    report["stages"]["pack"] = {"packs": int(n_packs), "budget": args.budget}

    # 7. deterministic epoch order
    # portable_hash64 (BIGINT, not the string conv of an earlier cut: that
    # ordered lexicographically AND defaulted the ranged bucket to the
    # unique hash itself — one offsets row per document, i.e. the global
    # single-partition window the helper exists to avoid); bucket on the
    # hash prefix exactly like the registered fn-shuffle plan
    final = ranged_row_number(
        docs4.withColumn("h", portable_hash64(F.col("doc_id").cast("string"))),
        ["h", "doc_id"],
        bucket=F.floor(F.col("h") / F.lit(2 ** 54)),
        out_col="epoch_pos",
    ).select("doc_id", "text", "lang", "source", "n_tokens", "epoch_pos")

    os.makedirs(args.output, exist_ok=True)
    final.write.mode("overwrite").parquet(os.path.join(args.output, "corpus"))
    packs.write.mode("overwrite").parquet(os.path.join(args.output, "packs"))
    report["profile_after"] = profile(docs4)
    report["output"] = {
        "corpus_rows": n4,
        "total_tokens": int(
            docs4.agg(F.sum("n_tokens")).collect()[0][0] or 0
        ),
    }
    with open(os.path.join(args.output, "report.json"), "w") as f:
        json.dump(report, f, indent=2)
    for d in (docs1, docs2, docs4):
        d.unpersist()
    print(json.dumps(report))
    return report


if __name__ == "__main__":
    main()
