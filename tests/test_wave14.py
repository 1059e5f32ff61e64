"""Round-14 wave: folded-legacy-chain kh matching (r13 ADVICE medium),
frozen-quantizer re-publish refusal (r13 ADVICE low), vacuum retention
floor (r13 VERDICT #5), and the standalone fold grade's machinery
(r13 VERDICT #6)."""

import pytest
from pyspark.sql import functions as F


def test_containment_append_after_legacy_fold(spark, tmp_path):
    """r13 ADVICE (medium): compact_chain over a chain whose BASE
    predates the stored-kh layout folds everything into ONE dir whose
    legacy set rows carry kh = NULL under a kh-bearing schema. The
    old gate ("every data dir's schema has kh") then took the stored-kh
    fast path, and NULL never matches an IN pushdown or an equi-join —
    batch sets content-identical to legacy corpus sets were
    misclassified is_new_set and republished under new sids. The hybrid
    match must classify them as existing sets, and probe answers must
    equal the forced-legacy twin's."""
    from itdb_spark.operators.dedup import (
        append_containment_index,
        containment_probe_persisted,
        persist_containment_index,
    )
    from itdb_spark.sinks.versioned import (
        compact_chain,
        read_current,
        read_current_chain,
        write_version,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"tok{j}" for j in range(i % 3, i % 3 + 12)))
            for i in range(9)
        ],
        "doc_id long, text string",
    )
    fresh = spark.createDataFrame(
        [(50, "novel filler " + " ".join(f"x{j}" for j in range(10)))],
        "doc_id long, text string",
    )
    # batch1 duplicates a LEGACY corpus doc's content exactly — the
    # rows the stored-kh match can only see via the NULL-kh branch
    batch1 = spark.createDataFrame(
        [
            (100, " ".join(f"tok{j}" for j in range(0, 12))),
            (101, "brand new words " + " ".join(f"n{j}" for j in range(8))),
        ],
        "doc_id long, text string",
    )
    probe_batch = spark.createDataFrame(
        [(200, " ".join(f"tok{j}" for j in range(1, 13)))],
        "doc_id long, text string",
    )

    def build_folded_legacy(root):
        # legacy (pre-kh) base + one kh-bearing delta, then fold: one
        # dir, kh in schema, NULL kh on the legacy set rows
        tmpl = root + "_tmpl"
        persist_containment_index(docs, "doc_id", "text", tmpl)
        write_version(
            read_current(spark, tmpl).drop("kh"), root,
            partition_by=["kind"],
        )
        append_containment_index(spark, root, fresh, "doc_id", "text")
        compact_chain(spark, root)

    root_fast = str(tmp_path / "fast")
    root_slow = str(tmp_path / "slow")
    build_folded_legacy(root_fast)
    build_folded_legacy(root_slow)
    folded = read_current(spark, root_fast)
    assert "kh" in folded.columns
    n_null = folded.where("kind = 'set' AND kh IS NULL").count()
    assert n_null > 0, "hazard precondition: folded legacy sets lost kh"
    sets_before = folded.where("kind = 'set'").count()

    append_containment_index(spark, root_fast, batch1, "doc_id", "text")
    append_containment_index(
        spark, root_slow, batch1, "doc_id", "text", use_stored_kh=False
    )

    chain = read_current_chain(spark, root_fast)
    sets_after = chain.where("kind = 'set'").count()
    # exactly ONE genuinely new set (doc 101); doc 100's content must
    # have joined its existing legacy sid, not minted a duplicate
    assert sets_after == sets_before + 1, (sets_before, sets_after)
    dup_sids = (
        chain.where("kind = 'set'")
        .groupBy("ts").count().where("count > 1").count()
    )
    assert dup_sids == 0
    # doc 100 is a member of the SAME sid as the legacy doc it copies
    members = {
        r["doc"]: r["sid"]
        for r in chain.where("kind = 'member'").collect()
    }
    assert members[100] == members[0]

    def emitted(root):
        return {
            tuple(r)
            for r in containment_probe_persisted(
                spark, root, probe_batch, "doc_id", "text"
            ).collect()
        }

    assert emitted(root_fast) == emitted(root_slow) and emitted(root_fast)


def test_containment_append_mixed_chain_hybrid(spark, tmp_path):
    """The UNFOLDED mixed chain (pre-kh base dir + kh deltas) now takes
    the hybrid path too — stored-kh rows fast, NULL-kh rows re-hashed —
    instead of the r13 full-corpus re-hash fallback; answers unchanged
    (extends test_wave13 case (c) to assert set identity, not just
    probe parity)."""
    from itdb_spark.operators.dedup import (
        append_containment_index,
        persist_containment_index,
    )
    from itdb_spark.sinks.versioned import (
        read_current,
        read_current_chain,
        write_version,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i % 2, i % 2 + 10)))
         for i in range(6)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "mixed")
    tmpl = str(tmp_path / "tmpl")
    persist_containment_index(docs, "doc_id", "text", tmpl)
    write_version(
        read_current(spark, tmpl).drop("kh"), root, partition_by=["kind"]
    )
    # delta 1: novel content (carries kh)
    append_containment_index(
        spark, root,
        spark.createDataFrame(
            [(10, "aaa bbb ccc ddd eee fff ggg hhh iii jjj")],
            "doc_id long, text string",
        ),
        "doc_id", "text",
    )
    # delta 2: one dup-of-legacy-base + one dup-of-delta-1 — the former
    # only matches via the NULL-kh branch, the latter via stored kh
    append_containment_index(
        spark, root,
        spark.createDataFrame(
            [
                (20, " ".join(f"w{j}" for j in range(0, 10))),
                (21, "aaa bbb ccc ddd eee fff ggg hhh iii jjj"),
            ],
            "doc_id long, text string",
        ),
        "doc_id", "text",
    )
    chain = read_current_chain(spark, root)
    dup_sets = (
        chain.where("kind = 'set'")
        .groupBy("ts").count().where("count > 1").count()
    )
    assert dup_sets == 0
    members = {
        r["doc"]: r["sid"]
        for r in chain.where("kind = 'member'").collect()
    }
    assert members[20] == members[0]
    assert members[21] == members[10]


@pytest.mark.parametrize("index", ["ivf", "ivfpq-res"])
def test_ivf_versioned_publish_refuses_populated_root(spark, tmp_path, index):
    """r13 ADVICE (low): a persist that overwrote <root>/centroids could
    pair new centroids with the still-published old assignment (or code)
    chain — probes against a quantizer the index was not built under:
    silently wrong neighbors. Both persisted ANN indexes publish through
    the versioned sink with a write-once quantizer, so re-publishing to
    a populated root raises and leaves the published chain as it was."""
    import numpy as np

    from itdb_spark.operators.ivf import build_ivf_index, persist_ivf_index
    from itdb_spark.operators.pq import build_ivfpq_res_index, persist_ivfpq_res_index
    from itdb_spark.sinks.versioned import current_version

    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    root = str(tmp_path / index)
    if index == "ivf":
        parts = build_ivf_index(vecs, "vec_id", "embedding", k=4)
        persist, chain = persist_ivf_index, "assignments"
    else:
        parts = build_ivfpq_res_index(vecs, n_cells=4, m=2, k=2)
        persist, chain = persist_ivfpq_res_index, "codes"
    persist(*parts, root)
    assert current_version(f"{root}/{chain}") == "v1"
    with pytest.raises(Exception, match="(?i)exist"):
        persist(*parts, root)
    assert current_version(f"{root}/{chain}") == "v1"


def test_vacuum_retention_floor_protects_pinned_reader(spark, tmp_path):
    """r13 VERDICT #5: snap-isolation proves a pinned reader keeps
    ANSWERING from its chain across append + fold; this proves its
    FILES survive retention at default policy. vacuum(keep=1) right
    after a fold must retain the superseded chain dirs (they are
    younger than the floor), so the pinned scan completes — and the
    same call with the floor waived (the sole-owner mode) sweeps
    them."""
    import os

    from itdb_spark.sinks import versioned as V

    root = str(tmp_path / "tbl")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        root,
    )
    pinned = V.read_current_chain(spark, root)
    assert pinned.count() == 2
    V.append_version(
        spark.createDataFrame([(3, "c")], "k long, v string"), root
    )
    V.compact_chain(spark, root)  # chain [v1, v2] folded into v3
    # default policy: the just-superseded dirs are younger than the
    # floor — retained regardless of keep
    assert V.vacuum(root, keep=1) == []
    assert os.path.isdir(os.path.join(root, "v1"))
    assert pinned.count() == 2  # pinned scan still has its files
    # aged past the floor (backdated mtime), the same call sweeps them
    old = 10 ** 9
    for v in ("v1", "v2"):
        os.utime(os.path.join(root, v), (old, old))
    assert set(V.vacuum(root, keep=1)) == {"v1", "v2"}
    # and the floor-waived sole-owner mode sweeps immediately
    root2 = str(tmp_path / "tbl2")
    V.write_version(
        spark.createDataFrame([(1, "a")], "k long, v string"), root2
    )
    V.append_version(
        spark.createDataFrame([(2, "b")], "k long, v string"), root2
    )
    V.compact_chain(spark, root2)
    assert set(V.vacuum(root2, keep=1, min_age_s=0)) == {"v1", "v2"}


def test_vacuum_floor_retains_young_orphan(tmp_path, spark):
    """The floor also closes vacuum's crashed-vs-live writer ambiguity:
    a version dir NEWER than the published pointer that is younger
    than the floor may be a LIVE publish in flight — retained; once
    aged, it is a crashed writer's orphan — swept."""
    import os

    from itdb_spark.sinks import versioned as V

    root = str(tmp_path / "tbl")
    V.write_version(
        spark.createDataFrame([(1, "a")], "k long, v string"), root
    )
    os.makedirs(os.path.join(root, "v9"))
    assert V.vacuum(root, keep=1) == []
    assert os.path.isdir(os.path.join(root, "v9"))
    os.utime(os.path.join(root, "v9"), (10 ** 9, 10 ** 9))
    assert V.vacuum(root, keep=1) == ["v9"]


def test_chain_fold_triangulated(spark, tmp_path):
    """snap-fold's third engine (verification-ladder step 5): the fold
    of a K=3-append hive-partitioned chain must equal the pure-Python
    union of the staged slices — content compared as multisets off the
    parquet files directly, layout asserted via the partition dirs."""
    import os

    from itdb_spark.sinks.versioned import (
        _detect_partition_cols,
        append_version,
        chain_versions,
        maybe_compact_chain,
        read_current_chain,
        write_version,
    )

    rows = [(i, f"g{i % 3}", i * 10) for i in range(40)]
    expected = {}
    for i, g, v in rows:
        expected[(i, g, v)] = expected.get((i, g, v), 0) + 1

    def frame(sel):
        return spark.createDataFrame(sel, "k long, grp string, v long")

    root = str(tmp_path / "tbl")
    write_version(frame(rows[:10]), root, partition_by=["grp"])
    for lo in (10, 20, 30):
        append_version(
            frame(rows[lo:lo + 10]), root, partition_by=["grp"]
        )
    assert len(chain_versions(root)) == 4
    stats = maybe_compact_chain(spark, root, max_links=3)
    assert stats is not None
    after = chain_versions(root)
    assert len(after) == 1
    assert _detect_partition_cols(root, after[0]) == ["grp"]
    # layout on disk: one hive dir per grp value inside the folded dir
    folded_dir = os.path.join(root, after[0])
    hive = sorted(
        d for d in os.listdir(folded_dir) if d.startswith("grp=")
    )
    assert hive == ["grp=g0", "grp=g1", "grp=g2"]
    got = {}
    for r in read_current_chain(spark, root).collect():
        key = (r["k"], r["grp"], r["v"])
        got[key] = got.get(key, 0) + 1
    assert got == expected


def test_null_kh_branch_pushes_isnull(spark, tmp_path):
    """The hybrid containment match's NULL-kh branch must reach the
    parquet scan as PushedFilters: [IsNull(kh)] under the kind=set
    partition filter — on a fully-native chain every row group's
    null_count is 0, so the branch prunes to nothing and the hybrid
    costs nothing where the folded-legacy hazard is absent."""
    from itdb_spark.operators.dedup import persist_containment_index
    from itdb_spark.sinks.versioned import read_current_chain

    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f g h i j") for i in range(6)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "idx")
    persist_containment_index(docs, "doc_id", "text", root)
    legacy = read_current_chain(spark, root).where(
        "kind = 'set' AND kh IS NULL"
    )
    plan = legacy._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan and "IsNull(kh)" in scan[0], plan
    assert "kind" in scan[0] and "set" in scan[0], plan
    assert legacy.count() == 0


def test_containment_append_converges_damaged_chain(spark, tmp_path):
    """Review follow-up to the NULL-kh fix: a chain DAMAGED by the
    pre-hybrid gate can hold the SAME ts under both a NULL-kh legacy
    sid and a misclassified kh-bearing sid. The hybrid match must not
    fan a batch doc out to both esids (two member rows per doc); the
    min-esid fold maps it to exactly one, deterministically, on both
    the fast and the forced-legacy path."""
    from pyspark.sql import functions as F

    from itdb_spark.operators.dedup import (
        append_containment_index,
        persist_containment_index,
    )
    from itdb_spark.sinks.versioned import (
        append_version,
        compact_chain,
        read_current,
        read_current_chain,
        write_version,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(12))) for i in range(3)],
        "doc_id long, text string",
    )

    def build_damaged(root):
        # legacy base (NULL kh after fold), then a crafted delta that
        # re-publishes the SAME ts under a new kh-bearing sid — the
        # r13 misclassification's exact on-disk outcome
        tmpl = root + "_tmpl"
        persist_containment_index(docs, "doc_id", "text", tmpl)
        base = read_current(spark, tmpl)
        write_version(base.drop("kh"), root, partition_by=["kind"])
        compact_chain(spark, root)
        dup_set = (
            base.where("kind = 'set'")
            .limit(1)
            .select(
                "kind",
                "w", "df", "nt", "rn", "pfx", "doc", "ts",
                F.lit(999999).cast("bigint").alias("sid"),
                F.xxhash64("ts").alias("kh"),
            )
        )
        append_version(dup_set, root, partition_by=["kind"])

    def member_map(root):
        return {
            r["doc"]: r["sid"]
            for r in read_current_chain(spark, root)
            .where("kind = 'member'").collect()
        }

    batch = spark.createDataFrame(
        [(100, " ".join(f"tok{j}" for j in range(12)))],
        "doc_id long, text string",
    )
    for kwargs in ({}, {"use_stored_kh": False}):
        root = str(
            tmp_path / ("fast" if kwargs == {} else "slow")
        )
        build_damaged(root)
        chain = read_current_chain(spark, root)
        same_ts = (
            chain.where("kind = 'set'")
            .groupBy("ts").count().where("count > 1").count()
        )
        assert same_ts == 1, "damage precondition: duplicate ts sets"
        append_containment_index(
            spark, root, batch, "doc_id", "text", **kwargs
        )
        members = (
            read_current_chain(spark, root)
            .where("kind = 'member' AND doc = 100").collect()
        )
        assert len(members) == 1, members  # no fan-out
        legit = member_map(root)[0]
        assert members[0]["sid"] == min(legit, 999999)


def test_read_parquet_pinned_matches_inference_and_sees_all_files(
    spark, tmp_path
):
    """The pinned reader must (a) return the inference-identical schema
    on the memoized path, and (b) still SCAN the files on every read —
    only the schema is held, never data (the r14 optimization's
    contract: reader state, not result caching)."""
    from itdb_spark.plans.library import read_parquet_pinned

    p = str(tmp_path / "imm")
    spark.range(5).selectExpr(
        "id", "cast(id as string) s"
    ).write.parquet(p)
    first = read_parquet_pinned(spark, p)   # populates the memo
    again = read_parquet_pinned(spark, p)   # memoized-schema path
    assert again.schema == spark.read.parquet(p).schema
    assert {r["id"] for r in again.collect()} == set(range(5))
    assert first.count() == again.count() == 5


def test_band_collision_counts_onepass_equals_join_form(spark):
    """The window-flag one-pass form must produce exactly the
    distinct-then-join form's rows on a band table whose buckets mix
    index-only, batch-only, and shared keys (including a batch doc
    with multiple hit bands and one with none)."""
    from pyspark.sql import functions as F

    from itdb_spark.operators.dedup import (
        band_collision_counts,
        band_collision_counts_onepass,
    )

    rows = [
        # (doc, band, band_hash): docs < 100 = index, >= 100 = batch
        (1, 0, "a"), (1, 1, "b"), (2, 0, "a"), (2, 1, "z"),
        (100, 0, "a"),            # hits bucket (0,a)
        (100, 1, "b"),            # hits bucket (1,b)
        (101, 0, "q"),            # batch-only bucket: no hit
        (101, 1, "z"),            # hits (1,z)
        (102, 0, "nope"),         # no hits at all -> absent from output
        (102, 1, "nor"),
    ]
    bands = spark.createDataFrame(
        rows, "doc long, band int, band_hash string"
    )
    is_idx = F.col("doc") < 100
    one = band_collision_counts_onepass(bands, is_idx)
    two = band_collision_counts(
        bands.where(~is_idx), bands.where(is_idx)
    )
    assert {tuple(r) for r in one.collect()} == {
        tuple(r) for r in two.collect()
    }
    assert {tuple(r) for r in one.collect()} == {(100, 2), (101, 1)}
