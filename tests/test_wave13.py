"""Round-13 wave: joint exactness bounds for the split GEMMs, the
versioned-chain compaction policy, and the ANN ingest loop.

Reference parity notes cite arkarkark/itdb files as file:line."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_exact_gemm_joint_bound_boundary():
    """ADVICE r12 (medium): the per-value (< 2^25) and length (<= 2^22)
    caps are individually satisfiable while n*Ma*Mb >= 2^63 — the int64
    recombination would wrap SILENTLY. The joint guard must (a) reject
    exactly that window, (b) still admit the boundary just below it,
    where the result is verified against arbitrary-precision integers
    (numpy object dtype — no float anywhere)."""
    from itdb_spark.operators.moments import (
        _MAX_MICRO_ABS,
        _exact_int_matmul,
        exact_int_gemm,
    )

    # The previously-silent window: values pass the per-value cap
    # (3.2e7 < 2^25 = 33,554,432) and the row cap, but
    # 10_000 * (3.2e7)^2 = 1.024e19 > 2^63 — pre-fix this wrapped to a
    # negative moment. Both kernels must refuse.
    v = 32_000_000
    x = np.full((10_000, 1), v, dtype=np.int64)
    with pytest.raises(ValueError, match="joint bound"):
        _exact_int_matmul(x)
    with pytest.raises(ValueError, match="joint bound"):
        exact_int_gemm(x.T.copy(), x)

    # Just below the joint bound: 9000 * (3.2e7)^2 = 9.216e18 < 2^63
    # (9.223e18). Must pass the guard AND equal the bigint product —
    # the largest-magnitude exact case the kernel admits.
    y = np.full((9_000, 1), v, dtype=np.int64)
    y[::2, 0] = -v  # exercise the arithmetic-shift floor split
    got = _exact_int_matmul(y)
    want = y.astype(object).T @ y.astype(object)
    assert (got.astype(object) == want).all()
    got_g = exact_int_gemm(y.T.copy(), y)
    assert (got_g.astype(object) == want).all()

    # The length cap is part of the joint proof (the ll float GEMM
    # needs n*2^20 < 2^53 independently of the value magnitudes).
    tall = np.ones((2, (1 << 22) + 1), dtype=np.int64)
    with pytest.raises(ValueError, match="exactness cap"):
        exact_int_gemm(tall, tall.T.copy())

    # Real-embedding envelope at the full batch cap stays admitted:
    # the guard change must not reject the workload it ships for
    # (M ~ 2^20 at 2^22 rows -> 2^62 < 2^63). Verify with the guard's
    # own arithmetic rather than allocating a 2^22-row matrix.
    eff = max(1 << 20, 1 << 10)
    assert (1 << 22) * eff * eff < (1 << 63)
    assert 1 << 20 < _MAX_MICRO_ABS


def test_compact_chain_preserves_partition_layout(spark, tmp_path):
    """ADVICE r12: folding an append chain maintained with
    partition_by=['band'] must KEEP the hive layout (band=N dirs) in
    the folded version — a plain rewrite demoted the partition key to
    an ordinary column and silently lost the file-level partition
    pruning the index probe paths rely on. Content parity is gated by
    compact_chain itself; here we assert layout + readability."""
    import os

    from itdb_spark.sinks import versioned as V

    base = spark.range(100).selectExpr("id", "cast(id % 4 as int) as band")
    root = str(tmp_path / "bandidx")
    V.write_version(base, root, partition_by=["band"])
    delta = spark.range(100, 140).selectExpr("id", "cast(id % 4 as int) as band")
    V.append_version(delta, root, partition_by=["band"])

    stats = V.compact_chain(spark, root)
    new_dir = os.path.join(root, stats["version"])
    subdirs = sorted(
        d for d in os.listdir(new_dir) if not d.startswith(("_", "."))
    )
    assert subdirs == ["band=0", "band=1", "band=2", "band=3"], subdirs
    assert V._detect_partition_cols(root, stats["version"]) == ["band"]
    folded = V.read_current_chain(spark, root)
    assert folded.count() == 140
    assert set(folded.columns) == {"id", "band"}
    # an unpartitioned chain still compacts flat (no spurious layout)
    flat_root = str(tmp_path / "flat")
    V.write_version(spark.range(10), flat_root)
    V.append_version(spark.range(10, 20), flat_root)
    fstats = V.compact_chain(spark, flat_root)
    assert V._detect_partition_cols(flat_root, fstats["version"]) == []


def test_band_index_sibling_publish_order(spark, tmp_path, monkeypatch):
    """ADVICE r12: the member table must publish BEFORE the keys
    sibling (both in persist_band_index and append_band_index) — the
    two manifests have no cross-table atomicity, and member-first
    fails toward UNDER-reporting (a torn pair screens as 'batch not
    yet accepted') instead of routing collision hits to member rows
    that do not exist."""
    from itdb_spark.operators.dedup import (
        append_band_index,
        minhash_bands,
        minhash_signatures,
        persist_band_index,
    )
    from itdb_spark.sinks import versioned as V

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta epsilon zeta") for i in range(8)],
        "doc_id long, text string",
    )
    bands = minhash_bands(minhash_signatures(docs, "doc_id", "text"))
    root = str(tmp_path / "bidx")

    order: list[str] = []
    real_write = V.write_version
    real_append = V.append_version

    def spy_write(df, r, **kw):
        order.append(r)
        return real_write(df, r, **kw)

    def spy_append(df, r, **kw):
        order.append(r)
        return real_append(df, r, **kw)

    monkeypatch.setattr(V, "write_version", spy_write)
    monkeypatch.setattr(V, "append_version", spy_append)
    persist_band_index(bands, root)
    assert order == [root, root + "_keys"], order

    order.clear()
    batch = spark.createDataFrame(
        [(100, "totally novel content here for the batch only")],
        "doc_id long, text string",
    )
    bbands = minhash_bands(minhash_signatures(batch, "doc_id", "text"))
    append_band_index(spark, root, bbands)
    assert order == [root, root + "_keys"], order


def test_chain_tags_idempotency_and_fold(spark, tmp_path):
    """ADVICE r12 (foreachBatch at-least-once): a tag passed to
    append_version publishes atomically with the delta and is visible
    via chain_tags — the replay guard an at-least-once caller keys on.
    Compaction (manual or via the maybe_compact_chain policy) must
    fold tags FORWARD: losing them would reopen the replay window for
    batches whose data survives in the folded version."""
    from itdb_spark.sinks import versioned as V

    root = str(tmp_path / "t")
    V.write_version(spark.range(5), root)
    assert V.chain_tags(root) == set()
    V.append_version(spark.range(5, 8), root, tag="batch-0")
    V.append_version(spark.range(8, 11), root, tag="batch-1")
    assert V.chain_tags(root) == {"batch-0", "batch-1"}

    # under threshold: no fold, tags unchanged
    assert V.maybe_compact_chain(spark, root, max_links=8) is None
    assert len(V.chain_versions(root)) == 3

    # over threshold: one fold — chain resets to a single replace
    # version, rows and tags both survive
    stats = V.maybe_compact_chain(spark, root, max_links=2)
    assert stats is not None and stats["rows"] == 11
    assert len(V.chain_versions(root)) == 1
    assert V.chain_tags(root) == {"batch-0", "batch-1"}
    assert V.read_current_chain(spark, root).count() == 11

    # a replayed batch id stays visible after the fold; a fresh append
    # adds its own tag on top
    V.append_version(spark.range(11, 12), root, tag="batch-2")
    assert V.chain_tags(root) == {"batch-0", "batch-1", "batch-2"}

    # DATA-LESS links count toward the fold threshold (the re-crawl
    # shape: every batch appends an empty keys delta; a data-only count
    # would never fold the ever-growing marker chain)
    empty = spark.range(1).where("id < 0")
    for i in (3, 4):
        V.append_version(empty, root, tag=f"batch-{i}")
    assert len(V.chain_versions(root)) == 4
    stats2 = V.maybe_compact_chain(
        spark, root, max_links=3, vacuum_keep=1, vacuum_min_age_s=0
    )
    assert stats2 is not None and stats2["rows"] == 12
    assert len(V.chain_versions(root)) == 1
    assert V.chain_tags(root) == {
        "batch-0", "batch-1", "batch-2", "batch-3", "batch-4"
    }
    # vacuum_keep swept the folded-away links (a sole-writer ingest
    # loop's retention); only the folded version remains on disk
    import os as _os

    vdirs = [d for d in _os.listdir(root) if d.startswith("v")]
    assert vdirs == [stats2["version"]], vdirs
    assert stats2["vacuumed"]
    assert V.read_current_chain(spark, root).count() == 12


def test_append_containment_index_tag(spark, tmp_path):
    """The tag threads through append_containment_index to the
    published delta — the stream-contain-live replay guard's exact
    call path."""
    from itdb_spark.operators.dedup import (
        append_containment_index,
        persist_containment_index,
    )
    from itdb_spark.sinks.versioned import chain_tags

    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f g h i j") for i in range(6)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "cidx")
    persist_containment_index(docs, "doc_id", "text", root)
    batch = spark.createDataFrame(
        [(10, "fresh content never seen before in this corpus at all")],
        "doc_id long, text string",
    )
    append_containment_index(spark, root, batch, "doc_id", "text", tag="batch-7")
    assert "batch-7" in chain_tags(root)


def test_containment_append_stored_kh(spark, tmp_path):
    """r12 VERDICT #4: the index's set rows STORE kh = xxhash64(ts) so
    an append matches batch content via a pushed-down literal filter
    instead of re-hashing every corpus set array per refresh. Gates:
    (a) stored kh equals the recomputed hash; (b) fast path and forced
    legacy path emit identical probe results on the refreshed chain;
    (c) a pre-kh chain (simulated by publishing a version without the
    column) falls back to the legacy path and still answers
    identically."""
    from pyspark.sql import functions as F

    from itdb_spark.operators.dedup import (
        append_containment_index,
        containment_probe_persisted,
        persist_containment_index,
    )
    from itdb_spark.sinks.versioned import read_current, write_version

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"tok{j}" for j in range(i % 4, i % 4 + 12)))
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    batch1 = spark.createDataFrame(
        [
            (100, " ".join(f"tok{j}" for j in range(0, 12))),  # dup of doc 0/4/8
            (101, "entirely novel words " + " ".join(f"n{j}" for j in range(10))),
        ],
        "doc_id long, text string",
    )
    probe_batch = spark.createDataFrame(
        [(200, " ".join(f"tok{j}" for j in range(1, 13)))],
        "doc_id long, text string",
    )

    def emitted(root):
        return {
            tuple(r)
            for r in containment_probe_persisted(
                spark, root, probe_batch, "doc_id", "text"
            ).collect()
        }

    # (a) stored kh parity
    root_a = str(tmp_path / "a")
    persist_containment_index(docs, "doc_id", "text", root_a)
    sets = read_current(spark, root_a).where("kind = 'set'")
    bad = sets.where(F.col("kh") != F.xxhash64("ts")).count()
    assert bad == 0 and sets.count() > 0

    # (b) fast vs forced-legacy append: identical probe answers
    root_b = str(tmp_path / "b")
    persist_containment_index(docs, "doc_id", "text", root_b)
    append_containment_index(spark, root_a, batch1, "doc_id", "text")
    append_containment_index(
        spark, root_b, batch1, "doc_id", "text", use_stored_kh=False
    )
    assert emitted(root_a) == emitted(root_b) and emitted(root_a)

    # (c) pre-kh chain: base version published WITHOUT the kh column —
    # the append must detect it and fall back, answers unchanged
    root_c = str(tmp_path / "c")
    root_tmp = str(tmp_path / "tmpl")
    persist_containment_index(docs, "doc_id", "text", root_tmp)
    legacy_base = read_current(spark, root_tmp).drop("kh")
    write_version(legacy_base, root_c, partition_by=["kind"])
    append_containment_index(spark, root_c, batch1, "doc_id", "text")
    assert emitted(root_c) == emitted(root_a)


def test_containment_append_kh_bound_branches_publish_identical_rows(
    spark, tmp_path, monkeypatch
):
    """The batch-key collect is bounded at _KH_PUSHDOWN_MAX + 1 rows; a
    batch past the bound takes the broadcast join on the stored kh
    instead of the literal IN filter. Both branches must publish the
    same delta rows."""
    from itdb_spark.operators import dedup
    from itdb_spark.sinks.versioned import read_current

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"tok{j}" for j in range(i % 4, i % 4 + 12)))
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, " ".join(f"tok{j}" for j in range(0, 12))),  # dup of doc 0/4/8
            (101, "entirely novel words " + " ".join(f"n{j}" for j in range(10))),
            (102, "other novel words " + " ".join(f"m{j}" for j in range(10))),
        ],
        "doc_id long, text string",
    )

    def published(root):
        dedup.persist_containment_index(docs, "doc_id", "text", root)
        dedup.append_containment_index(spark, root, batch, "doc_id", "text")
        return sorted(repr(tuple(r)) for r in read_current(spark, root).collect())

    in_filter = published(str(tmp_path / "in"))
    monkeypatch.setattr(dedup, "_KH_PUSHDOWN_MAX", 1)
    broadcast = published(str(tmp_path / "bc"))
    assert in_filter == broadcast
    assert any("'member'" in r for r in in_filter)


def test_band_ingest_loop_pieces(spark, tmp_path):
    """stream-minhash-ingest-live's machinery, triangulated: (a) a
    tagged append replayed with the same tag is a no-op (the tag rides
    the KEYS publish — the LAST sibling — so only a COMPLETED accept
    skips); (b) folding the member chain keeps the band layout and the
    probe's answers; (c) a batch with zero novel keys publishes a
    data-less keys link that the chain reader and probe absorb."""
    import os

    from itdb_spark.operators.dedup import (
        append_band_index,
        band_collision_counts_persisted,
        minhash_bands,
        minhash_signatures,
        persist_band_index,
    )
    from itdb_spark.sinks import versioned as V

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i}")
         for i in range(6)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "bidx")
    keys_root = root + "_keys"
    persist_band_index(
        minhash_bands(minhash_signatures(docs, "doc_id", "text")), root
    )

    batch1 = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta doc0"),
         (101, "wholly novel content words qqq www eee rrr ttt yyy")],
        "doc_id long, text string",
    )
    b1 = minhash_bands(minhash_signatures(batch1, "doc_id", "text"))
    append_band_index(spark, root, b1, tag="batch-0")
    assert "batch-0" in V.chain_tags(keys_root)
    n_member = len(V.chain_versions(root))
    n_keys = len(V.chain_versions(keys_root))
    # (a) replay: same tag → no new versions on either sibling
    append_band_index(spark, root, b1, tag="batch-0")
    assert len(V.chain_versions(root)) == n_member
    assert len(V.chain_versions(keys_root)) == n_keys

    def screen(batch_df):
        bands = minhash_bands(
            minhash_signatures(batch_df, "doc_id", "text")
        )
        return {
            (r.doc_id, r.n_hit_bands)
            for r in band_collision_counts_persisted(
                spark, root, bands
            ).collect()
        }

    probe = spark.createDataFrame(
        [(200, "alpha beta gamma delta epsilon zeta eta theta doc1")],
        "doc_id long, text string",
    )
    before = screen(probe)
    assert before  # the replica must collide

    # (b) fold the member chain: band layout + answers survive
    stats = V.maybe_compact_chain(spark, root, max_links=1)
    assert stats is not None
    assert V._detect_partition_cols(root, stats["version"]) == ["band"]
    assert screen(probe) == before

    # (c) zero-novel-keys accept: replica of batch1 → data-less keys
    # delta, everything still answers
    batch2 = spark.createDataFrame(
        [(300, "alpha beta gamma delta epsilon zeta eta theta doc0")],
        "doc_id long, text string",
    )
    b2 = minhash_bands(minhash_signatures(batch2, "doc_id", "text"))
    append_band_index(spark, root, b2, tag="batch-1")
    assert "batch-1" in V.chain_tags(keys_root)
    newest_keys = V.chain_versions(keys_root)[0]
    assert not V._has_data(keys_root, newest_keys)  # data-less link
    assert screen(probe) == before


def test_versioned_writer_options_reach_parquet(spark, tmp_path):
    """writer_options threads parquet knobs into version writes: a
    2 MB block size on a ~6 MB single-file write must produce multiple
    row groups where the default produces one — the granularity lever
    the kh point-lookup pruning needs (SCALE.md §r13 switch-point)."""
    import os

    import pyarrow.parquet as pq

    from itdb_spark.sinks import versioned as V

    df = spark.range(600_000).selectExpr(
        "id", "repeat(uuid(), 2) as pad"
    ).coalesce(1)
    root_default = str(tmp_path / "d")
    V.write_version(df, root_default, n_files=1)
    root_small = str(tmp_path / "s")
    V.write_version(
        df, root_small, n_files=1,
        writer_options={"parquet.block.size": str(1 << 21)},
    )

    def row_groups(root):
        vdir = os.path.join(root, V.current_version(root))
        files = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
        assert len(files) == 1
        return pq.ParquetFile(os.path.join(vdir, files[0])).num_row_groups

    assert row_groups(root_default) == 1
    assert row_groups(root_small) >= 3

    # the append path takes the same knob
    V.append_version(
        df.limit(1000), root_small,
        writer_options={"parquet.block.size": str(1 << 21)},
    )
    assert V.read_current_chain(spark, root_small).count() == 601_000

    # ...and so does the FOLD: a compaction that rewrote at the 128 MB
    # default would silently discard the point-lookup granularity the
    # pushed-key pruning relies on (the partition-layout hazard class)
    stats = V.compact_chain(
        spark, root_small,
        writer_options={"parquet.block.size": str(1 << 21)},
    )
    assert row_groups(root_small) >= 3
    assert stats["rows"] == 601_000


def test_ivf_versioned_chain_ingest_and_serve(spark, tmp_path):
    """r12 VERDICT #5 — the ANN ingest loop's pieces, triangulated
    against the in-memory engine: (a) append_ivf_index publishes
    batch-assigned deltas whose union equals in-memory incremental
    assignment; (b) ivf_search_persisted over the chain is BIT-IDENTICAL to
    ivf_search over the unioned in-memory assignments; (c) the probed-
    cell IN filter reaches every chain link's scan as PartitionFilters;
    (d) maybe_compact_chain folds the chain keeping the centroid_id
    layout, the tags, and the exact search answers."""
    import os
    import re

    from itdb_spark.operators.ivf import (
        append_ivf_index,
        build_ivf_index,
        ivf_assign_incremental,
        ivf_search,
        ivf_search_persisted,
        persist_ivf_index,
    )
    from itdb_spark.sinks import versioned as V

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 5 != 4)
    b0 = emb.where((F.col("vec_id") % 5 == 4) & (F.col("vec_id") % 10 == 4))
    b1 = emb.where((F.col("vec_id") % 5 == 4) & (F.col("vec_id") % 10 == 9))
    queries = emb.where(F.col("vec_id") < 5)

    assignments, centroids = build_ivf_index(base, k=8)
    root = str(tmp_path / "ivf")
    chain_root = os.path.join(root, "assignments")
    persist_ivf_index(assignments, centroids, root)
    append_ivf_index(spark, root, b0, tag="batch-0")
    append_ivf_index(spark, root, b1, tag="batch-1")
    assert V.chain_tags(chain_root) == {"batch-0", "batch-1"}
    assert len(V.chain_versions(chain_root)) == 3

    merged = assignments.unionByName(
        ivf_assign_incremental(b0, centroids)
    ).unionByName(ivf_assign_incremental(b1, centroids))
    want = sorted(
        tuple(r)
        for r in ivf_search(merged, centroids, queries, k=5, n_probe=3).collect()
    )
    chain_df = ivf_search_persisted(spark, root, queries, k=5, n_probe=3)
    got = sorted(tuple(r) for r in chain_df.collect())
    assert got == want and got

    # (c) pruning proof: one query at n_probe=2 — the IN filter must be
    # a PartitionFilter on EVERY chain link's scan (3 links here)
    one_df = ivf_search_persisted(
        spark, root, emb.where(F.col("vec_id") == 0), k=5, n_probe=2
    )
    one_df.collect()
    plan = one_df._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    hits = [pf for pf in pfs if "centroid_id" in pf and " IN " in pf]
    assert len(hits) >= 3, plan

    # (d) fold: layout, tags, and answers all survive
    stats = V.maybe_compact_chain(spark, chain_root, max_links=1)
    assert stats is not None and len(V.chain_versions(chain_root)) == 1
    assert V._detect_partition_cols(chain_root, stats["version"]) == [
        "centroid_id"
    ]
    assert V.chain_tags(chain_root) == {"batch-0", "batch-1"}
    refolded = sorted(
        tuple(r)
        for r in ivf_search_persisted(spark, root, queries, k=5, n_probe=3).collect()
    )
    assert refolded == want
