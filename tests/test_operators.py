"""Operator unit/property tests over the itdb-domain fixtures and small
synthetic frames — the metamorphic checks SQL oracles are weak at
(SURVEY.md §5.3)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stars_bucketization(spark):
    from itdb_spark.functions.core import stars

    df = spark.createDataFrame(
        [(None,), (0,), (19,), (20,), (99,), (100,)], "rating int"
    ).select(stars("rating").alias("s"))
    assert [r.s for r in df.collect()] == [0, 0, 0, 1, 4, 5]


def test_hierarchy_expansion(spark, playlists):
    from itdb_spark.operators.hierarchy import expand_hierarchy

    out = expand_hierarchy(
        playlists, "Playlist_Persistent_ID", "Parent_Persistent_ID", max_depth=5
    )
    rows = out.collect()
    assert all(r.depth >= 1 for r in rows)
    # depth-1 edges = playlists with a parent
    n_edges = playlists.where(F.col("Parent_Persistent_ID").isNotNull()).count()
    assert sum(1 for r in rows if r.depth == 1) == n_edges
    # grandchildren exist in the 3-level fixture tree
    assert any(r.depth == 2 for r in rows)
    # no self-ancestry
    assert all(r.ancestor != r.descendant for r in rows)


def _chain(spark, links: int):
    """(id, parent) frame of a single chain root → ... with ``links`` edges."""
    rows = [("n0", None)] + [(f"n{i}", f"n{i - 1}") for i in range(1, links + 1)]
    return spark.createDataFrame(rows, "id string, parent string")


def test_hierarchy_exact_max_depth_returns(spark):
    from itdb_spark.operators.hierarchy import expand_hierarchy

    rows = expand_hierarchy(_chain(spark, 3), "id", "parent", max_depth=3).collect()
    # a 3-link chain has 3 + 2 + 1 (ancestor, descendant) pairs
    assert sorted(r.depth for r in rows) == [1, 1, 1, 2, 2, 3]


def test_hierarchy_deeper_than_max_depth_raises(spark):
    import pytest

    from itdb_spark.operators.hierarchy import expand_hierarchy

    with pytest.raises(ValueError, match="deeper than max_depth=3"):
        expand_hierarchy(_chain(spark, 4), "id", "parent", max_depth=3)


def test_hierarchy_cycle_raises(spark):
    import pytest

    from itdb_spark.operators.hierarchy import expand_hierarchy

    two_cycle = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", None)], "id string, parent string"
    )
    with pytest.raises(ValueError, match="cycle"):
        expand_hierarchy(two_cycle, "id", "parent", max_depth=5)


def test_playlist_stats_equivalence(spark, tracks, playlist_tracks):
    """Materialization ≡ re-aggregation (agg-pl-stats vs agg-pl-restat,
    itdb2html.py:478-493) and ≡ direct library-wide histogram."""
    from itdb_spark.functions.core import stars
    from itdb_spark.plans import playlist_stats, restat

    stats = playlist_stats(tracks, playlist_tracks)
    total_via_stats = {(r.Stars, r.Total) for r in restat(stats).collect()}
    direct = (
        playlist_tracks.join(tracks.select("User_ID", "Track_ID", "Rating"),
                             ["User_ID", "Track_ID"])
        .groupBy(stars("Rating").alias("Stars"))
        .agg(F.count("*").alias("Total"))
    )
    assert {(r.Stars, r.Total) for r in direct.collect()} == total_via_stats
    # histogram totals equal joined row count
    joined_cnt = playlist_tracks.join(
        tracks.select("User_ID", "Track_ID"), ["User_ID", "Track_ID"]
    ).count()
    assert sum(t for _, t in total_via_stats) == joined_cnt
    # stars domain
    assert all(0 <= s <= 5 for s, _ in total_via_stats)


def test_quality_guard(spark):
    from itdb_spark.plans import playlist_quality

    stats = spark.createDataFrame(
        [
            (1, 1, 0, 90),  # playlist 1: 90 unrated…
            (1, 1, 100, 10),  # …10 five-star → <20% rated → 0
            (1, 2, 0, 10),
            (1, 2, 80, 30),  # 75% rated at 4 stars → 4.0
        ],
        "User_ID int, Playlist_ID int, Rating int, Count long",
    )
    q = {r.Playlist_ID: r.Quality for r in playlist_quality(stats).collect()}
    assert q[1] == 0.0
    assert q[2] == 4.0


def test_incremental_enrichment(spark, tracks):
    from itdb_spark.fixtures import make_ffprobe_streams
    from itdb_spark.plans import unprobed_av_tracks, videos_below

    streams = make_ffprobe_streams(spark, tracks)
    av_total = tracks.where("TV_Show OR Movie").count()
    probed = streams.select("Persistent_ID").distinct().count()
    unprobed = unprobed_av_tracks(tracks, streams).count()
    assert unprobed == av_total - probed  # anti-join completeness
    low = videos_below(streams, 720)
    assert low.count() > 0
    assert all(r.height < 720 for r in low.collect())


def test_orphans_missing_and_dupes(spark, tracks):
    from itdb_spark.fixtures import make_files
    from itdb_spark.plans import adjacent_dupes, checksum_dupes, orphans_and_missing

    files = make_files(spark, tracks)
    out = orphans_and_missing(tracks, files)
    sides = {r.side for r in out.collect()}
    assert sides == {"missing", "orphan"}
    orphans = [r.norm_path for r in out.collect() if r.side == "orphan"]
    assert any("orphan" in p for p in orphans)
    # excluded prefixes never appear
    assert not any(".ds_store" in p or "/tones/" in p for p in orphans)
    dupes = checksum_dupes(files)
    assert dupes.count() > 0
    assert all(r.cnt > 1 and len(r.paths) == r.cnt for r in dupes.collect())
    # win-lag adjacent-dup flags = Σ(group_size−1)
    adj = adjacent_dupes(files).count()
    expected = sum(r.cnt - 1 for r in dupes.collect())
    assert adj == expected
    # the scale form (partitioned window, no global sort) is row-identical
    from itdb_spark.plans import adjacent_dupes_scalable

    a = {(r.checksum, r.path) for r in adjacent_dupes(files).collect()}
    b = {(r.checksum, r.path) for r in adjacent_dupes_scalable(files).collect()}
    assert a == b


def test_minhash_finds_planted_near_dups(spark):
    from itdb_spark.operators.dedup import minhash_candidates, ngram_jaccard_pairs

    base = [(i, " ".join(f"tok{(i * 31 + j * 7) % 97}" for j in range(40))) for i in range(20)]
    near = [(i + 100, t.split(" ", 1)[1]) for i, t in base]  # drop first token
    docs = spark.createDataFrame(base + near, "doc_id long, text string")
    cands = {(r.id1, r.id2) for r in minhash_candidates(docs, "doc_id", "text").collect()}
    planted = {(i, i + 100) for i in range(20)}
    assert planted <= cands  # full recall on the planted pairs
    verified = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    vpairs = {(r.id1, r.id2) for r in verified.collect()}
    assert planted <= vpairs


def test_simhash_near_dup_distance(spark):
    from itdb_spark.operators.dedup import simhash

    base = " ".join(f"tok{j}" for j in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, " ".join(f"other{j}" for j in range(60)))],
        "doc_id long, text string",
    )
    vals = {r.doc: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(vals[1], vals[2]) < ham(vals[1], vals[3])


def test_knn_lsh_subset_of_brute(spark):
    """LSH neighbors are a subset of the candidate space and cosine values
    match the exact computation for returned pairs."""
    from itdb_spark.operators.similarity import brute_force_knn, lsh_knn

    from itdb_spark.catalog import Tables
    from tests.conftest import SF_DIR

    emb = Tables(spark, SF_DIR).embeddings
    queries = emb.where(F.col("vec_id") < 3)
    brute = brute_force_knn(emb, queries, k=500)  # full ranking
    exact = {(r.query_id, r.neighbor_id): r.cosine for r in brute.collect()}
    approx = lsh_knn(spark, emb, queries, k=3)
    for r in approx.collect():
        assert (r.query_id, r.neighbor_id) in exact
        assert abs(exact[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_topk_shrink_properties(spark):
    from itdb_spark.queries import load_all

    from tests.conftest import SF_DIR

    out = load_all()["topk-shrink"].spark(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) <= 10


def test_manifest_sinks(spark, tmp_path):
    from itdb_spark.sinks.manifest import apply_manifest, symlink_manifest, write_text_report

    src = tmp_path / "srcfile"
    src.write_text("x")
    rows = spark.createDataFrame(
        [(str(src), f"Song {i}", "Rock") for i in range(5)], "path string, name string, genre string"
    )
    manifest = symlink_manifest(rows, "path", "name", layout=("genre", "name"))
    actions = apply_manifest(manifest, str(tmp_path / "out"))
    assert len(actions) == 5
    assert all((tmp_path / "out" / a["dest"]).is_symlink() for a in actions)
    # idempotent re-apply
    actions2 = apply_manifest(manifest, str(tmp_path / "out"))
    assert len(actions2) == 5
    n = write_text_report(rows.select("name"), "name", str(tmp_path / "report.txt"))
    assert n == 5
    assert (tmp_path / "report.txt").read_text().startswith("Song 0")


def test_multimodal_stub(spark):
    from itdb_spark.operators.multimodal import decode_binary_metadata, frame_sample_manifest

    docs = spark.createDataFrame([(1, b"abcdef"), (2, b"xyz")], "doc_id long, content binary")
    out = decode_binary_metadata(docs).collect()
    assert {r.doc_id: r.n_bytes for r in out} == {1: 6, 2: 3}
    assert all(r.format in ("png", "jpeg") and r.width > 0 for r in out)
    frames = frame_sample_manifest(docs, n_frames=3)
    assert frames.count() == 6


def _png_bytes(w: int, h: int) -> bytes:
    import struct
    import zlib

    ihdr = struct.pack(">II5B", w, h, 8, 6, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )


def test_decode_image_header_real_formats():
    """Header parse is REAL: full-spec PNG (CRC included), JPEG whose SOF0
    sits behind APP0+comment segments (real-world layout), GIF89a — and a
    graceful None for non-image bytes."""
    import struct

    from itdb_spark.operators.multimodal import decode_image_header

    assert decode_image_header(_png_bytes(640, 480)) == (640, 480, "png")
    assert decode_image_header(_png_bytes(1, 1)) == (1, 1, "png")

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00" * 6
    comment = b"\xff\xfe" + struct.pack(">H", 9) + b"helloature"[:7]
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", 768, 1024)  # height, width
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    jpeg = b"\xff\xd8" + app0 + comment + sof0 + b"payload"
    assert decode_image_header(jpeg) == (1024, 768, "jpeg")

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert decode_image_header(gif) == (320, 200, "gif")

    assert decode_image_header(b"plain text, no image header") is None
    assert decode_image_header(b"") is None
    assert decode_image_header(b"\xff\xd8truncated") is None


def test_decode_jpeg_padding_and_terminators():
    """Real-world JPEG quirks the walker must survive (ADVICE r3): 0xFF
    fill bytes are legal padding before any marker — they are NOT
    length-bearing segments; EOI (D9) / SOS (DA) end the parseable stream;
    RST markers are standalone; a zero segment length must not loop."""
    import struct

    from itdb_spark.operators.multimodal import decode_image_header

    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", 480, 640)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"

    # fill bytes between segments: FF FF FF before APP0 and before SOF0
    padded = b"\xff\xd8" + b"\xff\xff" + app0 + b"\xff\xff\xff" + sof0
    assert decode_image_header(padded) == (640, 480, "jpeg")

    # standalone RST + TEM markers pass through
    rst = b"\xff\xd8" + b"\xff\xd0" + b"\xff\x01" + sof0
    assert decode_image_header(rst) == (640, 480, "jpeg")

    # EOI / SOS before any SOF: clean None, not a bogus seg_len desync
    assert decode_image_header(b"\xff\xd8" + app0 + b"\xff\xd9") is None
    assert decode_image_header(b"\xff\xd8" + b"\xff\xda" + b"\x00\x0cscan data") is None
    # trailing fill bytes only
    assert decode_image_header(b"\xff\xd8\xff\xff\xff") is None
    # zero/self-inconsistent segment length terminates instead of looping
    assert decode_image_header(b"\xff\xd8" + b"\xff\xe0\x00\x00" + sof0) is None
    assert decode_image_header(b"\xff\xd8" + b"\xff\xe0\x00\x01" + sof0) is None
    # truncated SOF payload (length field promises more than exists)
    assert decode_image_header(b"\xff\xd8" + sof0[:7]) is None


def test_src_plist_ignores_planted_library(spark, tmp_path, monkeypatch):
    """A library.xml planted at the old shared tmp path is never read:
    src-plist parses its own private fixture and returns the oracle's
    50 rows, not the planted one-track library."""
    import os
    import tempfile

    import duckdb

    import itdb_spark.queries as queries
    from itdb_spark.queries.scans import _PLIST_ORACLE, _synth_library, src_plist

    os.makedirs(tmp_path / "itdb_spark_plist")
    _synth_library(str(tmp_path / "itdb_spark_plist" / "library.xml"), n_tracks=1, n_playlists=1)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(queries, "_BUILT", {})
    got = sorted(tuple(r) for r in src_plist(spark, str(tmp_path)).collect())
    want = sorted(duckdb.sql(_PLIST_ORACLE).fetchall())
    assert len(got) == 50 and got == want


def test_ranged_cumsum_matches_global_window(spark):
    """ranged_cumsum ≡ the single-partition global-window exclusive cumsum
    it replaces, including ragged bucket sizes and an empty first bucket."""
    from pyspark.sql import Window

    from itdb_spark.plans.library import ranged_cumsum

    rows = [(i, (i * 13) % 7 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.cumsum_before
        for r in ranged_cumsum(df, ["k"], "v", bucket=F.floor(F.col("k") / 37)).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r.k: r.cb
        for r in df.select("k", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("cb")).collect()
    }
    assert got == want


def test_pack_sequences_semantics(spark):
    """Concat-and-chunk invariants: pack_offset ∈ [0, budget); pack_id is
    non-decreasing in doc order; token stream positions are contiguous
    (cumsum reconstruction); a doc longer than the budget still gets the
    pack where it STARTS."""
    from itdb_spark.operators.packing import pack_sequences

    rows = [(1, 1000), (2, 1500), (3, 5000), (4, 10), (5, 2048), (6, 1)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = sorted(
        (r.doc_id, r.pack_id, r.pack_offset)
        for r in pack_sequences(docs, budget=2048).collect()
    )
    # cumsums before each doc: 0, 1000, 2500, 7500, 7510, 9558
    assert out == [
        (1, 0, 0),
        (2, 0, 1000),
        (3, 1, 452),   # starts inside pack 1, straddles through pack 3
        (4, 3, 1356),
        (5, 3, 1366),
        (6, 4, 1366),
    ]
    budgeted = pack_sequences(docs, budget=2048).collect()
    assert all(0 <= r.pack_offset < 2048 for r in budgeted)


def test_interval_overlap_join_matches_naive(spark):
    """Bucketized overlap join ≡ cross-join + theta filter on random
    intervals spanning multiple buckets (including zero-length and
    bucket-straddling ones), each pair emitted exactly once — and the
    plan must be an equi-join on bucket, never a cartesian product."""
    import datetime as dt

    from itdb_spark.operators.rangejoin import interval_overlap_join

    base = dt.datetime(2024, 1, 1)

    def mk(n, seed, max_len_h):
        rows = []
        for i in range(n):
            s = base + dt.timedelta(hours=((i * 37 + seed) % 2000))
            e = s + dt.timedelta(hours=((i * 13 + seed) % max_len_h))
            rows.append((seed * 10000 + i, s, e))
        return spark.createDataFrame(rows, "id long, start timestamp, end timestamp")

    left = mk(80, 1, 300)
    right = mk(70, 2, 500)
    got = {
        (r.l_id, r.r_id)
        for r in interval_overlap_join(
            left.withColumnRenamed("id", "l_id"),
            right.withColumnRenamed("id", "r_id"),
            "l_id", "r_id", bucket_seconds=86400,
        ).collect()
    }
    naive = {
        (l.id, r.id)
        for l in left.collect()
        for r in right.collect()
        if l.start <= r.end and r.start <= l.end
    }
    assert got == naive and len(naive) > 0

    plan = (
        interval_overlap_join(
            left.withColumnRenamed("id", "l_id"),
            right.withColumnRenamed("id", "r_id"),
            "l_id", "r_id", bucket_seconds=86400,
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_winnow_guarantee(spark):
    """Winnowing's defining property: two documents sharing a run of at
    least w+k-1 = 6 consecutive tokens MUST share a fingerprint; disjoint
    vocabularies must share none."""

    from itdb_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"nine eight {shared} seven"),
        (3, "p q r s t u v w x y z aa bb cc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {
        r.doc: set(r.fps) for r in winnow_fingerprints(docs, "doc_id", "text").collect()
    }
    assert sets[1] & sets[2], "docs sharing a 6-token run must share a fingerprint"
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])


def test_pack_chunks_invariants(spark):
    """Σ slice_len per doc = n_tokens; every pack except the last sums to
    exactly the budget; slices are within-doc and contiguous."""
    from itdb_spark.operators.packing import pack_chunks

    rows = [(1, 1000), (2, 1500), (3, 5000), (4, 10), (5, 2048), (6, 1)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_chunks(docs, budget=2048).collect()
    per_doc = {}
    per_pack = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append((r.pack_id, r.slice_start, r.slice_len))
        per_pack[r.pack_id] = per_pack.get(r.pack_id, 0) + r.slice_len
        assert r.slice_len > 0
    want = dict(rows)
    for doc_id, chunks in per_doc.items():
        assert sum(c[2] for c in chunks) == want[doc_id]
        chunks.sort()
        # contiguity: each chunk resumes where the previous ended
        for (p_a, s_a, l_a), (p_b, s_b, l_b) in zip(chunks, chunks[1:]):
            assert p_b == p_a + 1 and s_b == s_a + l_a
    last_pack = max(per_pack)
    for p, total in per_pack.items():
        assert total == 2048 or p == last_pack, (p, total)


def test_pack_chunks_zero_token_docs(spark):
    """Zero-token docs emit NO chunk rows — even when their cumsum lands
    exactly on a pack boundary, where the unguarded sequence(p0, p1) is
    DESCENDING (p1 < p0) and emits spurious slice_len <= 0 rows that a
    SQL generate_series oracle never produces (ADVICE r4). Empty docs
    still ride the cumsum; contributing 0 tokens, they shift nothing."""
    from itdb_spark.operators.packing import pack_chunks

    # doc 2's cumsum_before = 2048: exactly the boundary (the bug shape);
    # doc 4's cumsum_before = 2058: mid-pack (the slice_len=0 shape).
    rows = [(1, 2048), (2, 0), (3, 10), (4, 0), (5, 2040)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_chunks(docs, budget=2048).collect()
    assert {r.doc_id for r in out} == {1, 3, 5}
    assert all(r.slice_len > 0 for r in out)
    got = {}
    for r in out:
        got[r.doc_id] = got.get(r.doc_id, 0) + r.slice_len
    assert got == {1: 2048, 3: 10, 5: 2040}


def test_winnow_fingerprints_k_param(spark):
    """k and window are honored for k != 3: fingerprints must equal a
    pure-Python SWA reimplementation (same portable md5-prefix hash) for
    several (k, window) combinations — the k-gram expression used to be
    hard-coded to trigrams regardless of k (ADVICE r4)."""
    import hashlib

    from itdb_spark.operators.dedup import winnow_fingerprints

    def py_winnow(text, k, w):
        t = text.strip().split()
        grams = [" ".join(t[i:i + k]) for i in range(len(t) - k + 1)]
        h = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
        n_win = max(len(h) - w + 1, 1)
        return {min(h[j:j + w]) for j in range(n_win)}

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for k, w in [(2, 3), (3, 4), (4, 4), (5, 2)]:
        got = {
            r.doc: set(r.fps)
            for r in winnow_fingerprints(
                docs, "doc_id", "text", k=k, window=w
            ).collect()
        }
        want = {i: py_winnow(tx, k, w) for i, tx in rows}
        assert got == want, (k, w)


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row with ts <= left ts per key;
    inclusive by default (equal-ts match taken), strict excludes it;
    left rows with no preceding right row keep null payloads; colliding
    payload names are rejected."""
    import datetime as dt

    import pytest as _pytest

    from itdb_spark.operators.asof import asof_join

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, "u", T(5)), (2, "u", T(10)), (3, "u", T(2)), (4, "v", T(30))],
        "event_id long, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", T(3), 100.0), ("u", T(10), 200.0), ("w", T(1), 900.0)],
        "user string, rts timestamp, price double",
    )
    got = {
        r.event_id: (r.rts, r.price)
        for r in asof_join(left, right, "user", "ts", "rts").collect()
    }
    assert got == {
        1: (T(3), 100.0),   # latest at-or-before 0:05
        2: (T(10), 200.0),  # inclusive: equal-ts match taken
        3: (None, None),    # nothing precedes 0:02
        4: (None, None),    # key with no right rows at all
    }
    strict = {
        r.event_id: (r.rts, r.price)
        for r in asof_join(left, right, "user", "ts", "rts", strict=True).collect()
    }
    assert strict[2] == (T(3), 100.0)  # equal-ts excluded → falls back
    assert strict[1] == (T(3), 100.0) and strict[3] == (None, None)

    with _pytest.raises(ValueError, match="colliding"):
        asof_join(left, right.withColumnRenamed("rts", "ts"), "user", "ts", "ts")

    # ONE exchange total — the window's hash partitioning; union-tag adds
    # no join shuffle (the operator's scale contract)
    plan = (
        asof_join(left, right, "user", "ts", "rts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_cell_balanced_sample(spark):
    """Quota respected per cell; under-quota cells kept whole; selection
    deterministic (same seed → same rows, different seed → generally
    different rows but same counts); ONE window exchange serves both the
    rank and the cell size."""
    from itdb_spark.operators.ivf import cell_balanced_sample

    rows = [(i, 0) for i in range(100)] + [(1000 + i, 1) for i in range(5)]
    a = spark.createDataFrame(rows, "vec_id long, centroid_id long")
    out = cell_balanced_sample(a, "vec_id", quota=10).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r.centroid_id, []).append(r)
    assert len(by_cell[0]) == 10 and all(r.cell_n == 100 for r in by_cell[0])
    assert len(by_cell[1]) == 5 and all(r.cell_n == 5 for r in by_cell[1])
    again = {r.vec_id for r in cell_balanced_sample(a, "vec_id", quota=10).collect()}
    assert again == {r.vec_id for r in out}
    other = {r.vec_id for r in cell_balanced_sample(a, "vec_id", quota=10, seed="x").collect()}
    assert len(other) == 15
    plan = (
        cell_balanced_sample(a, "vec_id", quota=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") <= 2  # rank + size fold into one spec family


def test_chunk_dup_stats_semantics(spark):
    """Exact copies share all chunks; a one-token shift evades every
    chunk boundary (the documented blind spot winnowing covers); short
    docs carry no chunks."""
    from itdb_spark.operators.dedup import chunk_dup_stats

    base = " ".join(f"w{i}" for i in range(30))  # 3 full 10-token chunks
    rows = [
        (1, base),
        (2, base),                      # exact copy
        (3, "shift " + base),           # one-token shift
        (4, "tiny doc"),                # < 1 chunk
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_chunks, r.n_dup_chunks)
           for r in chunk_dup_stats(docs, "doc_id", "text").collect()}
    assert got[1] == (3, 3) and got[2] == (3, 3)
    assert got[3] == (3, 0)  # shifted: no chunk survives
    assert 4 not in got


def test_band_collision_counts(spark):
    """A new doc identical to an indexed doc hits all 4 bands; a new doc
    with disjoint vocabulary hits none (absent from the result)."""
    from itdb_spark.operators.dedup import (
        band_collision_counts,
        minhash_bands,
        minhash_signatures,
    )

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, text_a), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, text_a), (101, "completely unrelated vocabulary in this new document here now")],
        "doc_id long, text string",
    )
    idx_bands = minhash_bands(minhash_signatures(corpus, "doc_id", "text"))
    new_bands = minhash_bands(minhash_signatures(new, "doc_id", "text"))
    got = {r.doc_id: r.n_hit_bands
           for r in band_collision_counts(new_bands, idx_bands).collect()}
    assert got == {100: 4}


def test_probe_container_header_robust():
    """Probe is total: valid header parses exactly; truncated / wrong
    magic / empty yield None (nulls downstream, never fabricated)."""
    import struct

    from itdb_spark.operators.multimodal import probe_container_header

    ok = b"FAKV" + struct.pack(">I", 3600) + struct.pack(">H", 24)
    assert probe_container_header(ok) == (3600, 24)
    assert probe_container_header(ok + b"trailing-bytes") == (3600, 24)
    assert probe_container_header(ok[:9]) is None      # truncated
    assert probe_container_header(b"RIFF" + ok[4:]) is None  # wrong magic
    assert probe_container_header(b"") is None


def test_asof_join_forward(spark):
    """Forward direction: EARLIEST right row with ts >= left ts;
    inclusive takes the equal-ts match, strict skips past it; trailing
    left rows with nothing after them get nulls."""
    import datetime as dt

    import pytest as _pytest

    from itdb_spark.operators.asof import asof_join

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, "u", T(5)), (2, "u", T(10)), (3, "u", T(40)), (4, "v", T(1))],
        "event_id long, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", T(3), 100.0), ("u", T(10), 200.0), ("u", T(30), 300.0)],
        "user string, rts timestamp, price double",
    )
    got = {
        r.event_id: (r.rts, r.price)
        for r in asof_join(
            left, right, "user", "ts", "rts", direction="forward"
        ).collect()
    }
    assert got == {
        1: (T(10), 200.0),  # earliest at-or-after 0:05
        2: (T(10), 200.0),  # inclusive equal-ts
        3: (None, None),    # nothing after 0:40
        4: (None, None),    # key with no right rows
    }
    strict = {
        r.event_id: (r.rts, r.price)
        for r in asof_join(
            left, right, "user", "ts", "rts", strict=True, direction="forward"
        ).collect()
    }
    assert strict[2] == (T(30), 300.0)  # equal-ts skipped → next one

    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, "user", "ts", "rts", direction="sideways")
    with _pytest.raises(ValueError, match="strict nearest"):
        asof_join(left, right, "user", "ts", "rts", strict=True, direction="nearest")


def test_duplicate_spans_semantics(spark):
    """Interval-union span consolidation: a shared 10-token run between
    two docs yields ONE maximal span of exactly 10 tokens in each (not
    three overlapping 8-gram spans); a within-doc repeat also counts
    (corpus frequency >= 2 includes same-doc occurrences); disjoint
    shared runs separated by > L unique tokens stay separate spans; docs
    with no duplicated 8-gram are absent."""
    from itdb_spark.operators.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(10))          # 10-token run
    shared2 = " ".join(f"z{i}" for i in range(8))          # 8-token run
    gap_a = " ".join(f"a{i}" for i in range(12))           # > L unique gap
    gap_b = " ".join(f"b{i}" for i in range(12))
    rows = [
        (1, f"{shared} {gap_a} {shared2}"),
        (2, f"{gap_b} {shared} {1} {shared2}"),
        # doc 3: the same 8-gram twice WITHIN one doc, nowhere else
        (3, " ".join(f"r{i}" for i in range(8)) + " qqq "
            + " ".join(f"r{i}" for i in range(8))),
        (4, "totally unique words never repeated anywhere else at all ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in duplicate_spans(docs, "doc_id", "text", min_len=8).collect()
    }
    # doc 1: span [1..10] (len 10) and span at shared2 (len 8) — the
    # 12-token unique gap exceeds L so they cannot merge.
    assert (got[1].n_spans, got[1].dup_tokens, got[1].max_span_len) == (2, 18, 10)
    assert got[1].first_span_start == 1
    # doc 2: same two runs, separated by one unique token ('1'): even a
    # single unique token between runs puts the next duplicated gram
    # L+1 positions past the previous one, so distinct maximal runs are
    # NEVER merged — the union only consolidates a run's own sliding
    # grams. Two spans, 10 + 8 = 18 duplicated tokens.
    assert (got[2].n_spans, got[2].dup_tokens) == (2, 18)
    # doc 3: within-doc repeat — both occurrences of the 8-run are
    # duplicated ([1..8] and [10..17]); 'qqq' at position 9 is not, so
    # two disjoint spans of 8: 16 duplicated tokens.
    assert (got[3].n_spans, got[3].dup_tokens, got[3].max_span_len) == (2, 16, 8)
    assert 4 not in got


def test_duplicate_spans_gram_freq_is_corpuswide_total(spark):
    """The >= 2 gate counts TOTAL occurrences, not distinct docs: one doc
    containing a gram twice marks it duplicated even with no second doc."""
    from itdb_spark.operators.dedup import duplicate_spans

    one = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(7, f"{one} {'x' * 3} {one}")], "doc_id long, text string"
    )
    rows = duplicate_spans(docs, "doc_id", "text", min_len=8).collect()
    assert len(rows) == 1 and rows[0].doc_id == 7


def test_funnel_strict_ordering(spark, monkeypatch):
    """agg-funnel's sequential semantics: a purchase BEFORE the first
    click does not convert; a click before the first view does not
    count as stage 2; out-of-order users stall at the stage they
    actually reached in order."""
    from datetime import datetime

    import itdb_spark.catalog as catalog
    from itdb_spark.queries import load_all

    ts = lambda s: datetime(2026, 1, 1, 0, 0, s)
    rows = [
        # user 1: clean view(1) -> click(2) -> purchase(3) => stage 3
        (1, ts(1), "view"), (1, ts(2), "click"), (1, ts(3), "purchase"),
        # user 2: purchase(1) BEFORE view(2)+click(3) => stage 2 only
        (2, ts(1), "purchase"), (2, ts(2), "view"), (2, ts(3), "click"),
        # user 3: click(1) before view(2) => stage 1 only
        (3, ts(1), "click"), (3, ts(2), "view"),
        # user 4: view only => stage 1
        (4, ts(5), "view"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    ).withColumn("event_id", F.lit(0)).withColumn("value", F.lit(0.0)).withColumn("props", F.lit("{}"))

    class FakeTables:
        def __init__(self, _spark, _sf):
            self.events = ev

    import itdb_spark.queries.analytics as qa
    monkeypatch.setattr(qa, "Tables", FakeTables)
    out = load_all()["agg-funnel"].spark(spark, "unused")
    got = {r.user_id: r.stage for r in out.collect()}
    assert got == {1: 3, 2: 2, 3: 1, 4: 1}


def test_remove_duplicate_spans_rewrite(spark):
    """Despans excise exactly the tokens duplicate_spans counts: the
    shared run disappears from both docs, unique docs pass through
    token-identical, a fully-duplicated doc becomes empty-string (not
    null), and n_removed reconciles with dedup-span's dup_tokens."""
    from itdb_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, f"{shared} tail1 tail2 tail3"),
        (2, f"head1 head2 {shared}"),
        (3, shared),                       # fully duplicated
        (4, "all unique words in this one nothing repeats here today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clean = {r.doc_id: r for r in
             remove_duplicate_spans(docs, "doc_id", "text").collect()}
    spans = {r.doc_id: r for r in
             duplicate_spans(docs, "doc_id", "text").collect()}
    assert clean[1].clean_text == "tail1 tail2 tail3"
    assert clean[2].clean_text == "head1 head2"
    assert clean[3].clean_text == "" and clean[3].n_tokens == 0
    assert clean[4].clean_text == rows[3][1] and clean[4].n_removed == 0
    for d in (1, 2, 3):
        assert clean[d].n_removed == spans[d].dup_tokens


def test_wav_walker_robustness():
    """RIFF chunk walk: odd-size chunks pad to word boundaries, unknown
    chunks are skipped, chunk order doesn't matter (data before fmt),
    data sizes overrunning the payload clamp, and malformed blobs yield
    None instead of garbage."""
    import struct as st

    from itdb_spark.operators.multimodal import decode_wav_header

    def fmt_chunk(ch=2, rate=16000, bits=16):
        body = st.pack("<HHIIHH", 1, ch, rate, rate * ch * bits // 8,
                       ch * bits // 8, bits)
        return b"fmt " + st.pack("<I", len(body)) + body

    def chunk(cc, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cc + st.pack("<I", len(body)) + body + pad

    def wav(*chunks):
        inner = b"".join(chunks)
        return b"RIFF" + st.pack("<I", 4 + len(inner)) + b"WAVE" + inner

    pcm = b"\x01\x02" * 50  # 100 bytes
    # clean file
    assert decode_wav_header(wav(fmt_chunk(), chunk(b"data", pcm))) == (
        2, 16000, 16, 100)
    # odd-size junk chunk before data: the pad byte must be consumed
    assert decode_wav_header(
        wav(fmt_chunk(), chunk(b"LIST", b"\x07" * 5), chunk(b"data", pcm))
    ) == (2, 16000, 16, 100)
    # data before fmt: order-independent
    assert decode_wav_header(wav(chunk(b"data", pcm), fmt_chunk(1, 8000))) == (
        1, 8000, 16, 100)
    # declared data size overruns the blob: clamp to what exists
    overrun = wav(fmt_chunk()) + b"data" + st.pack("<I", 10_000) + pcm
    assert decode_wav_header(overrun) == (2, 16000, 16, 100)
    # malformed inputs
    assert decode_wav_header(b"") is None
    assert decode_wav_header(b"RIFFxxxxAIFF" + b"\x00" * 40) is None
    assert decode_wav_header(wav(fmt_chunk())) is None          # no data
    assert decode_wav_header(wav(chunk(b"data", pcm))) is None  # no fmt
    assert decode_wav_header(
        wav(fmt_chunk(ch=0), chunk(b"data", pcm))) is None      # zero channels


def test_audio_chunk_manifest_geometry(spark):
    """Chunk geometry invariants: chunks tile [0, total_frames) exactly,
    byte offsets are frame-aligned, the last chunk truncates, and an
    undecodable blob contributes no rows."""
    import struct as st

    from itdb_spark.operators.multimodal import audio_chunk_manifest

    def mono_wav(rate, n_frames):
        body = st.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        pcm = b"\x00\x01" * n_frames
        inner = (b"fmt " + st.pack("<I", 16) + body
                 + b"data" + st.pack("<I", len(pcm)) + pcm)
        return b"RIFF" + st.pack("<I", 4 + len(inner)) + b"WAVE" + inner

    rows = [
        (1, mono_wav(8000, 450)),   # spc=200 @ 25ms -> chunks 200,200,50
        (2, mono_wav(16000, 400)),  # spc=400 -> one exact chunk
        (3, b"not audio at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = audio_chunk_manifest(df, chunk_ms=25).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [(r.start_sample, r.n_samples) for r in c1] == [
        (0, 200), (200, 200), (400, 50)]
    assert all(r.start_byte == r.start_sample * 2 and r.n_bytes == r.n_samples * 2
               for r in c1)
    assert [(r.start_sample, r.n_samples) for r in by_doc[2]] == [(0, 400)]
    assert 3 not in by_doc


def test_pipe_profile_dup_and_rollup_reconcile(spark, monkeypatch):
    """The dataset card's exact_dup_docs counts docs whose fingerprint is
    duplicated CORPUS-WIDE (both copies count, across sources), and the
    rollup grand total reconciles with the per-group rows."""
    import itdb_spark.queries.pipeline as qp
    from itdb_spark.queries import load_all

    rows = [
        (1, "same exact content here ok good fine yes", "en", "web", 40),
        (2, "same exact content here ok good fine yes", "en", "books", 40),
        (3, "totally different words in this one my friend", "en", "web", 45),
        (4, "short", "de", "web", 5),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    class FakeTables:
        def __init__(self, _spark, _sf):
            self.documents = docs

    monkeypatch.setattr(qp, "Tables", FakeTables)
    out = load_all()["pipe-profile"].spark(spark, "unused")
    got = {(r.source, r.lang): r for r in out.collect()}
    assert got[("(all)", "(all)")].n_docs == 4
    assert got[("(all)", "(all)")].exact_dup_docs == 2  # both copies
    assert got[("web", "en")].exact_dup_docs == 1       # one copy per source
    assert got[("books", "en")].exact_dup_docs == 1
    assert got[("web", "de")].short_docs == 1
    # per-(source,lang) rows sum to the grand total
    leaf = [r for r in out.collect() if r.source != "(all)" and r.lang != "(all)"]
    assert sum(r.n_docs for r in leaf) == 4
    assert sum(r.total_tokens for r in leaf) == got[("(all)", "(all)")].total_tokens


def test_bpe_segment_reference_semantics():
    """bpe_segment follows GPT-2 apply semantics with the fixed table:
    rank order decides merge order (not position), merges cascade into
    multi-char symbols, first-occurrence-per-step sweeps all occurrences
    of the best pair left to right, and unmergeable words stay chars."""
    from itdb_spark.operators.packing import BPE_MERGES, bpe_segment

    assert bpe_segment("the") == ["the"]          # t h -> th; th e -> the
    assert bpe_segment("thing") == ["th", "ing"]  # in g after i n
    assert bpe_segment("anderson") == ["and", "ers", "on"]
    assert bpe_segment("agg") == ["a", "g", "g"]  # nothing mergeable
    assert bpe_segment("x") == ["x"]
    assert bpe_segment("") == []
    # rank beats position: in 'inth', 't h' (rank 0) merges before 'i n'
    # (rank 2) even though 'i n' occurs first
    out = bpe_segment("inth")
    assert out == ["in", "th"]
    # repeated best pair sweeps left to right: 'ththth' -> th th th
    assert bpe_segment("ththth") == ["th", "th", "th"]
    # segmentation is a partition of the word
    for w in ["the", "thing", "anderson", "agg", "ththth", "interesting"]:
        assert "".join(bpe_segment(w)) == w


def test_audio_chunk_manifest_subbyte_formats_skip(spark):
    """4-bit ADPCM (frame_bytes 0) and sub-sample chunk windows must skip
    the doc like an undecodable blob, not ZeroDivisionError in the
    executor (code-review finding)."""
    import struct as st

    from itdb_spark.operators.multimodal import audio_chunk_manifest

    def wav(ch, rate, bits, pcm):
        body = st.pack("<HHIIHH", 1, ch, rate, max(rate * ch * bits // 8, 1),
                       max(ch * bits // 8, 1), bits)
        inner = (b"fmt " + st.pack("<I", 16) + body
                 + b"data" + st.pack("<I", len(pcm)) + pcm)
        return b"RIFF" + st.pack("<I", 4 + len(inner)) + b"WAVE" + inner

    rows = [
        (1, wav(1, 8000, 4, b"\x11" * 64)),    # 4-bit: frame_bytes == 0
        (2, wav(1, 8000, 16, b"\x00\x01" * 100)),  # healthy control
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = audio_chunk_manifest(df, chunk_ms=25).collect()
    ids = {r.doc_id for r in got}
    assert ids == {2}
    # chunk window shorter than one sample period: spc == 0 must skip too
    df2 = spark.createDataFrame(
        [(3, wav(1, 30, 16, b"\x00\x01" * 10))], "doc_id long, content binary"
    )
    assert audio_chunk_manifest(df2, chunk_ms=25).collect() == []


def test_kmv_sketch_merge_is_union_of_parts(spark):
    """KMV mergeability — the property that makes it a sketch: the k
    smallest hashes of a union equal the k smallest of the concatenated
    per-part k-smallest lists. Verified against the documents corpus
    split by source."""
    import pyspark.sql.functions as F

    from itdb_spark.functions.core import portable_hash64
    from tests.conftest import SF_DIR

    k = 32
    h = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.length(F.trim("text")) > 0)
        .select(
            "source",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"),
        )
        .select("source", portable_hash64(F.col("w")).alias("hv"))
        .distinct()
    )
    per_source = {
        r.source: sorted(x.hv for x in h.where(F.col("source") == r.source)
                         .select("hv").distinct().collect())[:k]
        for r in h.select("source").distinct().collect()
    }
    # merge rule: k smallest of the concatenation, deduped
    merged = sorted(set().union(*map(set, per_source.values())))[:k]
    global_k = sorted(
        x.hv for x in h.select("hv").distinct().collect()
    )[:k]
    assert merged == global_k


def test_nearest_asof_matches_bruteforce_random(spark):
    """asof_join(direction='nearest') against a per-row Python brute
    force over seeded random key/ts layouts — duplicates, equal
    timestamps, keys missing on either side, and exact distance ties
    all occur across the seeds (tie rule: backward wins; exact-ts
    match IS the backward candidate at distance 0)."""
    import random

    from itdb_spark.operators.asof import asof_join

    for seed in range(5):
        rng = random.Random(seed)
        keys = [1, 2, 3, 4]
        left = [
            (k, rng.randrange(0, 40), i)
            for i, k in enumerate(rng.choices(keys, k=25))
        ]
        # right unique per (key, ts) as the operator contract requires
        right_set = {(k, rng.randrange(0, 40)) for k in rng.choices(keys[:3], k=15)}
        right = [(k, ts, k * 1000 + ts) for k, ts in right_set]

        ldf = spark.createDataFrame(left, "k int, ts long, lid int")
        rdf = spark.createDataFrame(right, "k int, rts long, rv int")
        got = {
            r.lid: (r.rv, r.matched_dir)
            for r in asof_join(
                ldf, rdf, on="k", left_ts="ts", right_ts="rts",
                direction="nearest",
            ).collect()
        }

        for k, ts, lid in left:
            back = [(rts, rv) for (rk, rts, rv) in right if rk == k and rts <= ts]
            fwd = [(rts, rv) for (rk, rts, rv) in right if rk == k and rts > ts]
            b = max(back) if back else None
            f = min(fwd) if fwd else None
            if b is None and f is None:
                want = (None, None)
            elif b is None:
                want = (f[1], "forward")
            elif f is None or (ts - b[0]) <= (f[0] - ts):
                want = (b[1], "backward")
            else:
                want = (f[1], "forward")
            assert got[lid] == want, (seed, k, ts, got[lid], want)


def test_udtf_chunker_matches_expression_form(spark):
    """The Python-UDTF extension point must reproduce fn-chunk-overlap's
    JVM-expression chunk geometry row for row over the real corpus (the
    registered query stays the expression form; this pins the extension
    seat against API/codec rot)."""
    from pyspark.sql import functions as F

    from itdb_spark.operators.udtf_ext import chunk_walker
    from itdb_spark.queries import load_all
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n")
    )
    via_udtf = sorted(
        (r.doc_id, r.chunk_idx, r.start, r.chunk_len)
        for r in docs.lateralJoin(
            chunk_walker(F.col("n").outer(), F.lit(64), F.lit(48))
        ).collect()
    )
    via_expr = sorted(
        (r.doc_id, r.chunk_idx, r.start, r.chunk_len)
        for r in load_all()["fn-chunk-overlap"].spark(spark, SF_DIR).collect()
    )
    assert via_udtf == via_expr


def test_nearest_asof_timestamp_micro_tie_resolves_backward(spark):
    """Exact-distance ties on micro-precision TIMESTAMPS must resolve
    backward. The original cut compared ts cast to double — SECONDS,
    i.e. micros/1e6, which is not exactly representable — and rounding
    wobble flipped thousands of exact ties to 'forward' (code-review
    finding); distances now compare as integer unix_micros."""
    from pyspark.sql import functions as F

    from itdb_spark.operators.asof import asof_join

    # ts values chosen so micros/1e6 rounds asymmetrically around the tie
    rows_l = [(1, 1700000000000997, 1)]
    rows_r = [(1, 1700000000000994, 10), (1, 1700000000001000, 20)]  # both d=3us
    ldf = spark.createDataFrame(rows_l, "k int, us long, lid int").select(
        "k", F.timestamp_micros("us").alias("ts"), "lid"
    )
    rdf = spark.createDataFrame(rows_r, "k int, us long, rv int").select(
        "k", F.timestamp_micros("us").alias("rts"), "rv"
    )
    out = asof_join(ldf, rdf, on="k", left_ts="ts", right_ts="rts",
                    direction="nearest").collect()
    assert out[0].rv == 10 and out[0].matched_dir == "backward"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="matched_dir"):
        asof_join(
            ldf.withColumn("matched_dir", F.lit("x")), rdf,
            on="k", left_ts="ts", right_ts="rts", direction="nearest",
        )


def test_bm25_ranks_term_overlap_and_saturates_tf(spark):
    """BM25 semantics on a hand-checkable corpus: (1) a doc sharing more
    of the query's terms outranks one sharing fewer; (2) self is excluded;
    (3) tf saturation — repeating a matched term lifts the score by LESS
    than the first occurrence did (k1 saturation), unlike raw tf·idf;
    (4) a term appearing in every doc (df = N) contributes least."""
    from itdb_spark.operators.retrieval import bm25_topk

    rows = [
        (0, "apple banana cherry"),          # query doc
        (1, "apple banana cherry date"),     # shares all 3 query terms
        (2, "apple banana fig grape"),       # shares 2
        (3, "apple kiwi lemon mango"),       # shares 1
        (4, "kiwi lemon mango nut"),         # shares 0 -> absent from results
        (5, "apple apple apple apple"),      # tf saturation probe
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = bm25_topk(docs, docs.where("doc_id = 0").select("doc_id"), k=10)
    got = {r.neighbor_id: r.score_micros for r in out.collect()}
    assert 0 not in got, "query doc must be excluded from its own results"
    assert 4 not in got, "zero-overlap doc must not appear"
    assert got[1] > got[2] > got[3], "more shared terms must rank higher"
    # tf saturation: 4x 'apple' scores less than 4x the single-occurrence
    # contribution (doc 3's score is exactly one 'apple' contribution at
    # the same dl=4).
    assert got[5] > got[3], "higher tf must still score higher"
    assert got[5] < 4 * got[3], "k1 must saturate repeated-term gains"


def test_bm25_topk_truncates_with_deterministic_ties(spark):
    """k cut honors (score desc, neighbor_id asc): 5 identical docs tie
    exactly; with k=3 the keepers are the 3 lowest neighbor ids."""
    from itdb_spark.operators.retrieval import bm25_topk

    rows = [(0, "red blue green")] + [(i, "red blue yellow") for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = bm25_topk(docs, docs.where("doc_id = 0").select("doc_id"), k=3)
    got = sorted(r.neighbor_id for r in out.collect())
    assert got == [1, 2, 3]


def test_asof_null_timestamps_and_keys_never_match(spark):
    """NULL right timestamps / keys are undefined matches, not
    nulls-first '-infinity' candidates: the review repro — right rows
    (k=1, rts=NULL, rv=99) and (k=1, rts=10, rv=42) with left (k=1,
    ts=5) — must pick the finite forward match rv=42 under nearest (the
    NULL-distance comparison used to null-propagate and hand the win to
    the NULL-ts row). NULL-ts and NULL-key left rows match nothing in
    every direction; NULL-key right rows match nothing."""
    from itdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5), (1, None), (None, 5)], "k int, ts int"
    )
    right = spark.createDataFrame(
        [(1, None, 99), (1, 10, 42), (None, 4, 7)], "k int, rts int, rv int"
    )
    near = {
        (r.k, r.ts): (r.rv, r.matched_dir)
        for r in asof_join(left, right, "k", "ts", "rts", direction="nearest").collect()
    }
    assert near[(1, 5)] == (42, "forward")
    assert near[(1, None)] == (None, None)
    assert near[(None, 5)] == (None, None)
    for direction in ("backward", "forward"):
        got = {
            (r.k, r.ts): r.rv
            for r in asof_join(left, right, "k", "ts", "rts", direction=direction).collect()
        }
        assert got[(1, None)] is None, direction
        assert got[(None, 5)] is None, direction
        assert got[(1, 5)] == (42 if direction == "forward" else None), direction


def test_zero_vector_cosine_is_null_not_crash(spark):
    """A dead (all-zero) embedding must yield NULL cosine, not an ANSI
    DIVIDE_BY_ZERO that kills the job — the edge-corpus class that
    crashed fn-embed-norm and sim-maxsim. NULL matches DuckDB's x/0.0
    and what cosine_pandas's NaN becomes through Arrow, and NULLs sort
    last under the desc top-k ordering on both engines."""
    from itdb_spark.operators.similarity import cosine_col

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "id int, v array<double>"
    )
    a = df.alias("a")
    b = df.alias("b")
    rows = (
        a.crossJoin(b)
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            cosine_col(F.col("a.v"), F.col("b.v")).alias("c"),
        )
        .collect()
    )
    got = {(r.ia, r.ib): r.c for r in rows}
    assert got[(1, 1)] == 1.0
    assert got[(1, 2)] is None and got[(2, 2)] is None


def test_asof_join_tolerance_matches_pandas_merge_asof(spark):
    """asof_join(tolerance=...) ≡ pandas.merge_asof(tolerance=...) — the
    authoritative reference for the semantics — across all three
    directions on a fixed adversarial layout: exact-tie distances,
    matches exactly AT the tolerance bound (inclusive), a nearer but
    out-of-tolerance side losing to a farther in-tolerance one, and
    keys with no eligible rows at all. Integer 'timestamps' so every
    distance is exact."""
    import pandas as pd

    from itdb_spark.operators.asof import asof_join

    lrows = [(i, k, t) for i, (k, t) in enumerate(
        [("u", 0), ("u", 7), ("u", 10), ("u", 15), ("u", 21), ("v", 5), ("w", 3)]
    )]
    rrows = [("u", 4, 40.0), ("u", 12, 120.0), ("u", 30, 300.0), ("v", 100, 990.0)]
    left = spark.createDataFrame(lrows, "event_id long, user string, ts long")
    right = spark.createDataFrame(rrows, "user string, rts long, price double")
    lpd = pd.DataFrame(lrows, columns=["event_id", "user", "ts"]).sort_values("ts")
    rpd = pd.DataFrame(rrows, columns=["user", "rts", "price"]).sort_values("rts")

    for direction in ("backward", "forward", "nearest"):
        for tol in (0, 2, 3, 5, 8, 100, None):
            got = {
                r.event_id: (r.rts, r.price)
                for r in asof_join(
                    left, right, "user", "ts", "rts",
                    direction=direction, tolerance=tol,
                ).collect()
            }
            ref = pd.merge_asof(
                lpd, rpd, left_on="ts", right_on="rts", by="user",
                direction=direction,
                tolerance=tol if tol is not None else None,
            )
            want = {
                int(r.event_id): (
                    None if pd.isna(r.rts) else int(r.rts),
                    None if pd.isna(r.price) else float(r.price),
                )
                for r in ref.itertuples(index=False)
            }
            assert got == want, (direction, tol, got, want)


def test_asof_join_negative_tolerance_raises(spark):
    """pandas merge_asof parity (code review, round 6): a negative
    tolerance silently unmatched every row (dist <= tolerance never
    holds); it must fail loud like pandas instead."""
    import pytest

    from itdb_spark.operators.asof import asof_join

    left = spark.range(1).select(
        F.lit(1).alias("k"), F.col("id").cast("long").alias("lts")
    )
    right = spark.range(1).select(
        F.lit(1).alias("k"), F.col("id").cast("long").alias("rts"),
        F.lit("x").alias("payload"),
    )
    with pytest.raises(ValueError, match="tolerance"):
        asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                  tolerance=-1)


def test_rrf_fuse_combines_ranked_lists(spark):
    """RRF semantics on a hand-computable case: a doc ranked 1 by both
    systems beats a doc ranked 1 by only one; contributions are exact
    integer floor divisions (1000000 div (60 + rank)); absence from a
    system contributes nothing."""
    from itdb_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    dense = spark.createDataFrame(
        [(0, 10, 1), (0, 13, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    got = {
        r.neighbor_id: r.rrf_micros
        for r in rrf_fuse([lex, dense], k_rrf=60, top_k=10).collect()
    }
    assert got == {
        10: 1000000 // 61 * 2,   # rank 1 in both systems
        11: 1000000 // 62,
        12: 1000000 // 63,
        13: 1000000 // 62,
    }


def test_hybrid_rrf_matches_duckdb_oracle(spark):
    """End-to-end differential for the round-7 sim-hybrid-rrf entry:
    BM25 + dense cosine fused by RRF must match the DuckDB twin
    bit-for-bit (integer micro-unit fusion; lexical ranks exact BIGINT,
    dense ranks on the proven 6-dp cosine)."""
    import duckdb

    from itdb_spark.catalog import Tables
    from itdb_spark.operators.retrieval import hybrid_rrf, hybrid_rrf_oracle_sql
    from tests.conftest import SF_DIR

    t = Tables(spark, SF_DIR)
    queries = t.documents.select("doc_id").where(F.col("doc_id") < 3)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rrf_micros)
        for r in hybrid_rrf(t.documents, t.embeddings, queries).collect()
    )
    con = duckdb.connect()
    for name in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    want = sorted(
        (q, n, s) for q, n, s in con.execute(hybrid_rrf_oracle_sql()).fetchall()
    )
    assert got == want
    # fused lists actually draw from BOTH systems: some fused doc must
    # carry a two-system score (> the max single-system contribution)
    assert any(s > 1000000 // 61 for _, _, s in got)


def test_retrieval_eval_hand_case(spark):
    """Metric semantics on a hand-computable case: perfect run → full
    hits/MRR/NDCG; first hit at rank 2 → MRR 500000; a query with no
    predictions still emits a zero row."""
    from itdb_spark.operators.retrieval import DCG_W_MICROS, retrieval_eval

    truth = spark.createDataFrame(
        [(0, 10), (0, 11), (1, 20), (1, 21), (2, 30), (2, 31)],
        "query_id long, neighbor_id long",
    )
    pred = spark.createDataFrame(
        # q0 perfect; q1: miss at 1, hit at 2; q2: no predictions at all
        [(0, 10, 1), (0, 11, 2), (1, 99, 1), (1, 20, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    got = {
        r.query_id: (r.n_hits, r.mrr_micros, r.ndcg_micros)
        for r in retrieval_eval(pred, truth, k=2).collect()
    }
    idcg = DCG_W_MICROS[0] + DCG_W_MICROS[1]
    assert got[0] == (2, 1000000, 1000000)
    assert got[1] == (1, 500000, DCG_W_MICROS[1] * 1000000 // idcg)
    assert got[2] == (0, 0, 0)


def test_eval_lsh_retrieval_matches_duckdb_oracle(spark):
    """End-to-end differential for the round-7 eval-retrieval entry:
    the measured LSH operating point (n_hits / MRR / NDCG per query vs
    brute-force truth) must match the DuckDB twin bit-for-bit — every
    metric is integer micro-unit arithmetic over engine-identical
    ranks."""
    import duckdb

    from itdb_spark.catalog import Tables
    from itdb_spark.operators.retrieval import (
        eval_lsh_retrieval,
        eval_lsh_retrieval_oracle_sql,
    )
    from tests.conftest import SF_DIR

    emb = Tables(spark, SF_DIR).embeddings
    got = sorted(
        (r.query_id, r.n_hits, r.mrr_micros, r.ndcg_micros)
        for r in eval_lsh_retrieval(spark, emb).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(
        eval_lsh_retrieval_oracle_sql()
    ).fetchall())
    assert got == want
    assert len(got) == 5
    # the LSH point on this corpus is imperfect but nonzero — the eval
    # must be able to SHOW a loss, not report vacuous perfection
    assert any(h < 10 for _, h, _, _ in got)
    assert any(h > 0 for _, h, _, _ in got)


def test_rouge_n_hand_case(spark):
    """ROUGE semantics on hand-computable pairs: clipped multiset
    overlap, count-level F1, empty sides → explicit zeros."""
    from itdb_spark.operators.texteval import rouge_n

    pairs = spark.createDataFrame(
        [
            (0, "the cat sat", "the cat ran"),      # overlap 2 of 3/3
            (1, "a a a b", "a b b"),                 # clip: min(3,1)+min(1,2)=2
            (2, "", "some reference"),               # empty candidate
            (3, "", ""),                             # both empty
        ],
        "pair_id long, cand_text string, ref_text string",
    )
    got = {
        r.pair_id: (r.n_cand, r.n_ref, r.overlap, r.p_micros, r.r_micros,
                    r.f1_micros)
        for r in rouge_n(pairs, n=1).collect()
    }
    assert got[0] == (3, 3, 2, 666666, 666666, 666666)
    assert got[1] == (4, 3, 2, 500000, 666666, 2 * 2 * 1000000 // 7)
    assert got[2] == (0, 2, 0, 0, 0, 0)
    assert got[3] == (0, 0, 0, 0, 0, 0)
    # bigrams: "the cat" shared only
    got2 = {r.pair_id: (r.n_cand, r.overlap) for r in rouge_n(pairs, n=2).collect()}
    assert got2[0] == (2, 1)
    assert got2[3] == (0, 0)


def test_rouge2_matches_duckdb_oracle(spark):
    """The generic-n path (bigrams) matches the DuckDB twin bit-for-bit
    on the real corpus — eval-rouge registers n=1; this pins n=2."""
    import duckdb

    from itdb_spark.catalog import Tables
    from itdb_spark.operators.texteval import rouge_n, rouge_oracle_sql
    from tests.conftest import SF_DIR

    d = Tables(spark, SF_DIR).documents
    cand = d.select(F.col("doc_id").alias("pair_id"), F.col("text").alias("cand_text"))
    ref = d.select((F.col("doc_id") - 1).alias("pair_id"), F.col("text").alias("ref_text"))
    pairs = cand.where(F.col("pair_id") < 30).join(ref, "pair_id")
    got = sorted(tuple(r) for r in rouge_n(pairs, n=2).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(rouge_oracle_sql(n=2)).fetchall())
    assert got == want


def test_hybrid_rrf_lsh_deploy_path(spark):
    """The deploy-grade dense stage (LSH buckets instead of the exact
    cross product) produces a fused list that substantially agrees with
    the exact form — same fusion arithmetic, stage-1 recall is the only
    difference — and an unknown stage name fails loud."""
    import pytest

    from itdb_spark.catalog import Tables
    from itdb_spark.operators.retrieval import hybrid_rrf
    from tests.conftest import SF_DIR

    t = Tables(spark, SF_DIR)
    queries = t.documents.select("doc_id").where(F.col("doc_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in hybrid_rrf(t.documents, t.embeddings, queries).collect()
    }
    deploy = {
        (r.query_id, r.neighbor_id)
        for r in hybrid_rrf(
            t.documents, t.embeddings, queries, dense_stage="lsh"
        ).collect()
    }
    assert deploy, "deploy path returned nothing"
    overlap = len(exact & deploy) / len(exact)
    # measured 0.60 on the current testdata generation; the gate sits at
    # 0.4 because testdata REGENERATES between rounds and LSH stage-1
    # recall moves with it — the gate guards "substantial agreement",
    # not the exact operating point. The REAL dense-stage regression
    # detector is test_lsh_dense_stage_recall_synthetic below: at
    # sf0.001 the fused list is BM25-dominated (LSH buckets hold <10
    # candidates), so no fused-list threshold can catch a plane bug.
    assert overlap >= 0.4, (overlap, exact - deploy)
    with pytest.raises(ValueError, match="dense_stage"):
        hybrid_rrf(t.documents, t.embeddings, queries, dense_stage="nope")


def test_lsh_dense_stage_recall_synthetic(spark):
    """Regeneration-stable stage-1 recall gate for the hyperplane-LSH
    dense stage (the sim-hybrid-rrf deploy path and sim-knn-lsh). The
    testdata-based fused-overlap gate above moves with every testdata
    regeneration, so a plane-derivation bug (hashing a dim prefix,
    mis-decomposed (table, plane, pos) range, sign flip) could hide
    inside its slack. This data is synthesized IN-TEST from a fixed
    seed: 8 tight clusters (intra-cluster cosine ≈ 0.998) whose members
    lie on the same side of almost every random hyperplane, so LSH must
    recover nearly all brute-force neighbors — recall measured 0.9875
    on the fixed seed (deterministic); gated at 0.8 so nothing but
    genuine plane damage fails it (halved recall fails loud)."""
    import numpy as np

    from itdb_spark.operators.similarity import brute_force_knn, lsh_knn

    rng = np.random.default_rng(42)
    dim, n_clusters, per_cluster, k = 64, 8, 25, 10
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for c in range(n_clusters):
        noise = 0.01 * rng.normal(size=(per_cluster, dim))
        for m, vec in enumerate(centers[c] + noise):
            rows.append((c * per_cluster + m, [float(x) for x in vec]))
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    qids = [c * per_cluster for c in range(n_clusters)]  # one per cluster
    qvecs = vecs.where(F.col("vec_id").isin(qids))
    brute = brute_force_knn(vecs, qvecs, k=k)
    lsh = lsh_knn(spark, vecs, qvecs, k=k, dim=dim)
    want = {}
    for r in brute.collect():
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in lsh.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(want) == set(qids)
    hits = sum(len(want[q] & got.get(q, set())) for q in want)
    total = sum(len(want[q]) for q in want)
    recall = hits / total
    assert recall >= 0.8, (recall, {q: sorted(want[q] - got.get(q, set())) for q in want})


def test_rouge1_registered_oracle_matches_spark(spark):
    """The eval-rouge REGISTERED form (n=1 — a different gram branch
    than the bigram differential above) must match its registered
    DuckDB oracle bit-for-bit in CI."""
    import duckdb

    from itdb_spark.queries import load_all
    from tests.conftest import SF_DIR

    q = load_all()["eval-rouge"]
    got = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want


def test_shared_oracle_builders_preserve_graded_text():
    """The sim-bm25 (graded r5) and sim-knn-lsh (graded r3) oracles now
    render from shared CTE builders (bm25_replay_ctes /
    lsh_candidate_ctes) also consumed by the hybrid and eval oracles.
    The rendered registry text must stay BYTE-IDENTICAL to the literals
    the driver graded — a formatting drift here would invalidate those
    grades for no semantic reason (the repo's pin policy treats oracle
    text changes as definition changes). Round 8 adds fn-bpe (graded
    r6): its words/bpe CTE chain moved into _bpe_apply_ctes /
    _bpe_terminal_cond, shared with fn-bpe-eval."""
    import hashlib

    from itdb_spark.queries import load_all

    reg = load_all()
    # sha256 of the exact oracle strings the driver graded (snapshotted
    # before the builder extraction, round 6)
    expected = {
        "sim-bm25":
            "b476b5956693b879f860ca2f66d9fa8dfc0e172bf671a12a5c6d590a27f65cfe",
        "sim-knn-lsh":
            "e022f2133a1f1d2544b3fcdde8176c83f6fddfb1aea4a58e3d238c5eaf36b392",
        "fn-bpe":
            "6f049d0ce441c7177e81c7457c19bcf0196a501b8b81112004632aa386325fc7",
    }
    for qid, want in expected.items():
        got = hashlib.sha256(reg[qid].oracle.encode()).hexdigest()
        assert got == want, f"{qid} oracle text drifted from the graded form"


def test_learn_bpe_matches_python_reference(spark):
    """learn_bpe vs an independent pure-Python replay of Sennrich-style
    training on handcrafted corpora hitting the tricky semantics: the
    'aaa' overlap class (adjacent counts count overlaps, substitution
    merges left-to-right non-overlapping), count ties (pair-string
    tie-break), frequency weighting, and min_count early exhaustion."""
    from itdb_spark.operators.packing import learn_bpe

    def reference(texts, n_merges=12, min_count=2):
        from collections import Counter

        words = Counter()
        for t in texts:
            for w in t.strip().lower().split():
                if w:
                    words[w] += 1
        vocab = {w: (list(w), c) for w, c in words.items()}
        merges = []
        for rank in range(1, n_merges + 1):
            counts = Counter()
            for syms, c in vocab.values():
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] += c
            eligible = [(v, k) for k, v in counts.items() if v >= min_count]
            if not eligible:
                break
            # argmax by (count desc, pair asc):
            cnt, (left, right) = sorted(
                eligible, key=lambda e: (-e[0], f"{e[1][0]} {e[1][1]}")
            )[0]
            merges.append((rank, left, right, left + right, cnt))
            for w, (syms, c) in vocab.items():
                out = []
                for x in syms:
                    if out and out[-1] == left and x == right:
                        out[-1] = left + right
                    else:
                        out.append(x)
                vocab[w] = (out, c)
        return merges

    corpora = [
        # overlap class: 'aaaa' — (a,a) counts 3 per occurrence, merges 2
        ["aaaa aaaa b", "aaaa aa"],
        # tie class: 'ab' and 'cd' equally frequent → 'a b' < 'c d' wins
        ["ab ab cd cd", "ab cd"],
        # weighting: one word repeated beats many distinct words
        ["xy xy xy xy", "pq rs tu vw"],
        # exhaustion: all pairs unique → nothing reaches min_count
        ["ab cd ef", "gh ij kl"],
        # merged symbol re-enters as left of a later merge
        ["the the the ther ther er er"],
    ]
    for texts in corpora:
        docs = spark.createDataFrame([(t,) for t in texts], "text string")
        got = sorted(tuple(r) for r in learn_bpe(docs, n_merges=6).collect())
        want = sorted(reference(texts, n_merges=6))
        assert got == want, (texts, got, want)


def test_bpe_roundtrip_registered_oracle_matches_spark(spark):
    """The fn-bpe-roundtrip REGISTERED form (train on the corpus, apply
    the learned table back to it) must match its registered DuckDB
    oracle bit-for-bit in CI — the same in-suite pin every deferred
    registration carries until the driver grades it."""
    import duckdb

    from itdb_spark.queries import load_all
    from tests.conftest import SF_DIR

    q = load_all()["fn-bpe-roundtrip"]
    got = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want


def test_bpe_train_registered_oracle_matches_spark(spark):
    """The fn-bpe-train REGISTERED form must match its registered DuckDB
    oracle bit-for-bit in CI — including the rank and pair_count columns
    the roundtrip oracle never consumes (code review: they were
    otherwise unexercised until the driver grades the deferred entry)."""
    import duckdb

    from itdb_spark.queries import load_all
    from tests.conftest import SF_DIR

    q = load_all()["fn-bpe-train"]
    got = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want


def _reference_batched_bpe(texts, n_merges=6, min_count=2, batch=1):
    """Pure-Python mirror of learn_bpe's batched semantics: per round,
    scan the top 4*batch (count desc, pair asc) candidates, greedily
    select up to min(batch, room) rules whose {left, right, left+right}
    sets are pairwise disjoint (inputs AND merged outputs — the code-
    review repro: ("abc","d") + ("a","bc") share no input but the
    second's output is the first's left, and a one-pass fold then
    diverges from sequential application), then apply the selected
    rules in one left-to-right pass."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                words[w] += 1
    vocab = {w: [list(w), c] for w, c in words.items()}
    merges = []
    while len(merges) < n_merges:
        counts = Counter()
        for syms, c in vocab.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += c
        eligible = sorted(
            ((v, k) for k, v in counts.items() if v >= min_count),
            key=lambda e: (-e[0], f"{e[1][0]} {e[1][1]}"),
        )
        room = n_merges - len(merges)
        rules, used = [], set()
        for cnt, (left, right) in eligible[: 4 * batch]:
            if used & {left, right, left + right}:
                continue
            rules.append((left, right, cnt))
            used.update((left, right, left + right))
            if len(rules) == min(batch, room):
                break
        if not rules:
            break
        for left, right, cnt in rules:
            merges.append((len(merges) + 1, left, right, left + right, cnt))
        rule_map = {(left, right) for left, right, _ in rules}
        for w, (syms, c) in vocab.items():
            out = []
            for x in syms:
                if out and (out[-1], x) in rule_map:
                    out[-1] = out[-1] + x
                else:
                    out.append(x)
            vocab[w] = [out, c]
    return merges


def test_learn_bpe_batched_deploy_lever(spark):
    """learn_bpe(batch=B) — the SCALE.md lever amortizing the per-round
    argmax collect by merging up to B non-interacting pairs per round.
    Gates: the batched path matches an independent Python reference of
    the exact semantics (selection window, {left, right, merged}
    disjointness guard, one-pass fold) on adversarial mini-corpora for
    batch 2 and 3; batch=4 on the real testdata is deterministic with
    contiguous ranks and compresses within 2% of merge-by-merge
    training (measured ratio 1.0001) — the selection is greedy, so only
    quality is promised vs sequential, never oracle equality."""
    from itdb_spark.operators.packing import bpe_segment, learn_bpe
    from tests.conftest import SF_DIR

    corpora = [
        ["aaaa aaaa b", "aaaa aa"],
        ["ab ab cd cd", "ab cd"],
        ["the the the ther ther er er", "there there"],
        # overlapping-symbol class: 'bc' forms, then 'a bc' / 'bc d'
        # adjacencies compete within one round
        ["abcd abcd abc abc abce", "bc bc bc"],
    ]
    for texts in corpora:
        frame = spark.createDataFrame([(t,) for t in texts], "text string")
        for b in (2, 3):
            got = sorted(
                tuple(r) for r in learn_bpe(frame, n_merges=6, batch=b).collect()
            )
            want = sorted(_reference_batched_bpe(texts, n_merges=6, batch=b))
            assert got == want, (texts, b, got, want)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    seq = sorted(tuple(r) for r in learn_bpe(docs).collect())
    b4 = sorted(tuple(r) for r in learn_bpe(docs, batch=4).collect())
    again = sorted(tuple(r) for r in learn_bpe(docs, batch=4).collect())
    assert b4 == again, "batched training must be deterministic"
    assert [r[0] for r in b4] == list(range(1, len(b4) + 1))

    words = {}
    for r in docs.select("text").collect():
        for w in (r.text or "").strip().lower().split():
            if w:
                words[w] = words.get(w, 0) + 1

    def total_tokens(table):
        merges = tuple(f"{t[1]} {t[2]}" for t in sorted(table))
        return sum(len(bpe_segment(w, merges)) * c for w, c in words.items())

    ratio = total_tokens(b4) / total_tokens(seq)
    assert ratio <= 1.02, ratio


def test_hash_ranked_sample_preserves_caller_h_column(spark):
    """ADVICE r7 regression: the shared sampling helper used a literal
    temp column named 'h' — a caller frame already carrying 'h' had its
    data clobbered and then dropped. The temp name is now collision-proof
    and the caller's columns pass through untouched."""
    from itdb_spark.functions.core import hash_ranked_sample

    df = spark.createDataFrame(
        [(i, f"payload-{i}") for i in range(20)], "id long, h string"
    )
    out = hash_ranked_sample(df, "id", 5)
    rows = out.collect()
    assert out.columns == ["id", "h"]
    assert len(rows) == 5
    assert all(r.h == f"payload-{r.id}" for r in rows)
    # pathological: the fallback temp name is also taken
    df2 = spark.createDataFrame(
        [(i, "x", "y") for i in range(20)], "id long, __hrs_h string, __hrs_h_ string"
    )
    rows2 = hash_ranked_sample(df2, "id", 3).collect()
    assert len(rows2) == 3 and all(
        (r["__hrs_h"], r["__hrs_h_"]) == ("x", "y") for r in rows2
    )


def test_bleu_counts_hand_case(spark):
    """BLEU-4 component semantics on hand-computable pairs: clipped
    per-level matches, candidate totals, brevity-length inputs, and
    explicit zeros for empty/degenerate sides."""
    from itdb_spark.operators.texteval import bleu_counts

    pairs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat", "the cat sat on a mat"),
            (1, "", "x y"),
            (2, "", ""),
            (3, "a a a a", "a a"),
        ],
        "pair_id long, cand_text string, ref_text string",
    )
    got = {r.pair_id: r.asDict() for r in bleu_counts(pairs).collect()}
    assert len(got) == 4
    r0 = got[0]
    assert (r0["c_len"], r0["r_len"]) == (6, 6)
    # clip: "the" appears 2x in cand, 1x in ref -> min(2,1)
    assert (r0["m1"], r0["t1"]) == (5, 6)
    assert (r0["m2"], r0["t2"]) == (3, 5)
    assert (r0["m3"], r0["t3"]) == (2, 4)
    assert (r0["m4"], r0["t4"]) == (1, 3)
    assert r0["p1_micros"] == 5 * 1000000 // 6
    assert r0["p4_micros"] == 1 * 1000000 // 3
    r1 = got[1]
    assert (r1["c_len"], r1["r_len"]) == (0, 2)
    assert all(r1[k] == 0 for k in
               ("m1", "t1", "m4", "t4", "p1_micros", "p4_micros"))
    r2 = got[2]
    assert all(r2[k] == 0 for k in ("c_len", "r_len", "m1", "t1"))
    r3 = got[3]
    # multiset clip at every level: cand "a a"x3 vs ref "a a"x1
    assert (r3["m1"], r3["t1"]) == (2, 4)
    assert (r3["m2"], r3["t2"]) == (1, 3)
    assert (r3["m3"], r3["t3"]) == (0, 2)
    assert (r3["m4"], r3["t4"]) == (0, 1)


def test_bleu_registered_oracle_matches_spark(spark):
    """The eval-bleu REGISTERED form must match its registered DuckDB
    oracle bit-for-bit in CI (the in-suite oracle pin for the
    defer_after=8 registration)."""
    import duckdb

    from itdb_spark.queries import load_all
    from tests.conftest import SF_DIR

    q = load_all()["eval-bleu"]
    got = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert len(got) == 30
    assert got == want


def test_kcore_peel_converged_at_registered_depth(spark):
    """graph-kcore runs a FIXED 4-round peel (so the DuckDB twin can
    unroll it exactly); this asserts the fixed depth is not a silent
    truncation on real testdata — a 5th round removes nothing."""
    from itdb_spark.queries.pipeline import kcore_survivor_degrees
    from tests.conftest import SF_DIR

    r4 = sorted(tuple(r) for r in
                kcore_survivor_degrees(spark, SF_DIR, k=2, rounds=4).collect())
    r5 = sorted(tuple(r) for r in
                kcore_survivor_degrees(spark, SF_DIR, k=2, rounds=5).collect())
    assert len(r4) > 0
    assert r4 == r5


def test_kcore_hand_graph(spark):
    """2-core semantics on a hand graph: a triangle survives, a
    pendant chain peels away entirely (cascading removal — node c
    drops only after its pendant neighbor d goes)."""
    from itdb_spark.plans.library import truncate_lineage

    # triangle 1-2-3; chain 3-4-5 (4 and 5 peel, 3 stays via triangle)
    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    k = 2
    for _ in range(4):
        keep = (
            edges.groupBy("src").agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
        )
        edges = (
            edges.join(keep, edges["src"] == keep["node"], "left_semi")
            .join(keep, edges["dst"] == keep["node"], "left_semi")
        )
    got = {(r.src_node, r.deg) for r in
           edges.groupBy("src").agg(F.count("*").alias("deg"))
           .select(F.col("src").alias("src_node"), "deg").collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_dedup_soft_weights(spark):
    """SoftDeDup invariants: singletons weigh exactly 1e6 ppm; every
    multi-member component's n_members agrees with dedup-cluster's
    election over the SAME pair graph; per-component weight mass is
    1e6 minus integer-floor loss (< n_members); and the scale shape
    holds — AQE reuses the corpus scan exchange and the CC broadcast
    across the size-agg and size-join branches (>= 2 ReusedExchange
    in the final adaptive plan)."""
    from itdb_spark.queries import load_all
    from tests.conftest import SF_DIR

    df = load_all()["dedup-soft"].spark(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        n = len(members)
        assert all(m.n_members == n for m in members)
        assert all(m.weight_ppm == 1_000_000 // n for m in members)
        mass = sum(m.weight_ppm for m in members)
        assert 1_000_000 - n < mass <= 1_000_000
    singles = [r for r in rows if r.n_members == 1]
    assert singles and all(r.weight_ppm == 1_000_000 for r in singles)
    # cross-check against dedup-cluster (multi-member components only:
    # CC sees only documents that appear in a candidate pair)
    cluster = {
        r.component: r.n_members
        for r in load_all()["dedup-cluster"].spark(spark, SF_DIR).collect()
    }
    for comp, n in cluster.items():
        assert len(by_comp[comp]) == n
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2


def test_hll_estimate_and_mergeability(spark):
    """agg-hll: (1) the linear-counting-corrected estimate lands within
    35% of the exact per-source distinct count (m=64 => sigma ~13%, LC
    regime tighter; raw HLL here would be ~2x); (2) the sketch merges —
    registers over the full corpus equal the per-(key,bucket) MAX of
    registers built on two disjoint document shards, which is the whole
    point of carrying register state at 100 TB."""
    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import Tables, hll_registers
    from tests.conftest import SF_DIR

    rows = load_all()["agg-hll"].spark(spark, SF_DIR).collect()
    assert rows
    d = Tables(spark, SF_DIR).documents.where(F.length(F.trim("text")) > 0)
    toks = d.select(
        "source", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
    )
    exact = {
        r.source: r.nd
        for r in toks.groupBy("source")
        .agg(F.countDistinct("w").alias("nd"))
        .collect()
    }
    for r in rows:
        assert abs(r.hll_estimate - exact[r.source]) <= 0.35 * exact[r.source]
    # mergeability: shard on even/odd doc_id, build registers per shard
    # through the SAME code path, merge by max, compare to the whole
    whole = {
        (r.source, r.bucket): r.register
        for r in hll_registers(toks, "source", "w").collect()
    }
    merged: dict[tuple, int] = {}
    for parity in (0, 1):
        shard = d.where(F.col("doc_id") % 2 == parity).select(
            "source", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
        )
        for r in hll_registers(shard, "source", "w").collect():
            k = (r.source, r.bucket)
            merged[k] = max(merged.get(k, 0), r.register)
    assert merged == whole


def test_ks_matches_pure_python_reference(spark):
    """agg-ks's cleared-denominator D numerator recomputed in exact
    Python integers from the raw lengths — an independent third
    implementation (neither Spark windows nor DuckDB windows) must agree
    on every source."""
    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import Tables
    from tests.conftest import SF_DIR

    got = {
        r.source: (r.n_s, r.n_rest, r.d_num, r.ks_milli)
        for r in load_all()["agg-ks"].spark(spark, SF_DIR).collect()
    }
    assert got
    docs = (
        Tables(spark, SF_DIR).documents.where(F.col("text").isNotNull())
        .select("source", F.length("text").alias("x"))
        .collect()
    )
    from collections import Counter, defaultdict

    by_src: dict[str, Counter] = defaultdict(Counter)
    for r in docs:
        by_src[r.source][r.x] += 1
    n_all = sum(sum(c.values()) for c in by_src.values())
    grid = sorted({x for c in by_src.values() for x in c})
    for src, c in by_src.items():
        n_s = sum(c.values())
        n_rest = n_all - n_s
        if n_rest == 0:
            assert src not in got
            continue
        scum = rcum = 0
        d_num = 0
        rest = Counter()
        for o, oc in by_src.items():
            if o != src:
                rest.update(oc)
        for x in grid:
            scum += c.get(x, 0)
            rcum += rest.get(x, 0)
            d_num = max(d_num, abs(scum * n_rest - rcum * n_s))
        assert got[src] == (n_s, n_rest, d_num, 1000 * d_num // (n_s * n_rest))


def test_chrf_hand_counts_and_identity(spark):
    """chrf_counts on hand pairs: (1) identical texts score exactly
    1e6 on p/r/f2 at every n the text supports; (2) a worked example
    ('abab' vs 'ab') matches hand-computed clipped counts and the
    F2 = 5m/(4tr+tc) identity; (3) an empty side yields explicit
    zero rows at every n."""
    from itdb_spark.operators.texteval import chrf_counts

    pairs = spark.createDataFrame(
        [(1, "Hello World", "hello  world"),  # identical after strip/lower
         (2, "abab", "ab"),
         (3, "", "ab")],
        "pair_id long, cand_text string, ref_text string",
    )
    rows = {(r.pair_id, r.n): r for r in chrf_counts(pairs, max_n=6).collect()}
    assert len(rows) == 18  # dense grid: 3 pairs x 6 n
    # pair 1: "helloworld" (10 chars) — identical multisets at every n
    for n in range(1, 7):
        r = rows[(1, n)]
        assert r.m == r.tc == r.tr == 10 - n + 1
        assert (r.p_micros, r.r_micros, r.f2_micros) == (10**6,) * 3
    # pair 2 hand-computed: n=1 m=2,tc=4,tr=2; n=2 clipped ab:min(2,1)
    r1, r2 = rows[(2, 1)], rows[(2, 2)]
    assert (r1.m, r1.tc, r1.tr) == (2, 4, 2)
    assert r1.f2_micros == 5 * 2 * 10**6 // (4 * 2 + 4)
    assert (r2.m, r2.tc, r2.tr) == (1, 3, 1)
    assert r2.f2_micros == 5 * 1 * 10**6 // (4 * 1 + 3)
    # n=3: cand has 2 grams (aba, bab), ref none
    r3 = rows[(2, 3)]
    assert (r3.m, r3.tc, r3.tr, r3.f2_micros) == (0, 2, 0, 0)
    # pair 3: empty candidate — explicit zero matches, ref totals real
    for n in range(1, 7):
        r = rows[(3, n)]
        assert r.m == 0 and r.tc == 0 and r.p_micros == 0
    assert rows[(3, 1)].tr == 2 and rows[(3, 2)].tr == 1


def test_texteval_heads_match_pure_python_reference(spark):
    """rouge_n (n=1..3), bleu_counts (max_n=4) and chrf_counts (max_n=6)
    against a pure-Python clipped-count reference on degenerate text:
    NULL, empty and whitespace-only sides, texts shorter than n,
    repeated grams (clipping), CJK, and precomposed vs decomposed
    accents (distinct code points, so they must NOT match)."""
    import re
    from collections import Counter

    from itdb_spark.operators.texteval import bleu_counts, chrf_counts, rouge_n

    data = [
        (0, None, "a b"),
        (1, "", "   "),
        (2, " \t\n ", "x"),
        (3, "one two", "one two"),
        (4, "a a a b", "a b b a"),
        (5, "the cat the cat the cat", "the cat sat"),
        (6, "漢字語 漢語", "漢語"),
        (7, "caf\u00e9 Na\u00efve", "cafe\u0301 na\u00efve"),
        (8, "\u00c9COLE \u00c9cole", "\u00e9cole"),
    ]
    pairs = spark.createDataFrame(
        data, "pair_id long, cand_text string, ref_text string")
    ws = r"[ \t\n\x0b\f\r]+"  # Java regex \s: ASCII whitespace only

    def words(t, n):
        toks = [w for w in re.split(ws, (t or "").lower()) if w]
        return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    def chars(t, n):
        s = re.sub(ws, "", (t or "").lower())
        return [s[i:i + n] for i in range(len(s) - n + 1)]

    def clip(c, r):
        return sum((Counter(c) & Counter(r)).values()), len(c), len(r)

    def mu(num, den):
        return num * 10**6 // den if den > 0 else 0

    for n in (1, 2, 3):
        want = []
        for pid, c, r in data:
            m, tc, tr = clip(words(c, n), words(r, n))
            want.append((pid, tc, tr, m, mu(m, tc), mu(m, tr), mu(2 * m, tc + tr)))
        got = sorted(tuple(x) for x in rouge_n(pairs, n=n).collect())
        assert got == want, n

    want = []
    for pid, c, r in data:
        cl = [clip(words(c, n), words(r, n)) for n in range(1, 5)]
        want.append((pid, cl[0][1], cl[0][2], *[v for m, t, _ in cl for v in (m, t)],
                     *[mu(m, t) for m, t, _ in cl]))
    assert sorted(tuple(x) for x in bleu_counts(pairs, max_n=4).collect()) == want

    want = []
    for pid, c, r in data:
        for n in range(1, 7):
            m, tc, tr = clip(chars(c, n), chars(r, n))
            want.append((pid, n, m, tc, tr, mu(m, tc), mu(m, tr), mu(5 * m, 4 * tr + tc)))
    assert sorted(tuple(x) for x in chrf_counts(pairs, max_n=6).collect()) == want


def test_mannwhitney_matches_pure_python_reference(spark):
    """agg-mannwhitney's doubled-midrank machinery recomputed in exact
    Python integers straight from the raw cents values — an independent
    third implementation of midranks must agree, including the tie
    correction and the closed-form z."""
    import math

    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import Tables
    from tests.conftest import SF_DIR

    row = load_all()["agg-mannwhitney"].spark(spark, SF_DIR).collect()[0]
    ev = (
        Tables(spark, SF_DIR).events
        .where(F.col("event_type").isin("view", "click")
               & F.col("value").isNotNull())
        .select("event_type", F.round(F.col("value") * 100).cast("long").alias("c"))
        .collect()
    )
    a = sorted(r.c for r in ev if r.event_type == "view")
    b = sorted(r.c for r in ev if r.event_type == "click")
    allv = sorted(a + b)
    # doubled midrank of value v in the combined order: (first + last)
    # 1-based rank positions of the tie group
    from bisect import bisect_left, bisect_right

    def mid2(v):
        return bisect_left(allv, v) + 1 + bisect_right(allv, v)

    r2_a = sum(mid2(v) for v in a)
    n_a, n_b = len(a), len(b)
    u2_a = 2 * n_a * n_b + n_a * (n_a + 1) - r2_a
    from collections import Counter

    ties = sum(t**3 - t for t in Counter(allv).values())
    assert (row.n_a, row.n_b, row.r2_a, row.u2_a, row.tie_cubes) == (
        n_a, n_b, r2_a, u2_a, ties)
    n = n_a + n_b
    z = ((u2_a - n_a * n_b) / 2) / math.sqrt(
        n_a * n_b / 12 * ((n + 1) - ties / (n * (n - 1))))
    assert abs(row.z_mw - round(z, 6)) < 1e-9


def test_lpa_splits_bridged_component(spark):
    """graph-communities vs dedup-cluster's CC on a barbell graph (two
    triangles joined by one bridge edge): CC merges everything into one
    component; 3-round majority LPA must keep the two dense cores in
    DIFFERENT communities — that is the algorithm's whole value on
    near-dup graphs (two template families glued by one spurious
    collision). The Spark rounds are replayed by a pure-Python
    synchronous simulation with the same (max count, min label)
    tie-break as an independent implementation."""
    from itdb_spark.plans.library import truncate_lineage

    und = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "a long, b long",
    )
    edges = truncate_lineage(edges, eager=True)
    labels = edges.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lab"))
    for _ in range(3):
        nbr = (
            edges.join(labels.select(F.col("node").alias("bn"), "lab"),
                       edges["b"] == F.col("bn"))
            .groupBy("a", "lab").agg(F.count("*").alias("cnt"))
        )
        labels = (
            nbr.groupBy("a")
            .agg(F.expr("max_by(lab, struct(cnt, -lab))").alias("lab"))
            .select(F.col("a").alias("node"), "lab")
        )
        labels = truncate_lineage(labels, eager=True)
    got = {r.node: r.lab for r in labels.collect()}
    # independent synchronous simulation
    from collections import Counter, defaultdict

    adj = defaultdict(list)
    for x, y in und:
        adj[x].append(y)
        adj[y].append(x)
    sim = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n, nbrs in adj.items():
            cnt = Counter(sim[m] for m in nbrs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        sim = new
    assert got == sim
    # each triangle is internally uniform, and the two cores carry
    # DIFFERENT labels (1-triangle -> 1, 4-triangle -> 3 after the
    # bridge's round-1 tie pull) — CC would have merged all six
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]


def test_bootstrap_replicates_behave_statistically(spark):
    """agg-bootstrap sanity: each replicate's effective n is within a
    generous 5*sqrt(n) of the true n (Poisson(1) multiplicities sum to
    ~n with variance n); the grand mean of replicate means tracks the
    sample mean; and the weights are a pure function of (event_id,
    replicate) — recomputing on two disjoint shards and ADDING the
    moment sums reproduces the whole-corpus replicate state (the merge
    property that makes the one-pass bootstrap valid on shards)."""
    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import Tables
    from tests.conftest import SF_DIR

    rows = load_all()["agg-bootstrap"].spark(spark, SF_DIR).collect()
    assert len(rows) == 16
    base = (
        Tables(spark, SF_DIR).events
        .where((F.col("event_type") == "view") & F.col("value").isNotNull())
        .select("event_id", F.round(F.col("value") * 100).cast("long").alias("c"))
    )
    vals = [r.c for r in base.collect()]
    n, mean = len(vals), sum(vals) / len(vals) / 100
    for r in rows:
        assert abs(r.n_eff - n) <= 5 * n**0.5 + 5
    grand = sum(r.mean_value for r in rows) / 16
    sd = (sum((v / 100 - mean) ** 2 for v in vals) / n) ** 0.5
    assert abs(grand - mean) <= 5 * sd / n**0.5 + 1e-6
    # merge: shard on even/odd event_id, add moment sums per replicate
    whole = {r.replicate: (r.n_eff, r.sum_cents) for r in rows}
    import itdb_spark.queries.pipeline as P

    def shard_moments(parity):
        q = load_all()["agg-bootstrap"]
        df = base.where(F.col("event_id") % 2 == parity)
        drawn = df.select(
            "c", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("r"),
            "event_id",
        ).select(
            "r", "c",
            F.expr(P._poisson_weight_sql(
                "CAST(conv(substring(md5(concat(CAST(event_id AS STRING), "
                "':', CAST(r AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            )).alias("w"),
        )
        out = drawn.groupBy("r").agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.sum(F.col("w") * F.col("c")).cast("long").alias("s"),
        ).collect()
        return {r.r: (r.n_eff, r.s) for r in out}

    a, b = shard_moments(0), shard_moments(1)
    merged = {
        r: (a.get(r, (0, 0))[0] + b.get(r, (0, 0))[0],
            a.get(r, (0, 0))[1] + b.get(r, (0, 0))[1])
        for r in range(16)
    }
    assert merged == whole


def test_scd2_hand_history(spark):
    """scd2_history on a hand log: runs collapse, intervals chain
    (valid_to = next valid_from, exclusive), exactly one current row
    per key, NULL attr forms its own run, and a NULL-ts row is
    excluded rather than ordered engine-dependently."""
    import datetime as dt

    from itdb_spark.operators.snapshot import scd2_history

    t0 = dt.datetime(2026, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    rows = [
        (1, ts(0), 10, "a"), (1, ts(1), 11, "a"), (1, ts(2), 12, "b"),
        (1, ts(3), 13, "b"), (1, ts(4), 14, "a"),
        (2, ts(0), 20, None), (2, ts(1), 21, None), (2, ts(2), 22, "x"),
        (3, None, 30, "z"),  # NULL ts: dropped
        (3, ts(5), 31, "z"),
    ]
    log = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = sorted(
        (r.user_id, r.version, r.event_type, r.valid_from, r.valid_to,
         r.is_current)
        for r in scd2_history(log, "user_id", "event_type", "ts",
                              "event_id").collect()
    )
    assert got == [
        (1, 1, "a", ts(0), ts(2), 0),
        (1, 2, "b", ts(2), ts(4), 0),
        (1, 3, "a", ts(4), None, 1),
        (2, 1, None, ts(0), ts(2), 0),
        (2, 2, "x", ts(2), None, 1),
        (3, 1, "z", ts(5), None, 1),
    ]
    # exactly one current row per key
    per_key = {}
    for u, *_rest, cur in got:
        per_key[u] = per_key.get(u, 0) + cur
    assert set(per_key.values()) == {1}


def test_timetravel_covers_every_fact_exactly_once(spark):
    """snap-timetravel's doc claims every purchase matches exactly one
    SCD2 interval (the intervals partition each user's timeline from
    the first event on). Differential: the per-state purchase counts
    must sum to the raw purchase count — no fact dropped (a gap) and
    none double-attributed (an overlap)."""
    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import Tables
    from tests.conftest import SF_DIR

    rows = load_all()["snap-timetravel"].spark(spark, SF_DIR).collect()
    assert rows
    raw = (
        Tables(spark, SF_DIR).events
        .where((F.col("event_type") == "purchase")
               & F.col("ts").isNotNull() & F.col("value").isNotNull())
        .count()
    )
    assert sum(r.n_purchases for r in rows) == raw


def test_mmr_diversifies_and_scores_decrease(spark):
    """sim-mmr invariants: per query exactly ranks 1..5 over distinct
    neighbors; rank 1 is the brute top-1 (no penalty yet); greedy
    scores are monotone non-increasing (each step maximizes over a
    shrunk candidate set with weakly larger penalties); and the
    selection actually DIVERSIFIES — on this corpus every query's MMR
    set differs from the plain relevance top-5 (checked live, then
    pinned: if a testdata regen makes candidates orthogonal enough
    that MMR degenerates to top-k, this should be looked at, not
    waved through)."""
    from collections import defaultdict

    from itdb_spark.queries import load_all
    from tests.conftest import SF_DIR

    mmr = load_all()["sim-mmr"].spark(spark, SF_DIR).collect()
    brute = load_all()["sim-knn-brute"].spark(spark, SF_DIR).collect()
    m = defaultdict(dict)
    for r in mmr:
        m[r.query_id][r.rank] = r
    b = defaultdict(list)
    for r in brute:
        b[r.query_id].append((-r.cosine, r.neighbor_id))
    n_diff = 0
    for qid, ranks in m.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5]
        sel = [ranks[k].neighbor_id for k in sorted(ranks)]
        assert len(set(sel)) == 5
        top = [n for _, n in sorted(b[qid])[:5]]
        assert sel[0] == top[0]
        scores = [ranks[k].mmr_score for k in sorted(ranks)]
        assert all(scores[i] >= scores[i + 1] - 1e-9
                   for i in range(len(scores) - 1))
        n_diff += sel != top
    assert n_diff == len(m) == 5


def test_markov_rows_normalize_and_count_transitions(spark):
    """agg-markov invariants: per from-state, transition counts sum to
    the state's row total and p_micros sums to 1e6 minus floor loss
    (< #to-states); total transition count equals (events with ts) -
    (distinct users with ts) — each user's sequence of k events yields
    exactly k-1 transitions."""
    from collections import defaultdict

    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import Tables
    from tests.conftest import SF_DIR

    rows = load_all()["agg-markov"].spark(spark, SF_DIR).collect()
    assert rows
    by_from = defaultdict(list)
    for r in rows:
        by_from[r.from_type].append(r)
    for frm, rs in by_from.items():
        total = sum(r.n for r in rs)
        mass = sum(r.p_micros for r in rs)
        assert 1_000_000 - len(rs) < mass <= 1_000_000
        for r in rs:
            assert r.p_micros == 1_000_000 * r.n // total
    ev = Tables(spark, SF_DIR).events.where(F.col("ts").isNotNull())
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n for r in rows) == n_events - n_users


def test_budget_selection_is_greedy_prefix(spark):
    """pipe-budget invariants: the selected set is exactly the greedy
    prefix of the (quality desc, doc_id) total order — recomputed in
    pure Python from the raw (quality, n_tok) pairs; the admitted
    token mass is >= the 5000 budget only via the single
    budget-crossing document (exclusive cumsum semantics); and every
    selected doc's quality >= every rejected doc's quality except
    where doc_id ties the boundary."""
    from itdb_spark.functions.text import quality_score, tokens
    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import Tables
    from tests.conftest import SF_DIR

    got = {r.doc_id: (r.quality, r.n_tok, r.cum_before)
           for r in load_all()["pipe-budget"].spark(spark, SF_DIR).collect()}
    raw = (
        Tables(spark, SF_DIR).documents.where(F.col("text").isNotNull())
        .select("doc_id", quality_score(F.col("text")).alias("q"),
                F.size(tokens(F.col("text"))).cast("long").alias("n"))
        .collect()
    )
    order = sorted(raw, key=lambda r: (-r.q, r.doc_id))
    cum, want = 0, {}
    for r in order:
        if cum < 5000:
            want[r.doc_id] = (r.q, r.n, cum)
        cum += r.n
    assert got == want
    selected_mass = sum(n for _, n, _ in got.values())
    assert selected_mass >= 5000 or selected_mass == sum(r.n for r in raw)


def test_allpairs_prefix_filter_is_lossless_and_prunes(spark):
    """dedup-allpairs: (1) the prefix-filtered result equals a naive
    Spark-side all-pairs verification (independent of the DuckDB
    differential, which proves the same against the quadratic SQL);
    (2) the filter actually PRUNES — the prefix candidate count is
    well under the all-pairs count, the property that makes the
    algorithm worth running."""
    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import corpus
    from tests.conftest import SF_DIR

    got = {(r.id1, r.id2): r.jac_milli
           for r in load_all()["dedup-allpairs"].spark(spark, SF_DIR).collect()}
    c = corpus(spark, SF_DIR)
    toks = (
        c.where(F.length(F.trim("text")) > 0)
        .select(F.col("doc_id").alias("doc"),
                F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
        .distinct()
    )
    rows = toks.collect()
    from collections import defaultdict

    sets = defaultdict(set)
    for r in rows:
        sets[r.doc].add(r.w)
    docs = sorted(sets)
    want = {}
    for i, a in enumerate(docs):
        for b in docs[i + 1:]:
            inter = len(sets[a] & sets[b])
            uni = len(sets[a]) + len(sets[b]) - inter
            if 10 * inter >= 7 * uni:
                want[(a, b)] = 1000 * inter // uni
    assert got == want
    assert len(got) > 0


def test_round8_late_query_invariants(spark):
    """Invariants for the last three round-8 registrations. pipe-gopher:
    keep is exactly the AND of the rule bits and every sub-50-word doc
    fails r_wordcount. agg-benford: digits in 1..9, counts sum to the
    eligible-row total, dev = |obs - benford| per row. agg-autocorr:
    one row, |r| <= 1, n = hours - 1."""
    from itdb_spark.queries import load_all
    from itdb_spark.queries.pipeline import Tables
    from tests.conftest import SF_DIR

    reg = load_all()
    g = reg["pipe-gopher"].spark(spark, SF_DIR).collect()
    assert g
    bits = ["r_wordcount", "r_wordlen", "r_symbols", "r_bullets",
            "r_ellipsis", "r_alpha", "r_stops"]
    for r in g:
        assert r.keep == int(all(getattr(r, b) == 1 for b in bits))
        if r.n_words < 50:
            assert r.r_wordcount == 0
    b = reg["agg-benford"].spark(spark, SF_DIR).collect()
    assert b and all(1 <= r.digit <= 9 for r in b)
    ev = Tables(spark, SF_DIR).events
    eligible = ev.where(
        F.col("value").isNotNull() & (F.round(F.col("value") * 100) >= 1)
    ).count()
    assert sum(r.n_d for r in b) == eligible
    for r in b:
        assert r.dev_micros == abs(r.obs_micros - r.benford_micros)
    a = reg["agg-autocorr"].spark(spark, SF_DIR).collect()
    assert len(a) == 1 and abs(a[0].r_lag1) <= 1.0
    hours = (
        ev.where(F.col("ts").isNotNull())
        .select(F.date_trunc("hour", "ts")).distinct().count()
    )
    assert a[0].n == hours - 1


def test_cdc_boundaries_realign_after_insertion(spark):
    """The property content-defined chunking exists for: prepending 3
    characters to a document REALIGNS chunk boundaries after the edit
    (most chunk substrings identical), while fixed-size chunking loses
    all alignment (near-zero shared chunks). Cut positions computed with
    dedup-cdc's exact Spark expressions."""
    import hashlib

    from itdb_spark.queries.pipeline import _cdc_gear_terms

    words = [hashlib.md5(str(i).encode()).hexdigest()[:5] for i in range(80)]
    base = " ".join(words)
    edited = "xy " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    chars = df.selectExpr(
        "doc_id",
        "text",
        "transform(filter(split(text, ''), c -> c != ''), "
        "c -> CAST(conv(substring(md5(c), 1, 15), 16, 10) AS BIGINT) % 65536) AS hs",
        "length(text) AS n",
    )
    cuts = {
        r.doc_id: (r.text, list(r.c))
        for r in chars.selectExpr(
            "doc_id", "text",
            f"filter(sequence(8, n), "
            f"i -> ({_cdc_gear_terms('hs', 'i', spark_side=True)}) % 64 = 0) AS c",
        ).collect()
    }

    def chunks(text, cut_positions):
        cs, prev = [], 0
        for c in cut_positions:
            cs.append(text[prev:c])
            prev = c
        cs.append(text[prev:])
        return [c for c in cs if c]

    cdc1 = set(chunks(*cuts[1]))
    cdc2 = set(chunks(*cuts[2]))
    cdc_shared = len(cdc1 & cdc2) / len(cdc1)
    fixed1 = {base[i:i + 64] for i in range(0, len(base), 64)}
    fixed2 = {edited[i:i + 64] for i in range(0, len(edited), 64)}
    fixed_shared = len(fixed1 & fixed2) / len(fixed1)
    assert len(cdc1) >= 3  # the hash actually cuts
    assert cdc_shared >= 0.5, (cdc_shared, len(cdc1))
    assert fixed_shared == 0.0
    assert cdc_shared > fixed_shared


def test_changepoint_detects_planted_level_shift(spark):
    """agg-changepoint's cleared-denominator CUSUM on a hand series
    with a known level shift: 10 hours at rate 2 then 10 hours at
    rate 8 — the argmax of |n*prefix_t - t*total| must land exactly
    at the shift boundary (hour index 10), verified against a pure-
    Python replay."""
    import datetime as dt

    rows = []
    eid = 0
    t0 = dt.datetime(2026, 3, 1)
    for hour in range(20):
        rate = 2 if hour < 10 else 8
        for _ in range(rate):
            rows.append((eid, t0 + dt.timedelta(hours=hour, minutes=eid % 59)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    from pyspark.sql import Window

    hourly = df.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").cast("long").alias("cnt"))
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    pre = hourly.select(
        "h", F.sum("cnt").over(w).cast("long").alias("prefix"),
        F.row_number().over(Window.orderBy("h")).cast("long").alias("t"))
    tot = hourly.agg(F.count("*").cast("long").alias("n"),
                     F.sum("cnt").cast("long").alias("s"))
    dev = pre.crossJoin(F.broadcast(tot)).select(
        "h", F.abs(F.col("n") * F.col("prefix") - F.col("t") * F.col("s")).alias("d"))
    best = dev.orderBy(F.col("d").desc(), "h").first()
    # python replay
    counts = [2] * 10 + [8] * 10
    n, s = len(counts), sum(counts)
    prefix, scores = 0, []
    for t_, c in enumerate(counts, 1):
        prefix += c
        scores.append(abs(n * prefix - t_ * s))
    assert best.d == max(scores)
    assert scores.index(max(scores)) + 1 == 10  # boundary hour (1-based t)
    assert best.h == t0 + dt.timedelta(hours=9)  # 10th hour


def test_zipf_top100_uses_take_ordered(spark):
    """agg-zipf's global top-100 must compile to TakeOrderedAndProject
    (per-partition partial top-k), never a single-partition rank
    window over the whole vocabulary — the plan property its doc
    claims."""
    from itdb_spark.queries import load_all
    from tests.conftest import SF_DIR

    df = load_all()["agg-zipf"].spark(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
