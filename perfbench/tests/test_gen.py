"""The seeded generators: one seed, one set of inputs; another seed, others."""

from __future__ import annotations

import hashlib
import os

from perfbench import gen


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_library_xml_is_byte_identical_per_seed(tmp_path):
    a = gen.make_library(str(tmp_path / "a"), seed=3, lib_scale=0.02)
    b = gen.make_library(str(tmp_path / "b"), seed=3, lib_scale=0.02)
    c = gen.make_library(str(tmp_path / "c"), seed=4, lib_scale=0.02)
    for user in a:
        xa, xb, xc = (open(os.path.join(d[user], "Library.xml"), "rb").read() for d in (a, b, c))
        assert xa == xb
        assert xa != xc


def test_library_has_fixture_shapes():
    lib = gen.library_dict(seed=1, lib_scale=0.05, user_id=1)
    tracks = list(lib["Tracks"].values())
    assert len(tracks) == 1000
    assert any("Rating" not in t for t in tracks)  # NULL rating
    assert any(t.get("Artist") == "" for t in tracks)  # '' distinct from NULL
    assert any("Artist" not in t for t in tracks)
    assert any("%C3%A9" in t["Location"] for t in tracks)
    assert any("&amp;" in t["Location"] for t in tracks)
    playlists = lib["Playlists"]
    assert playlists[0]["Name"] == "Library" and len(playlists[0]["Playlist Items"]) == len(tracks)
    assert any(p.get("Folder") for p in playlists)
    assert any("Parent Persistent ID" in p for p in playlists)
    assert any(p.get("Playlist Items") == [] or ("Playlist Items" not in p and not p.get("Folder")) for p in playlists)


def test_star_tables_are_byte_identical_per_seed(tmp_path):
    gen.make_star_dir(str(tmp_path / "a"), 0.001, seed=5)
    gen.make_star_dir(str(tmp_path / "b"), 0.001, seed=5)
    gen.make_star_dir(str(tmp_path / "c"), 0.001, seed=6)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_request_order_is_seeded_whole_passes():
    ops = ["a", "b", "c", "d"]
    o1 = gen.request_order(1, ops, 5)
    assert o1 == gen.request_order(1, ops, 5)
    assert o1 != gen.request_order(2, ops, 5)
    for i in range(0, len(o1), len(ops)):
        assert sorted(o1[i : i + len(ops)]) == ops  # every pass has the full mix


def test_batch_split_is_seeded_and_disjoint():
    ids = list(range(1000))
    base, batches = gen.batch_split(1, ids, batch_size=50)
    assert (base, batches) == gen.batch_split(1, ids, batch_size=50)
    assert (base, batches) != gen.batch_split(2, ids, batch_size=50)
    assert len(base) == 800 and len(batches) == 4
    assert all(len(b) == 50 for b in batches)
    seen = set(base)
    for b in batches:
        assert not seen & set(b)
        seen |= set(b)
