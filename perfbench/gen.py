"""Seeded inputs for the benchmark workloads.

Everything the program sees is made here from ``--seed``: the star tables
the registry queries read (``orders``, ``lineitem``, ``documents``), the
iTunes ``Library.xml`` files the report workload loads, the request order
and the ingest corpus/batch split. The same seed gives byte-identical
files and identical orders; nothing reads the repository's testdata.

Shapes follow TESTDATA.md (TPC-H-ish star schema, 31-word document
vocabulary with derived near/exact copies added by ``corpus()``) and
FIXTURES.md (tracks / playlists / playlist items with NULL-vs-'' strings,
NULL ratings, a 3-level folder tree, a whole-library playlist, empty
playlists, duplicated and dangling items).
"""

from __future__ import annotations

import os
import plistlib
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The documents vocabulary of the testdata (TESTDATA.md): 30 common words plus
# the rare "dup" marker.
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
GENRES = [
    "Rock", "Jazz", "Pop", "Classical", "Hip-Hop", "Electronic", "Folk",
    "Blues", "Country", "Metal", "Reggae", "Soul", "Soundtrack", "Latin",
    "Punk", "Funk", "Ambient", "World", "R&B", "Gospel", "Indie", "House",
    "Techno", "Opera", "Spoken Word",
]
KINDS = [
    "MPEG audio file", "Purchased AAC audio file", "AAC audio file",
    "MPEG-4 video file", "Apple Lossless audio file",
]

# Rows of the testdata at sf 1.0 (TESTDATA.md scales linearly).
ORDERS_PER_SF = 1_500_000
LINES_PER_ORDER = 4
DOCS_PER_SF = 50_000
DOCS_MIN = 500  # sf0.01 and sf0.001 both carry 500 documents

# Library.xml shape at lib_scale 1.0 (FIXTURES.md).
LIB_TRACKS = 20_000
LIB_PLAYLISTS = 300
LIB_FOLDERS = 20


def _write(table: pa.Table, path: str) -> None:
    # One row group, no statistics-dependent layout: identical bytes per seed.
    pq.write_table(table, path, compression="snappy")


def make_orders_lineitem(sf: float, seed: int) -> tuple[pa.Table, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = max(1500, int(ORDERS_PER_SF * sf))
    okey = np.arange(n, dtype=np.int64)
    base = np.datetime64("1995-01-01", "D")
    odate = base + rng.integers(0, 2400, n).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": rng.integers(1, max(2, n // 10), n, dtype=np.int64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )
    m = n * LINES_PER_ORDER
    lkey = rng.integers(0, n, m, dtype=np.int64)
    qty = rng.integers(1, 51, m).astype(np.float64)
    ship = odate[lkey] + rng.integers(1, 122, m).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": lkey,
            "l_partkey": rng.integers(0, max(2, n // 75), m, dtype=np.int64),
            "l_suppkey": rng.integers(0, 100, m, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, m, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], m)),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    return orders, lineitem


def make_documents(n_docs: int, seed: int) -> pa.Table:
    """Documents of 10-99 words over the testdata vocabulary. About one
    doc in eight copies an earlier doc with a few words changed, so the
    near-duplicate operators find template families beyond the derived
    copies ``corpus()`` adds."""
    rng = random.Random(f"docs-{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.125:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            if rng.random() < 0.2:
                words.append("dup")
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(10, 99))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_star_dir(sf_dir: str, sf: float, seed: int, tables=("orders", "lineitem", "documents")) -> None:
    """Write the seeded star tables into ``sf_dir`` (one parquet each)."""
    os.makedirs(sf_dir, exist_ok=True)
    if "orders" in tables or "lineitem" in tables:
        orders, lineitem = make_orders_lineitem(sf, seed)
        _write(orders, os.path.join(sf_dir, "orders.parquet"))
        _write(lineitem, os.path.join(sf_dir, "lineitem.parquet"))
    if "documents" in tables:
        n_docs = max(DOCS_MIN, int(DOCS_PER_SF * sf))
        _write(make_documents(n_docs, seed), os.path.join(sf_dir, "documents.parquet"))


# --- iTunes library ----------------------------------------------------------


def _hex16(rng: random.Random) -> str:
    return "%016X" % rng.getrandbits(64)


def _maybe_str(rng: random.Random, value: str) -> str | None:
    """5% NULL (key absent), 5% '' (FIXTURES.md artist/album rule)."""
    r = rng.random()
    if r < 0.05:
        return None
    if r < 0.10:
        return ""
    return value


def library_dict(seed: int, lib_scale: float, user_id: int) -> dict:
    rng = random.Random(f"library-{seed}-{user_id}")
    n_tracks = max(50, int(LIB_TRACKS * lib_scale))
    n_artists = max(5, n_tracks // 13)
    n_albums = max(8, n_tracks // 7)
    t0 = datetime(2010, 1, 1)
    tracks: dict[str, dict] = {}
    for tid in range(1, n_tracks + 1):
        artist_i = min(int(rng.paretovariate(1.2)) - 1, n_artists - 1)
        album_i = min(int(rng.paretovariate(1.1)) - 1, n_albums - 1)
        name = (
            f"TRACK {tid}" if tid % 13 == 0
            else f"Chanson été {tid}" if tid % 29 == 0
            else "" if tid % 97 == 0
            else f"Track {tid}"
        )
        artist = f"Artist {artist_i}"
        t = {"Track ID": tid, "Name": name, "Kind": rng.choice(KINDS)}
        for key, value in (
            ("Artist", _maybe_str(rng, artist)),
            ("Album Artist", _maybe_str(rng, artist)),
            ("Album", _maybe_str(rng, f"Album {album_i}")),
        ):
            if value is not None:
                t[key] = value
        if rng.random() >= 0.08:
            t["Genre"] = GENRES[min(int(rng.expovariate(0.25)), len(GENRES) - 1)]
        if rng.random() < 0.3:
            t["Composer"] = f"Composer {rng.randrange(200)}"
        t["Size"] = int(min(200e6, max(2e6, rng.lognormvariate(16, 0.8))))
        t["Total Time"] = rng.randint(30_000, 7_200_000)
        if rng.random() < 0.9:
            t["Track Number"] = rng.randint(1, 20)
            t["Track Count"] = 20
        t["Disc Number"] = 1
        t["Disc Count"] = 1
        if rng.random() >= 0.03:
            t["Year"] = rng.randint(1960, 2026)
        if rng.random() >= 0.4:
            rating = rng.choice([0, 20, 40, 60, 80, 100])
            t["Rating"] = rating
            t["Album Rating"] = rating
        if rng.random() < 0.8:
            t["Play Count"] = int(rng.expovariate(0.1))
        if rng.random() < 0.3:
            t["Skip Count"] = int(rng.expovariate(0.5))
        for flag, p in (("Compilation", 0.05), ("Loved", 0.1), ("Explicit", 0.03),
                        ("TV Show", 0.05), ("Movie", 0.05)):
            if rng.random() < p:
                t[flag] = True
        t["Date Added"] = t0 + timedelta(seconds=rng.randrange(400_000_000))
        t["Date Modified"] = t["Date Added"] + timedelta(days=rng.randrange(100))
        if rng.random() < 0.7:
            t["Play Date UTC"] = t0 + timedelta(seconds=rng.randrange(500_000_000))
        if rng.random() < 0.8:
            t["Release Date"] = datetime(rng.randint(1960, 2025), rng.randint(1, 12), 1)
        t["Persistent ID"] = _hex16(rng)
        t["Track Type"] = "File" if rng.random() < 0.97 else "URL"
        enc = "%C3%A9t%C3%A9" if tid % 29 == 0 else "Track"
        amp = "A&amp;B" if tid % 41 == 0 else artist.replace(" ", "%20")
        t["Location"] = f"file://localhost/Volumes/Data/Music/{amp}/{tid:02d}%20{enc}{tid}.mp3"
        tracks[str(tid)] = t

    n_playlists = max(12, int(LIB_PLAYLISTS * lib_scale ** 0.5))
    n_folders = max(3, int(LIB_FOLDERS * lib_scale ** 0.5))
    ids = list(range(1, n_tracks + 1))
    playlists: list[dict] = [
        {
            "Playlist ID": 1,
            "Name": "Library",
            "Playlist Persistent ID": _hex16(rng),
            "Playlist Items": [{"Track ID": i} for i in ids],
        }
    ]
    folders: list[str] = []
    for k in range(n_folders):
        pid = _hex16(rng)
        pl = {"Playlist ID": 2 + k, "Name": f"Folder {k}", "Playlist Persistent ID": pid, "Folder": True}
        if folders and rng.random() < 0.5:  # 3-level tree: folders inside folders
            pl["Parent Persistent ID"] = rng.choice(folders)
        folders.append(pid)
        playlists.append(pl)
    big = max(20, n_tracks // 10)
    for k in range(n_playlists - 1 - n_folders):
        pid = 2 + n_folders + k
        pl = {
            "Playlist ID": pid,
            "Name": f"Best of {k % 40}" if k % 3 == 0 else f"Mix {k}",
            "Playlist Persistent ID": _hex16(rng),
        }
        if rng.random() < 0.7:
            pl["Parent Persistent ID"] = rng.choice(folders)
        r = rng.random()
        if r < 0.04:
            size = 0  # empty playlist
        elif r < 0.7:
            size = rng.randint(10, 50)
        else:
            size = rng.randint(big // 4, big)
        items = [{"Track ID": i} for i in rng.sample(ids, min(size, n_tracks))]
        if items and rng.random() < 0.05:
            items.append(dict(items[0]))  # duplicated item (LOAD DATA IGNORE)
        if items and rng.random() < 0.03:
            items.append({"Track ID": n_tracks + 1 + k})  # dangling FK
        if size or rng.random() < 0.5:
            pl["Playlist Items"] = items
        playlists.append(pl)
    return {
        "Major Version": 1,
        "Minor Version": 1,
        "Application Version": "12.9",
        "Library Persistent ID": _hex16(rng),
        "Tracks": tracks,
        "Playlists": playlists,
    }


def make_library(lib_dir: str, seed: int, lib_scale: float) -> dict[int, str]:
    """Write one ``Library.xml`` per user (user 1 holds ~90% of the
    tracks, user 2 the rest — the multi-tenant split). Returns
    {user_id: directory holding that user's library}."""
    out = {}
    for user_id, share in ((1, 0.9), (2, 0.1)):
        d = os.path.join(lib_dir, f"user{user_id}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "Library.xml"), "wb") as fh:
            plistlib.dump(library_dict(seed, lib_scale * share, user_id), fh, sort_keys=True)
        out[user_id] = d
    return out


# --- orders and splits -------------------------------------------------------


def request_order(seed: int, op_ids: list[str], passes: int, salt: str = "order") -> list[str]:
    """``passes`` whole passes over ``op_ids``, each pass shuffled by the
    seed: every op type sees the same host drift, and any whole number of
    passes has the same mix."""
    rng = random.Random(f"{salt}-{seed}")
    out: list[str] = []
    for _ in range(passes):
        p = list(op_ids)
        rng.shuffle(p)
        out.extend(p)
    return out


def batch_split(
    seed: int, doc_ids: list[int], base_share: float = 0.8, batch_size: int = 50
) -> tuple[list[int], list[list[int]]]:
    """Seeded corpus/batch split for incremental ingest: ``base_share`` of
    the docs form the indexed corpus; the rest, shuffled, arrive in fixed
    size batches (a short tail is dropped so every batch is the same
    size)."""
    rng = random.Random(f"split-{seed}")
    ids = sorted(doc_ids)
    rng.shuffle(ids)
    cut = int(len(ids) * base_share)
    base, rest = sorted(ids[:cut]), ids[cut:]
    batches = [
        sorted(rest[i : i + batch_size])
        for i in range(0, len(rest) - batch_size + 1, batch_size)
    ]
    return base, batches
