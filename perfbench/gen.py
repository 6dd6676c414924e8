"""Seeded input generators for the benchmark.

Three families, each deterministic per (seed, size) and written as
parquet under a per-seed cache directory:

- ``tpch``: TPC-H-shaped ``supplier/nation/part/orders/lineitem`` (the
  input of ``mb_scale_tables`` -> ``run_pipeline``);
- ``export``: export-shaped ``mb_song/mb_album/mb_artist_alias`` with a
  planted query pool (one known answer per query), merge increments and
  the query batch that follows each merge;
- ``docs``: a ``documents`` corpus with planted near-duplicates plus
  ``embeddings`` (the input of the snapshot-tier lifecycles).

Only numpy and pyarrow are used: the program under test receives the
files, never the generator.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes, so stale cache entries are never reused
GEN_VERSION = 3

_SYLLABLES = (
    "ka ro vel min sa ti lu mo ne ra di vo ze ba fu gi ha jo ke li "
    "na pe qui ru so ta ul vi wa xe yo zu bel dor fan gar hol jun kor "
    "lam mer nor pol ros sun tor val win"
).split()


@dataclass(frozen=True)
class Sizes:
    """Row counts of one run's inputs."""

    lineitems: int = 10_000
    songs: int = 10_000
    artists: int = 500
    batch: int = 50
    pool: int = 400
    increments: int = 60
    increment_rows: int = 400
    docs: int = 500
    vectors: int = 500


TINY = Sizes(
    lineitems=3_000, songs=2_000, artists=120, batch=20, pool=120,
    increments=8, increment_rows=60, docs=200, vectors=200,
)


def _rng(seed: int, family: str) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(family.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def _names(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` distinct capitalised pseudo-words of ``lo..hi`` syllables."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            out.append(w.capitalize())
    return out


def search_key(s: str) -> str:
    """Python twin of ``functions.normalize.search_key`` on the ASCII
    strings this generator produces."""
    s = s.lower().replace("(live)", "")
    return "".join(ch for ch in s if ch.isascii() and ch.isalnum())


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(years, months, days) -> pa.Array:
    stamps = np.array(
        [f"{y:04d}-{m:02d}-{d:02d}" for y, m, d in zip(years, months, days)],
        dtype="datetime64[us]",
    )
    return pa.array(stamps, type=pa.timestamp("us"))


# ---------------------------------------------------------------------------
# TPC-H family
# ---------------------------------------------------------------------------


def gen_tpch(seed: int, sizes: Sizes, out: str) -> None:
    rng = _rng(seed, "tpch")
    n_li = sizes.lineitems
    n_orders = max(n_li // 4, 10)
    n_part = max(n_li // 30, 20)
    n_supp = max(n_li // 600, 12)

    # one nation is BELGIUM, so the artist cut's country branch is live
    belgium = int(rng.integers(0, 25))
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [("BELGIUM" if k == belgium else f"NATION_{k}") for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"{a} {b}" for a, b in zip(_names(rng, n_supp, 2, 3), _names(rng, n_supp, 1, 2))],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    words = _names(rng, 300, 1, 2)
    part = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            " ".join(words[int(i)].lower() for i in rng.integers(0, len(words), int(k)))
            for k in rng.integers(1, 4, n_part)
        ],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n_orders // 10, 1), n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders, p=[0.49, 0.49, 0.02]).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts(rng.integers(1992, 2002, n_orders), rng.integers(1, 13, n_orders),
                           rng.integers(1, 29, n_orders)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ).tolist(),
    })
    # lineitems: each order gets 1..7 lines; a part has 4 suppliers
    # (TPC-H's partsupp rule), and part popularity is skewed
    per_order = rng.integers(1, 8, n_orders)
    per_order = np.maximum(1, np.round(per_order * n_li / per_order.sum())).astype(int)
    l_order = np.repeat(np.arange(n_orders), per_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per_order])
    n = len(l_order)
    l_part = np.minimum(rng.zipf(1.3, n) - 1, n_part - 1)
    l_part = (l_part * 7919 + rng.integers(0, n_part, n) * (rng.random(n) < 0.7)) % n_part
    l_supp = (l_part + rng.integers(0, 4, n) * (n_supp // 4)) % n_supp
    qty = rng.integers(1, 51, n).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(l_supp, pa.int64()),
        "l_linenumber": pa.array(np.minimum(l_line, 7), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + l_part * 0.1), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": _ts(rng.integers(1992, 2002, n), rng.integers(1, 13, n), rng.integers(1, 29, n)),
    })
    for name, tab in (("nation", nation), ("supplier", supplier), ("part", part),
                      ("orders", orders), ("lineitem", lineitem)):
        _write(tab, os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Export family: catalog, planted queries, increments
# ---------------------------------------------------------------------------

# Share of each query class over a run's requests. Measured sources:
# ACCURACY.md's replay of the reference's real 2,954-row query CSV has
# 123 designed-Missing rows (garbled title) and 93 + 4 Wrong rows (an
# impostor or an earlier-year recording with the same key), and
# plans/benchmark_real.py plants title typos at 1/10 and artist typos
# at 1/10 (of which only plain-ASCII artists qualify, so at most 1/10).
# The truncated-title and duet shares have no measured source: they are
# assumptions. Exact queries take the rest.
_SOURCED = (
    ("truncated", 0.05),  # assumption
    ("title_typo", 0.10),
    ("artist_typo", 0.10),
    ("duet", 0.04),  # assumption
    ("garbled", 123 / 2954),
    ("decoy", 97 / 2954),
)
QUERY_MIX = (("exact", 1.0 - sum(share for _, share in _SOURCED)),) + _SOURCED
# one catalogue song in 13 gets a low-score "(demo)" twin on a later
# album, the prefix competitor plans/benchmark_real.py plants at 1/13:
# phase 1 finds it, the relevance threshold or the earliest-year rule
# must drop it
DEMO_EVERY = 13

SONG_ID_BASE = 10_000_000
ALBUM_ID_BASE = 20_000_000


def _song_titles(rng: np.random.Generator, words: list[str], n: int) -> list[str]:
    """``n`` titles whose keys are pairwise not prefixes of each other,
    so the search has exactly one right answer per exact query."""
    out: list[str] = []
    keys: list[str] = []
    while len(out) < n:
        k = int(rng.integers(2, 4))
        title = " ".join(words[int(i)] for i in rng.integers(0, len(words), k))
        key = search_key(title)
        if any(key.startswith(o) or o.startswith(key) for o in keys):
            continue
        out.append(title)
        keys.append(key)
    return out


def _typo(rng: np.random.Generator, s: str) -> str:
    """One substitution inside the string (edit distance exactly 1)."""
    i = int(rng.integers(1, len(s) - 1))
    c = "q" if s[i] != "q" else "x"
    return s[:i] + c + s[i + 1:]


def gen_export(seed: int, sizes: Sizes, out: str) -> None:
    rng = _rng(seed, "export")
    n_art = sizes.artists
    art_names = [f"{a} {b}" for a, b in zip(_names(rng, n_art, 2, 3), _names(rng, n_art, 2, 2))]
    words = _names(rng, 2_000, 1, 3)

    # skewed catalogue: songs per artist follows a Zipf-like law
    weights = 1.0 / np.arange(1, n_art + 1) ** 0.8
    rng.shuffle(weights)
    per_artist = np.maximum(3, np.round(weights / weights.sum() * sizes.songs)).astype(int)

    song_rows = {k: [] for k in ("mb_id", "work_mb_id", "title", "artist_id", "second_artist_id",
                                 "album_mb_id", "is_single", "language", "score")}
    album_rows = {k: [] for k in ("mb_id", "title", "release_year", "is_soundtrack", "is_single",
                                  "is_main_album")}
    song_id = SONG_ID_BASE
    album_id = ALBUM_ID_BASE
    by_artist: list[list[int]] = []  # row indices of each artist's songs
    demos: list[int] = []  # rows that get a "(demo)" twin
    for a in range(n_art):
        titles = _song_titles(rng, words, int(per_artist[a]))
        n_alb = max(1, len(titles) // 8)
        albums = []
        for _ in range(n_alb):
            y = int(rng.integers(1960, 2024))
            mb = str(album_id)
            album_id += 1
            album_rows["mb_id"].append(mb)
            album_rows["title"].append(" ".join(words[int(i)] for i in rng.integers(0, len(words), 2)))
            album_rows["release_year"].append(y)
            album_rows["is_soundtrack"].append(bool(rng.random() < 0.05))
            album_rows["is_single"].append(bool(rng.random() < 0.2))
            album_rows["is_main_album"].append(bool(rng.random() < 0.6))
            albums.append(mb)
        rows = []
        for t in titles:
            if len(song_rows["mb_id"]) % DEMO_EVERY == 0:
                demos.append(len(song_rows["mb_id"]))
            rows.append(len(song_rows["mb_id"]))
            song_rows["mb_id"].append(str(song_id))
            song_id += 1
            song_rows["work_mb_id"].append(None)
            song_rows["title"].append(t)
            song_rows["artist_id"].append(a)
            song_rows["second_artist_id"].append(None)
            song_rows["album_mb_id"].append(albums[int(rng.integers(0, len(albums)))])
            song_rows["is_single"].append(bool(rng.random() < 0.1))
            song_rows["language"].append(str(rng.choice(["en", "nl", "fr", "de"])))
            song_rows["score"].append(int(min(rng.zipf(1.6), 5_000)))
        by_artist.append(rows)
    album_row = {mb: i for i, mb in enumerate(album_rows["mb_id"])}
    for row in demos:
        src = album_row[song_rows["album_mb_id"][row]]
        for k in album_rows:
            album_rows[k].append(album_rows[k][src])
        album_rows["mb_id"][-1] = str(album_id)
        album_rows["title"][-1] = "Demos"
        album_rows["release_year"][-1] += 1
        album_rows["is_single"][-1] = album_rows["is_main_album"][-1] = False
        for k in song_rows:
            song_rows[k].append(song_rows[k][row])
        song_rows["mb_id"][-1] = str(song_id)
        song_rows["title"][-1] = f"{song_rows['title'][row]} (demo)"
        song_rows["album_mb_id"][-1] = str(album_id)
        song_rows["is_single"][-1] = False
        song_rows["score"][-1] = 1
        song_id += 1
        album_id += 1

    # query pool: per class, targets drawn with a skewed artist
    # popularity, Zipf(1.1) (an assumption: no measured source)
    pop = 1.0 / np.arange(1, n_art + 1) ** 1.1
    art_order = rng.permutation(n_art)
    pop_p = pop / pop.sum()
    pool: list[dict] = []
    decoy_targets: set[int] = set()
    n_pool = {cls: max(4, int(round(share * sizes.pool))) for cls, share in QUERY_MIX}
    # decoy targets first: no other class may target a song that gets
    # a planted twin
    for cls, _ in sorted(QUERY_MIX, key=lambda c: c[0] != "decoy"):
        made = 0
        while made < n_pool[cls]:
            a = int(art_order[rng.choice(n_art, p=pop_p)])
            row = by_artist[a][int(rng.integers(0, len(by_artist[a])))]
            if row in decoy_targets:
                continue
            title = song_rows["title"][row]
            artist_q = art_names[a]
            title_q = title
            key = search_key(title)
            if cls == "truncated":
                if len(key) < 10:
                    continue
                title_q = key[: max(8, len(key) * 2 // 3)]
            elif cls == "title_typo":
                title_q = _typo(rng, key)
            elif cls == "artist_typo":
                artist_q = _typo(rng, search_key(artist_q))
            elif cls == "duet":
                b = int(rng.integers(0, n_art))
                if b == a:
                    continue
                artist_q = f"{art_names[a]} & {art_names[b]}"
                song_rows["second_artist_id"][row] = b
            elif cls == "garbled":
                title_q = "".join(chr(ord("a") + int(i)) for i in rng.integers(0, 26, 14))
            elif cls == "decoy":
                # a same-artist re-recording with the same key and an
                # earlier album: the earliest-year rule picks it, so
                # this query must score Wrong
                decoy_targets.add(row)
                album_mb = str(album_id)
                album_id += 1
                # (same flags and score as the target: equal relevance)
                src = album_row[song_rows["album_mb_id"][row]]
                for k in album_rows:
                    album_rows[k].append(album_rows[k][src])
                album_rows["mb_id"][-1] = album_mb
                album_row[album_mb] = len(album_rows["mb_id"]) - 1
                album_rows["title"][-1] = "Live"
                album_rows["release_year"][-1] -= 1
                for k in song_rows:
                    song_rows[k].append(song_rows[k][row])
                song_rows["mb_id"][-1] = str(song_id)
                song_id += 1
                song_rows["title"][-1] = f"{title} (Live)"
                song_rows["album_mb_id"][-1] = album_mb
            pool.append({"cls": cls, "artist_q": artist_q, "title_q": title_q,
                         "expected": int(song_rows["mb_id"][row])})
            made += 1

    mb_song = pa.table({
        "mb_id": pa.array(song_rows["mb_id"], pa.string()),
        "work_mb_id": pa.array(song_rows["work_mb_id"], pa.string()),
        "title": pa.array(song_rows["title"], pa.string()),
        "artist_id": pa.array(song_rows["artist_id"], pa.int64()),
        "second_artist_id": pa.array(song_rows["second_artist_id"], pa.int64()),
        "album_mb_id": pa.array(song_rows["album_mb_id"], pa.string()),
        "is_single": pa.array(song_rows["is_single"], pa.bool_()),
        "language": pa.array(song_rows["language"], pa.string()),
        "score": pa.array(song_rows["score"], pa.int64()),
        "version": pa.array(np.zeros(len(song_rows["mb_id"]), dtype=np.int64)),
    })
    mb_album = pa.table({
        "mb_id": pa.array(album_rows["mb_id"], pa.string()),
        "title": pa.array(album_rows["title"], pa.string()),
        "release_year": pa.array(album_rows["release_year"], pa.int64()),
        "is_soundtrack": pa.array(album_rows["is_soundtrack"], pa.bool_()),
        "is_single": pa.array(album_rows["is_single"], pa.bool_()),
        "is_main_album": pa.array(album_rows["is_main_album"], pa.bool_()),
    })
    alias_a, alias_k = [], []
    for a, name in enumerate(art_names):
        alias_a.append(a)
        alias_k.append(search_key(name))
        if a % 5 == 2:  # a distance-1 variant, as real alias tables carry
            alias_a.append(a)
            alias_k.append(search_key(name) + "z")
    mb_artist_alias = pa.table({
        "artist_id": pa.array(alias_a, pa.int64()),
        "alias": pa.array(alias_k, pa.string()),
    })
    _write(mb_song, os.path.join(out, "mb_song.parquet"))
    _write(mb_album, os.path.join(out, "mb_album.parquet"))
    _write(mb_artist_alias, os.path.join(out, "mb_artist_alias.parquet"))

    # request batches: the class counts of batch b are the cumulative
    # shares' increments, so every batch holds nearly the same mix and a
    # run's mix converges on QUERY_MIX; entries of a class are drawn with
    # a skewed popularity over that class's pool
    by_cls: dict[str, list[int]] = {}
    for i, q in enumerate(pool):
        by_cls.setdefault(q["cls"], []).append(i)
    drawn: list[int] = []

    def draw(n: int, b: int) -> list[dict]:
        per = {cls: int(share * n * (b + 1)) - int(share * n * b) for cls, share in _SOURCED}
        per["exact"] = n - sum(per.values())
        entries = []
        for cls, _ in QUERY_MIX:
            ids = by_cls[cls]
            # Zipf(1.1) over the pool: an assumption, as the artist one
            p = 1.0 / np.arange(1, len(ids) + 1) ** 1.1
            entries += [ids[int(j)] for j in rng.choice(len(ids), per[cls], p=p / p.sum())]
        drawn.extend(entries)
        return [{"qid": b * 1_000 + i, **pool[e]} for i, e in enumerate(entries)]

    # increments: re-scored and new songs of a few artists each; the
    # query batch after each merge targets exactly those songs
    incs = []
    next_id = song_id
    n_rows = len(song_rows["mb_id"])
    for k in range(sizes.increments):
        arts = rng.choice(n_art, 4, replace=False)
        cand = [r for a in arts for r in by_artist[int(a)]]
        n_upd = min(len(cand), sizes.increment_rows * 3 // 4)
        upd = {int(r) for r in rng.choice(cand, n_upd, replace=False)}
        # re-scores also land on random songs, so writes spread over buckets
        while len(upd) < sizes.increment_rows - 16:
            upd.add(int(rng.integers(0, n_rows)))
        rows = {key: [] for key in mb_song.column_names}
        for r in sorted(upd):
            r = int(r)
            for key in song_rows:
                rows[key].append(song_rows[key][r])
            rows["score"][-1] = int(min(rng.zipf(1.6), 5_000))
            rows["version"].append(k + 1)
        new_titles = _song_titles(rng, words, 16)
        for t in new_titles:
            a = int(arts[int(rng.integers(0, len(arts)))])
            rows["mb_id"].append(str(next_id))
            next_id += 1
            rows["work_mb_id"].append(None)
            rows["title"].append(t)
            rows["artist_id"].append(a)
            rows["second_artist_id"].append(None)
            rows["album_mb_id"].append(song_rows["album_mb_id"][by_artist[a][0]])
            rows["is_single"].append(False)
            rows["language"].append("en")
            rows["score"].append(int(rng.integers(1, 50)))
            rows["version"].append(k + 1)
        tab = pa.table({key: pa.array(v, mb_song.schema.field(key).type) for key, v in rows.items()})
        _write(tab, os.path.join(out, f"increment_{k:04d}.parquet"))
        # half the batch is the planted class mix, half asks for the
        # songs this increment just wrote
        queries = draw(sizes.batch // 2, k)
        for i in range(len(queries), sizes.batch):
            j = int(rng.integers(0, len(rows["mb_id"])))
            a = rows["artist_id"][j]
            queries.append({"qid": k * 1_000 + i, "artist_q": art_names[a],
                            "title_q": rows["title"][j], "expected": int(rows["mb_id"][j])})
        incs.append(queries)
    _write_json(os.path.join(out, "refresh_batches.json"), {"batches": incs})
    # share of drawn queries that repeat an earlier key (stated in README.md)
    _write_json(os.path.join(out, "mix.json"),
                {"repeat_share": round(1.0 - len(set(drawn)) / len(drawn), 4)})


# ---------------------------------------------------------------------------
# Documents + embeddings family
# ---------------------------------------------------------------------------

_VOCAB = (
    "a the data query table join scan sort hash filter group order line "
    "part customer value row column batch stream window merge agg key "
    "spark fast slow big small vector"
).split()


def gen_docs(seed: int, sizes: Sizes, out: str) -> None:
    rng = _rng(seed, "docs")
    n = sizes.docs
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.08:
            # planted near-duplicate: an earlier doc with one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "fr", "de", "es", "zh"], n).tolist(),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = sizes.vectors
    vecs = rng.normal(0.0, 0.125, (m, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    _write(documents, os.path.join(out, "documents.parquet"))
    _write(embeddings, os.path.join(out, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# Cache
# ---------------------------------------------------------------------------

GENERATORS = {"tpch": gen_tpch, "export": gen_export, "docs": gen_docs}


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, separators=(",", ":"))


def inputs(cache_root: str, family: str, seed: int, sizes: Sizes) -> str:
    """The directory holding ``family``'s inputs for ``seed``,
    generating them on first use. A ``_DONE`` marker gates reuse, so a
    killed generation is redone."""
    tag = hashlib.sha256(repr((GEN_VERSION, family, sizes)).encode()).hexdigest()[:10]
    # identifier-safe: the index tiers derive table names from it
    out = os.path.join(cache_root, f"{family}_{seed}_{tag}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        GENERATORS[family](seed, sizes, tmp)
        if os.path.exists(out):
            import shutil  # noqa: PLC0415

            shutil.rmtree(out)
        os.rename(tmp, out)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def content_hash(path: str) -> str:
    """sha256 over every input file of a generated directory."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.startswith("_"):
            continue
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
