"""Seeded input generators for the benchmark workloads.

The same seed gives byte-identical inputs. Nothing here imports Spark or
the package under test: the program only ever sees the files written here.

- ``write_daily_drops``: the reference domain. Dated CSV stream drops
  (Zipf users and tracks, every FIXTURES.md edge case) plus a songs CSV
  whose track ids fan out across 1-3 genres.
- ``write_replica``: the TESTDATA.md star schema plus documents and
  embeddings, at the sf0.01 row counts, as parquet files named like the
  testdata (``<dir>/<table>.parquet``).
- ``write_index_stream``: one drop folder of documents and one of
  embeddings for the streaming near-duplicate indexes.

Document text is drawn from a Zipf vocabulary of a few thousand words, so
unrelated documents share few shingles and the near-duplicates the
generator plants are what the dedup operators find.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GENRES = (
    "acoustic", "blues", "classical", "dance", "folk",
    "hip-hop", "jazz", "metal", "pop", "rock",
)
SONG_COLS = (
    "id", "track_id", "artists", "album_name", "track_name", "popularity",
    "duration_ms", "explicit", "danceability", "energy", "song_key",
    "loudness", "mode", "speechiness", "acousticness", "instrumentalness",
    "liveness", "valence", "tempo", "time_signature", "track_genre",
)
STREAM_HEADER = "user_id,track_id,listen_time"
MALFORMED_TIMES = ("not-a-date", "", "2024-13-45 99:99:99")
_B62 = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ", np.uint8)

# daily_etl sizes
N_TRACKS = 20_000
ROWS_PER_DROP = 50_000
DROP_DATES = ("2024-03-01", "2024-03-02")
FILES_PER_DROP = 4

# streaming index sizes: documents, and as many embeddings
N_INDEX_DOCS = 400
INDEX_DIM = 64  # the semantic index's hyperplanes are 64-d

# document text: a Zipf vocabulary of made-up lowercase words
N_VOCAB = 5000
_SYLLABLES = [c + v for c in "bdfghklmnprstvz" for v in "aeiou"]


def _zipf(rng: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` draws from ranks 0..n-1 with P(k) proportional to 1/(k+1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def _base62_ids(rng: np.random.Generator, n: int, width: int = 22) -> np.ndarray:
    codes = _B62[rng.integers(0, len(_B62), size=(n, width))]
    return codes.view(f"S{width}").ravel().astype(f"U{width}")


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """N_VOCAB distinct words of two to four syllables."""
    words: dict[str, None] = {}
    while len(words) < N_VOCAB:
        k = int(rng.integers(2, 5))
        words["".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))] = None
    return np.array(list(words), dtype=object)


def dup_plan(rng: np.random.Generator, n: int) -> list[tuple[str, int]]:
    """Per document, ``("new", -1)``, ``("copy", src)`` or ``("near", src)``
    with ``src`` an earlier document. After the first twenty, 8% are exact
    copies (popular documents copied more often) and 17% near-duplicates."""
    plan = []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.08:
            plan.append(("copy", int(_zipf(rng, i, 1)[0])))
        elif i >= 20 and r < 0.25:
            plan.append(("near", int(rng.integers(0, i))))
        else:
            plan.append(("new", -1))
    return plan


def corpus_texts(
    rng: np.random.Generator, plan: list[tuple[str, int]], short: float = 0.0
) -> list[str]:
    """Texts following ``plan``: a new text is 10-99 Zipf-drawn words (the
    testdata's lengths) or, for a ``short`` share, one or two words (too
    short to shingle); a near-duplicate has about 5% of its source's
    words replaced."""
    vocab = _vocabulary(rng)
    p = 1.0 / np.arange(1, N_VOCAB + 1)
    p /= p.sum()

    def words(k: int) -> list[str]:
        return list(vocab[rng.choice(N_VOCAB, size=k, p=p)])

    texts: list[str] = []
    for kind, src in plan:
        if kind == "copy":
            texts.append(texts[src])
        elif kind == "near":
            w = texts[src].split()
            for j in rng.integers(0, len(w), max(1, len(w) // 20)):
                w[j] = words(1)[0]
            texts.append(" ".join(w))
        elif rng.random() < short:
            texts.append(" ".join(words(int(rng.integers(1, 3)))))
        else:
            texts.append(" ".join(words(int(rng.integers(10, 100)))))
    return texts


def write_daily_drops(out_dir: str, seed: int) -> dict:
    """Write ``songs/songs.csv`` and one ``streams/<date>/`` drop per date.

    Each drop's parseable listen times fall inside its own date, so a drop
    replaces exactly one warehouse partition. Returns the paths and the
    on-disk CSV bytes each ``run_daily`` call reads."""
    rng = np.random.default_rng(seed)
    tids = _base62_ids(rng, N_TRACKS)
    # fan-out: each track is listed under 1-3 genres (FIXTURES edge case 4)
    fan = rng.choice([1, 2, 3], size=N_TRACKS, p=[0.2, 0.4, 0.4])
    song_tid = np.repeat(tids, fan)
    n_songs = len(song_tid)
    genre = np.concatenate(
        [rng.choice(len(GENRES), size=k, replace=False) for k in fan]
    )
    artists = np.array([f"Artist {i:02d}" for i in range(50)], dtype=object)
    art = artists[_zipf(rng, 50, n_songs, 0.8)]
    multi = rng.random(n_songs) < 0.05
    art[multi] = [
        f"{a};{b}" for a, b in zip(art[multi], artists[rng.integers(0, 50, multi.sum())])
    ]
    track_name = np.array([f"Track {i}" for i in range(N_TRACKS)], dtype=object)[
        np.repeat(np.arange(N_TRACKS), fan)
    ]
    album = np.array([f"Album {i % 5000}" for i in range(n_songs)], dtype=object)
    # nulls in the string columns (edge case 6)
    for col in (art, album, track_name):
        col[rng.random(n_songs) < 0.005] = None
    songs = pd.DataFrame(
        {
            "id": np.arange(n_songs),
            "track_id": song_tid,
            "artists": art,
            "album_name": album,
            "track_name": track_name,
            # integer popularity over 0..100 forces ties (edge case 5)
            "popularity": rng.integers(0, 101, n_songs),
            "duration_ms": rng.integers(60_000, 600_001, n_songs),
            "explicit": np.where(rng.random(n_songs) < 0.1, "true", "false"),
            "danceability": rng.random(n_songs).round(3),
            "energy": rng.random(n_songs).round(3),
            "song_key": rng.integers(0, 12, n_songs),
            "loudness": (-60 * rng.random(n_songs)).round(3),
            "mode": rng.integers(0, 2, n_songs),
            "speechiness": rng.random(n_songs).round(3),
            "acousticness": rng.random(n_songs).round(3),
            "instrumentalness": rng.random(n_songs).round(3),
            "liveness": rng.random(n_songs).round(3),
            "valence": rng.random(n_songs).round(3),
            "tempo": (40 + 180 * rng.random(n_songs)).round(3),
            "time_signature": rng.integers(3, 8, n_songs),
            "track_genre": np.array(GENRES)[genre],
        },
        columns=list(SONG_COLS),
    )
    songs_dir = os.path.join(out_dir, "songs")
    os.makedirs(songs_dir)
    songs.to_csv(os.path.join(songs_dir, "songs.csv"), index=False)

    unknown = _base62_ids(rng, 500)  # stream track ids with no songs row
    # two single-genre tracks of two plain artists: the only plays of a
    # quiet hour, one each, so the hour's top artist is a play-count tie
    # settled by the artists-ascending tie-break (edge case 5)
    row_art = art[fan.cumsum() - 1]  # artist of each track's (only) songs row
    plain = [i for i in np.flatnonzero(fan == 1) if row_art[i] is not None and ";" not in row_art[i]]
    pair = [plain[0], next(i for i in plain if row_art[i] != row_art[plain[0]])]
    quiet_hour = 3
    drops = {}
    for date in DROP_DATES:
        day = dt.datetime.fromisoformat(date)
        tid = tids[_zipf(rng, N_TRACKS, ROWS_PER_DROP, 1.05)]
        miss = rng.random(ROWS_PER_DROP) < 0.02
        tid[miss] = unknown[rng.integers(0, len(unknown), miss.sum())]
        secs = rng.integers(0, 86_400 - 3600, ROWS_PER_DROP - 2)
        secs[secs >= quiet_hour * 3600] += 3600
        secs = np.sort(np.append(secs, [quiet_hour * 3600 + 600, quiet_hour * 3600 + 1200]))
        secs = secs.astype("timedelta64[s]")
        quiet = np.searchsorted(secs, np.timedelta64(quiet_hour * 3600 + 600, "s")) + np.arange(2)
        tid[quiet] = tids[pair]
        times = np.char.replace(
            (np.datetime64(day, "s") + secs).astype(str), "T", " "
        ).astype(object)
        bad = rng.random(ROWS_PER_DROP) < 0.002
        bad[quiet] = False
        times[bad] = np.array(MALFORMED_TIMES, dtype=object)[
            rng.integers(0, len(MALFORMED_TIMES), bad.sum())
        ]
        frame = pd.DataFrame(
            {
                "user_id": _zipf(rng, 20_000, ROWS_PER_DROP, 1.1) + 1,
                "track_id": tid,
                "listen_time": times,
            }
        )
        d = os.path.join(out_dir, "streams", date)
        os.makedirs(d)
        bounds = np.linspace(0, ROWS_PER_DROP, FILES_PER_DROP + 1).astype(int)
        for k in range(FILES_PER_DROP):
            part = frame.iloc[bounds[k] : bounds[k + 1]]
            path = os.path.join(d, f"part-{k}.csv")
            part.to_csv(path, index=False)
            if k > 0:
                # a stray header row inside the data (edge case 2)
                with open(path, "a") as fh:
                    fh.write(STREAM_HEADER + "\n")
        drops[date] = d
    songs_bytes = os.path.getsize(os.path.join(songs_dir, "songs.csv"))
    csv_bytes = {
        date: songs_bytes
        + sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        for date, d in drops.items()
    }
    return {"songs": songs_dir, "drops": drops, "csv_bytes": csv_bytes}


def _write(table: pd.DataFrame | pa.Table, path: str) -> None:
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, preserve_index=False)
    pq.write_table(table, path)


def write_replica(out_dir: str, seed: int) -> str:
    """The ten TESTDATA.md tables at sf0.01 row counts.

    Documents carry near-duplicate clusters (a few words edited) and
    exact copies, so the dedup operators have real candidate and verified
    pairs; embeddings are 64-d float32 drawn around ten labelled centres."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_docs = (
        1500, 100, 2000, 15_000, 60_000, 10_000, 500,
    )
    _write(
        pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        f"{out_dir}/region.parquet",
    )
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": (rng.uniform(-999.99, 9999.99, n_cust)).round(2),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ),
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": (rng.uniform(-999.99, 9999.99, n_supp)).round(2),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    _write(
        pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{adj[a]} {noun[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": (900 + (np.arange(n_part) % 1000) / 10).round(1),
            }
        ),
        f"{out_dir}/part.parquet",
    )
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": rng.uniform(1000, 500_000, n_ord).round(2),
                "o_orderdate": day0
                + rng.integers(0, 2400, n_ord).astype("timedelta64[D]"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": (qty * rng.uniform(900, 2100, n_line)).round(2),
                "l_discount": (rng.integers(0, 11, n_line) / 100).round(2),
                "l_tax": (rng.integers(0, 9, n_line) / 100).round(2),
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": day0
                + rng.integers(1, 2500, n_line).astype("timedelta64[D]"),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    ev0 = np.datetime64("2024-01-01T00:00:00", "us")
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": ev0
                + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype(
                    "timedelta64[us]"
                ),
                "user_id": _zipf(rng, 150, n_ev, 0.3).astype(np.int64),
                "event_type": rng.choice(
                    ["click", "error", "purchase", "signup", "view"], n_ev
                ),
                "value": (rng.exponential(50, n_ev) + 0.01).round(2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        f"{out_dir}/events.parquet",
    )
    texts = corpus_texts(rng, dup_plan(rng, n_docs))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n_docs, p=[0.45, 0.15, 0.15, 0.15, 0.1])
    _write(
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": langs,
                "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    centres = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_docs)
    vecs = centres[label] + rng.normal(0, 0.6, (n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": pa.array(label.astype(np.int32)),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    return out_dir


def index_vectors(rng: np.random.Generator, plan: list[tuple[str, int]]) -> np.ndarray:
    """Float32 vectors of INDEX_DIM following ``plan``. A near-duplicate
    has cosine above 0.95 to its source. New vectors are random
    directions, redrawn until their cosine to every earlier new vector
    is below 0.3. The index's duplicate threshold is a cosine of 0.45,
    where hyperplane LSH finds a pair with probability 0.956 only, while
    the whole-corpus oracle finds every pair. Keeping every pair far from
    the threshold makes the check test the index's maintenance (ingest,
    erase, serve), not LSH recall."""
    dim = INDEX_DIM
    vecs = np.empty((len(plan), dim))
    new: list[np.ndarray] = []
    for i, (kind, src) in enumerate(plan):
        if kind == "copy":
            vecs[i] = vecs[src]
        elif kind == "near":
            vecs[i] = vecs[src] + rng.normal(0, 0.15 / np.sqrt(dim), dim)
        else:
            while True:
                v = rng.normal(0, 1, dim)
                v /= np.linalg.norm(v)
                if not new or (np.stack(new) @ v).max() < 0.3:
                    break
            new.append(v)
            vecs[i] = v
    return vecs.astype(np.float32)


def write_index_stream(out_dir: str, seed: int) -> dict:
    """One parquet drop of N_INDEX_DOCS documents (``doc_id, text``; near-dup
    clusters, exact copies at Zipf popularity, 5% too short to shingle)
    and one of as many embeddings (``vec_id, embedding``). One file per
    drop, so an ``availableNow`` stream applies each in one micro-batch."""
    rng = np.random.default_rng(seed)
    n_docs = N_INDEX_DOCS
    docs, vecs = os.path.join(out_dir, "docs"), os.path.join(out_dir, "vecs")
    os.makedirs(docs)
    os.makedirs(vecs)
    ids = np.arange(n_docs, dtype=np.int64)
    plan = dup_plan(rng, n_docs)
    texts = corpus_texts(rng, plan, short=0.05)
    _write(
        pd.DataFrame({"doc_id": ids, "text": texts}),
        os.path.join(docs, "part-000.parquet"),
    )
    _write(
        pa.table(
            {
                "vec_id": pa.array(ids),
                "embedding": pa.array(list(index_vectors(rng, plan)), type=pa.list_(pa.float32())),
            }
        ),
        os.path.join(vecs, "part-000.parquet"),
    )
    return {
        "docs": docs,
        "vecs": vecs,
        "n": n_docs,
        "avg_words": sum(len(t.split()) for t in texts) / n_docs,
        # exact copies of an earlier document: erasing one leaves its group alive
        "copy_ids": [i for i, (kind, _) in enumerate(plan) if kind == "copy"],
    }
