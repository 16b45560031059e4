"""Output checks: every result the benchmark times is compared with an
independent DuckDB computation over the same generated inputs.

Values are compared as order-insensitive multisets of rows; floats are
compared to 12 significant digits, dates and timestamps as ISO strings.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else float(f"{v:.12g}")
    if hasattr(v, "tolist") and not isinstance(v, str):  # numpy values
        return _canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rows_of(records) -> list[tuple]:
    """Canonical sorted rows of Spark Rows, DuckDB tuples or a pandas
    frame's ``itertuples``."""
    return sorted((tuple(_canon(x) for x in r) for r in records), key=repr)


def diff(name: str, got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal, else a one-line description of the mismatch."""
    if got == want:
        return None
    g, w = Counter(got), Counter(want)
    extra, missing = list((g - w).elements())[:2], list((w - g).elements())[:2]
    return f"{name}: {len(got)} rows vs oracle {len(want)}; extra {extra} missing {missing}"


def replica_oracle(replica_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with the replica tables registered under their TESTDATA.md names."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{replica_dir}/{t}.parquet')"
        )
    return con


def index_oracle(docs_dir: str, vecs_dir: str, erased: list[int]) -> duckdb.DuckDBPyConnection:
    """DuckDB with the index workload's drops registered as ``documents``
    and ``embeddings``, the erased ids left out."""
    con = duckdb.connect()
    ids = ", ".join(str(i) for i in erased)
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet') "
        f"WHERE doc_id NOT IN ({ids})"
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{vecs_dir}/*.parquet') "
        f"WHERE vec_id NOT IN ({ids})"
    )
    return con


def pandas_rows(frame) -> list[tuple]:
    """Rows of a pandas frame with columns in name order (the oracles'
    column order may differ from Spark's; names match by contract)."""
    cols = sorted(frame.columns)
    return rows_of(frame[cols].itertuples(index=False, name=None))


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    """Oracle rows with columns in name order, as Python values (a pandas
    fetch would turn DATE into timestamps)."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=names.__getitem__)
    return rows_of(tuple(r[i] for i in order) for r in cur.fetchall())


# ---------------------------------------------------------------- daily ETL
# The golden-pipeline SQL shape, with Spark's ordering semantics spelled
# out: ASC sorts NULLs first, the popularity DESC tie-break NULLs last.
_ENRICHED = """
CREATE TABLE enriched AS
SELECT CAST(ts AS DATE) AS date, CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hour,
       s.user_id, s.track_id, g.track_name, g.artists, g.track_genre,
       g.duration_ms, g.popularity
FROM (SELECT TRY_CAST(user_id AS BIGINT) AS user_id, track_id,
             TRY_CAST(listen_time AS TIMESTAMP) AS ts
      FROM read_csv({streams}, header=true, all_varchar=true)) s
LEFT JOIN read_csv('{songs}/*.csv', header=true,
                   columns={{{song_types}}}) g
  ON s.track_id = g.track_id
"""

_SONG_TYPES = {
    "id": "BIGINT", "track_id": "VARCHAR", "artists": "VARCHAR",
    "album_name": "VARCHAR", "track_name": "VARCHAR", "popularity": "INTEGER",
    "duration_ms": "BIGINT", "explicit": "BOOLEAN", "danceability": "DOUBLE",
    "energy": "DOUBLE", "song_key": "INTEGER", "loudness": "DOUBLE",
    "mode": "INTEGER", "speechiness": "DOUBLE", "acousticness": "DOUBLE",
    "instrumentalness": "DOUBLE", "liveness": "DOUBLE", "valence": "DOUBLE",
    "tempo": "DOUBLE", "time_signature": "INTEGER", "track_genre": "VARCHAR",
}

GENRE_SQL = """
WITH base AS (SELECT * FROM enriched WHERE date IS NOT NULL AND track_genre IS NOT NULL),
agg AS (SELECT date, track_genre, COUNT(track_id) AS listen_count,
               AVG(duration_ms) AS avg_duration_ms, AVG(popularity) AS popularity_index
        FROM base GROUP BY date, track_genre),
top AS (SELECT date, track_genre, track_name, popularity FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY date, track_genre
            ORDER BY popularity DESC NULLS LAST, track_name ASC NULLS FIRST,
                     track_id ASC NULLS FIRST) AS rn FROM base) WHERE rn = 1)
SELECT a.date, a.track_genre, listen_count, avg_duration_ms, popularity_index,
       t.track_name AS most_popular_track,
       CAST(t.popularity AS DOUBLE) AS most_popular_track_popularity
FROM agg a JOIN top t USING (date, track_genre)
"""

HOURLY_SQL = """
WITH base AS (SELECT * FROM enriched WHERE date IS NOT NULL),
h AS (SELECT date, hour, COUNT(DISTINCT user_id) AS unique_listeners,
             COUNT(track_id) AS tp, COUNT(DISTINCT track_id) AS ut
      FROM base GROUP BY date, hour),
plays AS (SELECT date, hour, artists, COUNT(track_id) AS pc FROM base
          WHERE artists IS NOT NULL GROUP BY date, hour, artists),
top AS (SELECT date, hour, artists FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY date, hour
            ORDER BY pc DESC, artists ASC) AS rn FROM plays) WHERE rn = 1)
SELECT h.date, h.hour, unique_listeners, t.artists AS top_artist,
       CAST(ut AS DOUBLE) / tp AS track_diversity_index
FROM h LEFT JOIN top t USING (date, hour)
"""


class DailyOracle:
    """Expected warehouse contents and validation-query answers for the
    generated drops, computed once per run."""

    def __init__(self, songs_dir: str, drop_dirs: list[str]):
        self.con = duckdb.connect()
        streams = "[" + ", ".join(f"'{d}/*.csv'" for d in drop_dirs) + "]"
        song_types = ", ".join(f"'{k}': '{v}'" for k, v in _SONG_TYPES.items())
        self.con.execute(
            _ENRICHED.format(streams=streams, songs=songs_dir, song_types=song_types)
        )
        self.con.execute(f"CREATE TABLE genre_kpis AS {GENRE_SQL}")
        self.con.execute(f"CREATE TABLE hourly_kpis AS {HOURLY_SQL}")
        self.genre = self._rows("SELECT * FROM genre_kpis")
        self.hourly = self._rows("SELECT * FROM hourly_kpis")

    def _rows(self, sql: str) -> list[tuple]:
        return rows_of(self.con.execute(sql).fetchall())

    def answer(self, body: str) -> list[tuple]:
        return self._rows(body)

    def check_warehouse(self, warehouse: str) -> dict[str, str]:
        """Compare the written warehouse (read back by DuckDB) with the
        expected tables, partition by partition: ``{date: mismatch}``."""
        bad = {}
        for t, cols, want in (
            ("genre_kpis", "date, track_genre, listen_count, avg_duration_ms, popularity_index, "
                           "most_popular_track, most_popular_track_popularity", self.genre),
            ("hourly_kpis", "date, hour, unique_listeners, top_artist, track_diversity_index",
             self.hourly),
        ):
            got = rows_of(self.con.execute(
                f"SELECT {cols} FROM read_parquet('{warehouse}/{t}/*/*.parquet', "
                "hive_partitioning = true)"
            ).fetchall())
            for date in sorted({r[0] for r in got + want}):
                err = diff(t, [r for r in got if r[0] == date], [r for r in want if r[0] == date])
                if err:
                    bad.setdefault(date, err)
        return bad
