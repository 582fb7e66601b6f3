"""ETL-parity queries: the reference's end-to-end dataflow, verified.

Each query runs the full connector path — mock REST transport → page
cursor-follow → from_json flatten → union/distinct → batched lookup —
and returns one of the six reference tables (or the enriched join).
Because the mock API (sources/spotify_mock.py) is a pure function of
the testdata parquet, DuckDB can compute the expected output directly
from the same tables: if the hashes match, the entire connector +
flatten + enrich machinery is correct end-to-end. The JSON round-trip,
pagination, 429-retry and batching all cancel out — any bug in them
breaks the hash.

Keep the arithmetic here in sync with sources/spotify_mock.py.

Determinism: double "feature" values are k/1000.0 divisions of the
same integers on both engines (bit-identical, no rounding needed);
aggregates of them go through DECIMAL sums (plans/common.py rationale).
``ingest_date`` (reference :264-266) is excluded from oracle outputs —
current_timestamp() is inherently nondeterministic; the pipeline stamps
it only outside these checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from spotify_app_etl_spark import etl
from spotify_app_etl_spark.registry import query

#: SQL fragment: numeric part of a 'tr_<n>' track id.
_N = "CAST(replace(id, 'tr_', '') AS BIGINT)"


def _tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The six tables as ``etl_load`` lands them, on the mock transport."""
    return etl.run_pipeline(spark, sf_dir, ingest_date=False)


@query(
    "etl_playlists",
    note="A1 paginated scan + A5 from_json flatten of the playlists endpoint",
    oracle="""
SELECT 'pl_' || o_orderkey AS id,
       'https://api.example.local/playlists/pl_' || o_orderkey AS href,
       'playlist ' || o_orderkey AS name,
       o_orderpriority AS owner,
       o_orderkey % 2 = 0 AS public,
       o_orderkey % 3 = 0 AS collaborative,
       CAST(coalesce(li.cnt, 0) AS INT) AS tracks
FROM orders LEFT JOIN (
  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
) li ON l_orderkey = o_orderkey
WHERE o_orderkey % 10 = 0
""",
    tags=("etl", "connector"),
)
def etl_playlists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables(spark, sf_dir)["playlists"]


@query(
    "etl_playlists_tracks",
    note="distributed per-playlist fan-out (A16) + null-track filter "
    "(A8) + first-artist projection (A6); membership fact table — "
    "duplicates across playlists retained by design (SURVEY §2.9.6)",
    oracle="""
SELECT 'tr_' || l_partkey AS id,
       'track ' || l_partkey AS name,
       'artist_' || l_suppkey AS artist,
       'album_' || (l_partkey % 40) AS album,
       'pl_' || l_orderkey AS playlist_id
FROM lineitem
WHERE l_orderkey % 10 = 0 AND l_linenumber <> 6
""",
    tags=("etl", "connector", "fanout"),
)
def etl_playlists_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables(spark, sf_dir)["playlists_tracks"]


@query(
    "etl_saved_tracks",
    note="A1 scan + ISO-8601 timestamp parse (added_at, :126)",
    oracle="""
SELECT 'tr_' || p_partkey AS id,
       'track ' || p_partkey AS name,
       'artist_' || (p_partkey % 100) AS artist,
       'album_' || (p_partkey % 40) AS album,
       TIMESTAMP '2024-01-01 00:00:00' + (p_partkey % 365) * INTERVAL 1 DAY AS added_at
FROM part WHERE p_partkey % 3 = 0
""",
    tags=("etl", "connector"),
)
def etl_saved_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables(spark, sf_dir)["saved_tracks"]


@query(
    "etl_recent_tracks",
    note="single-page scan (A2) of the event log, explicit ≤50 cap",
    oracle="""
SELECT 'tr_' || (event_id % 200) AS id,
       'track ' || (event_id % 200) AS name,
       'artist_' || (event_id % 37) AS artist,
       'album_' || ((event_id % 200) % 40) AS album,
       CAST(ts AS TIMESTAMP) AS played_at
FROM events ORDER BY ts DESC, event_id DESC LIMIT 50
""",
    tags=("etl", "connector"),
)
def etl_recent_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables(spark, sf_dir)["recent_tracks"]


@query(
    "etl_followed_artists",
    note="A1 scan + nested followers.total flatten + A7 genres "
    "collapse (empty array → '')",
    oracle="""
SELECT 'ar_' || s_suppkey AS id,
       s_name AS name,
       CASE WHEN s_suppkey % 5 = 0 THEN ''
            ELSE 'genre_' || (s_suppkey % 7) || ', genre_' || (s_suppkey % 3)
       END AS genres,
       CAST(s_suppkey % 100 AS INT) AS popularity,
       CAST(s_suppkey * 1000 + 17 AS BIGINT) AS followers
FROM supplier
""",
    tags=("etl", "connector"),
)
def etl_followed_artists(spark: SparkSession, sf_dir: str) -> DataFrame:
    artists = _tables(spark, sf_dir)["followed_artists"]
    # emit the reference-shaped ', '-joined string (A7) for comparison
    return artists.select(
        "id",
        "name",
        F.concat_ws(", ", "genres").alias("genres"),
        "popularity",
        "followers",
    )


@query(
    "etl_audio_features",
    note="union+distinct ids (A11) → ≤100-id batched REST lookup (A3) "
    "via mapInPandas; null-feature ids dropped (A8)",
    oracle=f"""
WITH ids AS (
  SELECT DISTINCT 'tr_' || l_partkey AS id
  FROM lineitem WHERE l_orderkey % 10 = 0 AND l_linenumber <> 6
  UNION
  SELECT DISTINCT 'tr_' || p_partkey FROM part WHERE p_partkey % 3 = 0
)
SELECT id,
       ({_N} * 37 % 1000) / 1000.0 AS danceability,
       ({_N} * 53 % 1000) / 1000.0 AS energy,
       CAST({_N} % 12 AS INT) AS key,
       -(({_N} % 600) / 20.0) AS loudness,
       CAST({_N} % 2 AS INT) AS mode,
       ({_N} * 41 % 1000) / 1000.0 AS speechiness,
       ({_N} * 43 % 1000) / 1000.0 AS acousticness,
       ({_N} * 47 % 1000) / 1000.0 AS instrumentalness,
       ({_N} * 59 % 1000) / 1000.0 AS liveness,
       ({_N} * 61 % 1000) / 1000.0 AS valence,
       60.0 + ({_N} * 7 % 1400) / 10.0 AS tempo,
       'audio_features' AS type,
       'spotify:track:' || id AS uri,
       'https://api.example.local/tracks/' || id AS track_href,
       'https://api.example.local/audio-analysis/' || id AS analysis_url,
       CAST(90000 + {_N} * 91 % 180000 AS INT) AS duration_ms,
       CAST(3 + {_N} % 3 AS INT) AS time_signature
FROM ids WHERE {_N} % 97 <> 0 OR {_N} = 0
""",
    tags=("etl", "connector", "batched-lookup"),
)
def etl_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables(spark, sf_dir)["audio_features"]


@query(
    "etl_playlist_profile",
    note="flagship ETL query: full pipeline + enrich join + rollup — "
    "per-playlist audio profile (decimal-sum determinism for the "
    "double feature aggregates)",
    oracle=f"""
WITH tracks AS (
  SELECT 'tr_' || l_partkey AS id, 'pl_' || l_orderkey AS playlist_id
  FROM lineitem WHERE l_orderkey % 10 = 0 AND l_linenumber <> 6
), feats AS (
  SELECT 'tr_' || n AS id,
         (n * 37 % 1000) / 1000.0 AS danceability,
         60.0 + (n * 7 % 1400) / 10.0 AS tempo
  FROM (SELECT DISTINCT l_partkey AS n
        FROM lineitem WHERE l_orderkey % 10 = 0 AND l_linenumber <> 6)
  WHERE n % 97 <> 0 OR n = 0
)
SELECT t.playlist_id,
       COUNT(*) AS n_tracks,
       CAST(SUM(CAST(f.danceability AS DECIMAL(12,3))) AS DOUBLE) AS sum_danceability,
       CAST(SUM(CAST(f.tempo AS DECIMAL(12,1))) AS DOUBLE) AS sum_tempo
FROM tracks t JOIN feats f ON t.id = f.id
GROUP BY t.playlist_id
""",
    tags=("etl", "join", "agg", "flagship"),
)
def etl_playlist_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = _tables(spark, sf_dir)
    tracks = tables["playlists_tracks"]
    feats = tables["audio_features"]
    return (
        # No forced broadcast: audio_features has track cardinality (same
        # order as the tracks fact side), so the join shuffles on id and
        # AQE broadcasts only if the measured size fits.
        tracks.join(feats.select("id", "danceability", "tempo"), "id")
        .groupBy("playlist_id")
        .agg(
            F.count(F.lit(1)).alias("n_tracks"),
            F.sum(F.col("danceability").cast("decimal(12,3)"))
            .cast("double")
            .alias("sum_danceability"),
            F.sum(F.col("tempo").cast("decimal(12,1)"))
            .cast("double")
            .alias("sum_tempo"),
        )
    )
