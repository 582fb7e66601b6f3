"""Explicit StructType schemas for every table the engine touches.

The reference never declares schemas — its column sets are implicit in
dict-comprehension keys (spotify-etl.py:76-84, :100-106, :121-127,
:169, :179-185, :196-202) and it erases all types at load time with
``df.astype(str)`` (spotify-etl.py:211). This module is the fix: one
typed schema per table, so schema drift fails loudly instead of
silently changing output (SURVEY.md §1.3-1.4). Section A is the read
schema of every testdata load (``io.load_table``); sections B and C
type the ETL's tables and the JSON payloads its ``from_json`` flattens.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# A. Driver testdata tables (/root/testdata/sf*/; FIXTURES.md §B).
#    io.load_table opens each file with these types for the columns its
#    parquet footer holds, so no Spark schema-inference job runs; a footer
#    column not declared here raises ValueError, and
#    tests/test_io.py pins every testdata footer to these schemas.
#    events.ts is stored as parquet TIMESTAMP(MICROS) → TIMESTAMP_NTZ; an
#    events file written through pandas stores TIMESTAMP(NANOS), which
#    io.load_table reads as LongType (see session.RUNTIME_CONFS) and
#    converts to TIMESTAMP_NTZ.
# ---------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        # parquet TIMESTAMP(MILLIS, isAdjustedToUTC=false) → NTZ in Spark
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),  # NTZ, as o_orderdate
    ]
)

#: ``ts`` is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → NTZ, as
#: o_orderdate; io.load_table also reads the UTC-adjusted, INT96 and
#: pandas NANOS encodings as NTZ.
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),  # JSON payload
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

#: name → schema for all driver testdata tables.
TESTDATA: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# ---------------------------------------------------------------------------
# B. Spotify-shaped ETL tables (FIXTURES.md §A). Intended types per
#    SURVEY.md §1.2 — the reference stores all-text (spotify-etl.py:211);
#    we keep typed schemas and expose stringify as an explicit compat mode.
# ---------------------------------------------------------------------------

PLAYLISTS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("href", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("owner", T.StringType()),  # owner.display_name (:80)
        T.StructField("public", T.BooleanType()),
        T.StructField("collaborative", T.BooleanType()),
        T.StructField("tracks", T.IntegerType()),  # tracks.total (:83)
    ]
)

PLAYLISTS_TRACKS = T.StructType(
    [
        T.StructField("id", T.StringType()),  # nullable: null-track items (:106)
        T.StructField("name", T.StringType()),
        T.StructField("artist", T.StringType()),  # artists[0].name (:103)
        T.StructField("album", T.StringType()),
        T.StructField("playlist_id", T.StringType(), False),  # lineage (:105)
    ]
)

SAVED_TRACKS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("album", T.StringType()),
        T.StructField("added_at", T.TimestampType()),  # ISO-8601 (:126)
    ]
)

RECENT_TRACKS = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("album", T.StringType()),
        T.StructField("played_at", T.TimestampType()),  # event time (:184)
    ]
)

FOLLOWED_ARTISTS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType()),
        # Reference collapses to ', '-joined string (:199); we keep the
        # array and derive the string via concat_ws in the pipeline.
        T.StructField("genres", T.ArrayType(T.StringType())),
        T.StructField("popularity", T.IntegerType()),
        T.StructField("followers", T.LongType()),  # followers.total (:201)
    ]
)

AUDIO_FEATURES = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("danceability", T.DoubleType()),
        T.StructField("energy", T.DoubleType()),
        T.StructField("key", T.IntegerType()),
        T.StructField("loudness", T.DoubleType()),
        T.StructField("mode", T.IntegerType()),
        T.StructField("speechiness", T.DoubleType()),
        T.StructField("acousticness", T.DoubleType()),
        T.StructField("instrumentalness", T.DoubleType()),
        T.StructField("liveness", T.DoubleType()),
        T.StructField("valence", T.DoubleType()),
        T.StructField("tempo", T.DoubleType()),
        T.StructField("type", T.StringType()),
        T.StructField("uri", T.StringType()),
        T.StructField("track_href", T.StringType()),
        T.StructField("analysis_url", T.StringType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("time_signature", T.IntegerType()),
    ]
)

SPOTIFY_TABLES: dict[str, T.StructType] = {
    "playlists": PLAYLISTS,
    "playlists_tracks": PLAYLISTS_TRACKS,
    "saved_tracks": SAVED_TRACKS,
    "recent_tracks": RECENT_TRACKS,
    "followed_artists": FOLLOWED_ARTISTS,
    "audio_features": AUDIO_FEATURES,
}

# ---------------------------------------------------------------------------
# C. In-flight nested JSON schemas for the REST connector (sources.rest).
#    These model the Spotify API payload shapes the reference flattens with
#    dict comprehensions (spotify-etl.py:76-84 etc.); the connector uses
#    from_json(payload, schema) + column expressions instead.
# ---------------------------------------------------------------------------

_ARTIST_REF = T.StructType([T.StructField("name", T.StringType())])

_TRACK = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("artists", T.ArrayType(_ARTIST_REF)),
        T.StructField("album", T.StructType([T.StructField("name", T.StringType())])),
    ]
)

#: one item of the ``playlists`` endpoint (etl.ENDPOINTS; flattened at
#: spotify-etl.py:76-84)
PLAYLIST_JSON = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("href", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "owner", T.StructType([T.StructField("display_name", T.StringType())])
        ),
        T.StructField("public", T.BooleanType()),
        T.StructField("collaborative", T.BooleanType()),
        T.StructField("tracks", T.StructType([T.StructField("total", T.IntegerType())])),
    ]
)

#: one item of GET /playlists/{id}/tracks (flattened at :100-106) or of
#: the ``saved`` (:121-127; added_at) or ``recent`` (:179-185) endpoint
TRACK_ITEM_JSON = T.StructType(
    [
        T.StructField("track", _TRACK),
        T.StructField("added_at", T.StringType()),
        T.StructField("played_at", T.StringType()),
    ]
)

#: one item of the ``followed`` endpoint (flattened at :196-202)
ARTIST_JSON = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("genres", T.ArrayType(T.StringType())),
        T.StructField("popularity", T.IntegerType()),
        T.StructField(
            "followers", T.StructType([T.StructField("total", T.LongType())])
        ),
    ]
)
