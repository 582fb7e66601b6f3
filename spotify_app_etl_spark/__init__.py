"""spotify_app_etl_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the data-processing capabilities of the
reference ETL pipeline (Johnsteer/Spotify-App-ETL, surveyed in
/root/repo/SURVEY.md), re-expressed Spark-first:

- explicit typed schemas (``schemas``) instead of inferred pandas frames
  (reference: spotify-etl.py:76-84 builds untyped dict-rows),
- declarative DataFrame plans optimized by Catalyst (``plans``),
- a paginated / rate-limited REST source re-expressed as a connector
  (``sources.rest``; reference: spotify-etl.py:47-75),
- the full ETL dataflow as a composable pipeline (``etl.run_pipeline``),
- LLM-data-pipeline operators designed for 100 TB scale
  (``operators``: dedup, similarity search, text analysis, multimodal),
- Structured Streaming jobs over event data (``streaming``).

Everything here is built on public Apache Spark APIs only.
"""

from spotify_app_etl_spark.session import configure_session, get_spark

__all__ = ["configure_session", "get_spark"]
