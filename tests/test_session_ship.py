"""Package shipping to executor Python workers (session._ship_package).

An external driver may embed ``__spark_entry__`` from any cwd; executor
Python workers then cannot import ``spotify_app_etl_spark`` unless the
package is shipped via ``sc.addPyFile`` (cloudpickle serializes
module-level functions by reference). These tests pin the zip layout
and the once-per-application guard; the end-to-end proof is the driver
simulation (.claude/skills/verify), which runs every UDF-bearing query
from a hostile session with cwd=/tmp.
"""

from __future__ import annotations

import tempfile
import zipfile
from pathlib import Path

import pytest

from spotify_app_etl_spark import session as S


def _zip_path(spark) -> Path:
    app = spark.sparkContext.applicationId
    return Path(tempfile.gettempdir()) / f"spark_graft_pkg_{app}.zip"


def test_ship_package_zip_contains_full_package(spark):
    S._ship_package(spark)
    zpath = _zip_path(spark)
    assert zpath.exists()
    names = set(zipfile.ZipFile(zpath).namelist())
    # importable as a package, with every subpackage the UDF kernels use
    for required in (
        "spotify_app_etl_spark/__init__.py",
        "spotify_app_etl_spark/sources/rest.py",
        "spotify_app_etl_spark/sources/spotify_mock.py",
        "spotify_app_etl_spark/functions/multimodal.py",
        "spotify_app_etl_spark/operators/dedup.py",
        "spotify_app_etl_spark/schemas.py",
    ):
        assert required in names


def test_ship_package_registered_with_spark(spark):
    S._ship_package(spark)
    # Spark tracks python includes; our zip must be among them so every
    # subsequently launched task prepends it to the worker sys.path.
    includes = set(spark.sparkContext._python_includes)
    assert any("spark_graft_pkg_" in inc for inc in includes)


def test_ship_package_once_per_application(spark):
    S._ship_package(spark)
    app = spark.sparkContext.applicationId
    assert app in S._SHIPPED
    before = _zip_path(spark).stat().st_mtime_ns
    S._ship_package(spark)  # second call: no rebuild, no re-register error
    assert _zip_path(spark).stat().st_mtime_ns == before


def test_ship_package_raises_when_spark_refuses_the_zip(spark, monkeypatch):
    """Only filesystem failures are forgiven: a refusal by Spark itself
    must not leave the executors silently without the package."""

    def refuse(path):
        raise RuntimeError(f"addPyFile refused {path}")

    S._ship_package(spark)
    monkeypatch.setattr(S, "_SHIPPED", set())
    monkeypatch.setattr(spark.sparkContext, "addPyFile", refuse)
    with pytest.raises(RuntimeError, match="refused"):
        S._ship_package(spark)


# ---------------------------------------------------------------------------
# Session set-up happens once, at the boundary where a session comes in.
# ---------------------------------------------------------------------------

_AQE = "spark.sql.adaptive.enabled"


def test_engine_calls_keep_a_callers_conf_override(spark, sf_dir):
    """Readers and ETL steps take the session as configured: inside
    ``adaptive_off`` they must not turn AQE back on."""
    from spotify_app_etl_spark import etl
    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators.checkpoint import adaptive_off

    with adaptive_off(spark):
        load_table(spark, sf_dir, "events")
        assert spark.conf.get(_AQE) == "false"
        etl.extract_followed_artists(
            spark, [{"id": "a1", "name": "x", "genres": ["pop"]}]
        )
        assert spark.conf.get(_AQE) == "false"
    assert spark.conf.get(_AQE) == "true"


def test_driver_boundary_configures_an_outside_session(spark, sf_dir):
    """An external driver hands in its own session (here: non-UTC, none
    of the engine's confs); ``entry`` and every ``queries()`` callable
    configure it before running."""
    import __spark_entry__ as se

    s = spark.newSession()
    tz = "spark.sql.session.timeZone"
    for run in (
        lambda: se.entry(s),
        lambda: se.queries()["q01_pricing_summary"](s, sf_dir),
    ):
        s.conf.set(tz, "America/New_York")
        assert run().count() > 0
        assert s.conf.get(tz) == "UTC"
    assert int(
        s.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    ) == 32 * s.sparkContext.defaultParallelism
