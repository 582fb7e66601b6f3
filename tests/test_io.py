"""io: stringify compat mode, parquet writer (plain + partitioned),
typed loaders, driver-held local tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_app_etl_spark import io, schemas
from spotify_app_etl_spark.io import load_table

SF = "/root/testdata/sf0.001"


def test_stringify_types_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 1.5, True, None), (2, None, False, "x")],
        "i long, d double, b boolean, s string",
    )
    out = io.stringify(df)
    assert all(t == "string" for _, t in out.dtypes)
    rows = {r.i: r for r in out.collect()}
    # SQL NULL stays NULL (the reference's astype(str) writes 'None'/'nan'
    # — documented divergence, SURVEY.md §1.4)
    assert rows["2"].d is None and rows["1"].s is None
    assert rows["1"].d == "1.5" and rows["1"].b == "true"


@pytest.mark.parametrize("n", [0, 3])
def test_local_table_is_a_typed_local_relation(spark, n):
    """local_table plans as a LocalRelation with the declared types and
    nullability, empty or not, and keeps its values exactly."""
    df = io.local_table(
        spark,
        {
            "cell": list(range(n)),
            "center": [[i / 3, -0.0] for i in range(n)],
            "tag": [None] * n,
        },
        "cell int not null, center array<double> not null, tag string",
    )
    assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    # a fresh projection reads the schema back from the JVM's plan
    assert [
        (f.name, f.dataType.simpleString(), f.nullable) for f in df.select("*").schema
    ] == [
        ("cell", "int", False),
        ("center", "array<double>", False),
        ("tag", "string", True),
    ]
    assert [tuple(r) for r in df.collect()] == [
        (i, [i / 3, -0.0], None) for i in range(n)
    ]


def test_local_table_rejects_null_in_not_null_column(spark):
    with pytest.raises(ValueError, match="not-null column 'cell'"):
        io.local_table(spark, {"cell": [1, None]}, "cell int not null")


def test_write_parquet_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF, "nation")
    io.write_parquet(nation, str(tmp_path / "n"))
    back = spark.read.parquet(str(tmp_path / "n"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_write_parquet_partitioned_prunes(spark, tmp_path):
    orders = load_table(spark, SF, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    io.write_parquet(orders, str(tmp_path / "o"), partition_by=["o_year"])
    back = spark.read.parquet(str(tmp_path / "o")).filter(F.col("o_year") == 1996)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the 1996 filter must land in PartitionFilters,
    # not a post-scan Filter
    assert "PartitionFilters: [" in plan and "o_year" in plan.split("PartitionFilters:")[1][:200]
    expected = orders.filter(F.col("o_year") == 1996).count()
    assert back.count() == expected > 0


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key must join without a shuffle
    (no Exchange above either scan)."""
    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    io.write_bucketed(orders, "t_orders_b", ["o_orderkey"], num_buckets=8)
    io.write_bucketed(li, "t_lineitem_b", ["o_orderkey"], num_buckets=8)
    joined = spark.table("t_orders_b").join(spark.table("t_lineitem_b"), "o_orderkey")
    # disable broadcast so the co-location actually decides the plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def _derby_url(tmp_path, name: str) -> str:
    # Embedded Derby ships with Spark (jars/derby*.jar) — a real JDBC
    # endpoint with no external service, exercising the same
    # dialect/DDL/insert path a Postgres sink would use.
    return f"jdbc:derby:{tmp_path}/{name};create=true"


DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def test_write_jdbc_overwrite_roundtrip(spark, tmp_path):
    """Snapshot-replace semantics of the reference load stage
    (spotify-etl.py:209-215): two overwrites → table holds exactly the
    second snapshot, with typed columns preserved through SQL types."""
    url = _derby_url(tmp_path, "db1")
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    first = orders.limit(50)
    io.write_jdbc(first, url, "snap", properties=DERBY_PROPS)
    second = orders.filter(F.col("o_orderkey") % 2 == 0).limit(80)
    io.write_jdbc(second, url, "snap", properties=DERBY_PROPS)
    back = spark.read.jdbc(url, "snap", properties=DERBY_PROPS)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, second.collect()))
    assert dict(back.dtypes)["o_totalprice"] == "double"
    assert dict(back.dtypes)["o_orderdate"] == "timestamp"


def test_write_jdbc_truncate_keeps_ddl(spark, tmp_path):
    """truncate=True reuses the existing table DDL instead of
    drop+recreate — verified by the second write succeeding against the
    first write's schema and replacing its rows."""
    url = _derby_url(tmp_path, "db2")
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    io.write_jdbc(nation, url, "snap", properties=DERBY_PROPS)
    io.write_jdbc(
        nation.filter(F.col("n_nationkey") < 5), url, "snap",
        truncate=True, properties=DERBY_PROPS,
    )
    back = spark.read.jdbc(url, "snap", properties=DERBY_PROPS)
    assert back.count() == 5


def test_write_jdbc_stringify_compat(spark, tmp_path):
    """Reference-shaped all-text load (astype(str) intent, §1.4): every
    column lands as a SQL text type and reads back as string."""
    url = _derby_url(tmp_path, "db3")
    nation = load_table(spark, SF, "nation")
    io.write_jdbc(nation, url, "snap", stringify_compat=True, properties=DERBY_PROPS)
    back = spark.read.jdbc(url, "snap", properties=DERBY_PROPS)
    assert all(t == "string" for _, t in back.dtypes)
    got = {r.n_nationkey: r.n_name for r in back.collect()}
    want = {str(r.n_nationkey): r.n_name for r in nation.collect()}
    assert got == want


def test_loaders_match_declared_schemas(spark):
    for name, schema in schemas.TESTDATA.items():
        df = load_table(spark, SF, name)
        declared = {f.name: f.dataType.simpleString() for f in schema.fields}
        actual = dict(df.dtypes)
        assert actual == declared, f"{name}: {actual} != {declared}"


def test_testdata_footers_match_declared_schemas(spark):
    """Every testdata table at every scale stores exactly the field names
    and Spark types ``schemas.py`` declares, read straight from the
    parquet footer (no loader conversion): drift fails here instead of
    being silently cast downstream."""
    from pathlib import Path

    sf_dirs = sorted(Path(SF).parent.glob("sf*"))
    assert sf_dirs
    for sf_dir in sf_dirs:
        for name, schema in schemas.TESTDATA.items():
            stored = spark.read.parquet(str(sf_dir / f"{name}.parquet")).schema
            got = [(f.name, f.dataType) for f in stored.fields]
            want = [(f.name, f.dataType) for f in schema.fields]
            assert got == want, f"{sf_dir.name}/{name}: {got} != {want}"


def test_loading_every_testdata_table_runs_no_spark_job(spark):
    """Opening the inputs launches no Spark job: every table at every
    scale is read with its declared schema (no footer-inference job)
    and comes back with the declared types."""
    from pathlib import Path

    sc = spark.sparkContext
    group = "test_io_load_table_zero_jobs"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        for sf_dir in sorted(Path(SF).parent.glob("sf*")):
            for name, schema in schemas.TESTDATA.items():
                df = load_table(spark, str(sf_dir), name)
                declared = {f.name: f.dataType.simpleString() for f in schema.fields}
                assert dict(df.dtypes) == declared, f"{sf_dir.name}/{name}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _write_nation(path, **columns):
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = {
        "n_nationkey": pa.array([0, 1, 2], pa.int32()),
        "n_name": pa.array(["ALGERIA", "ARGENTINA", "BRAZIL"]),
        "n_regionkey": pa.array([0, 1, 1], pa.int32()),
    }
    base.update(columns)
    pq.write_table(pa.table({k: v for k, v in base.items() if v is not None}),
                   str(path / "nation.parquet"))


def test_undeclared_column_fails_at_load(spark, tmp_path):
    import pyarrow as pa

    _write_nation(tmp_path, n_comment=pa.array(["a", "b", "c"]))
    with pytest.raises(ValueError, match=r"nation\.parquet.*'n_comment'"):
        load_table(spark, str(tmp_path), "nation")


def test_incompatible_stored_type_fails_at_first_action(spark, tmp_path):
    import pyarrow as pa

    _write_nation(tmp_path, n_nationkey=pa.array([0, 1, 2], pa.int64()))
    df = load_table(spark, str(tmp_path), "nation")  # plan only: no job
    assert dict(df.dtypes)["n_nationkey"] == "int"
    with pytest.raises(Exception, match="n_nationkey"):
        df.collect()


def test_missing_declared_column_is_absent_not_null(spark, tmp_path):
    from pyspark.errors import AnalysisException

    _write_nation(tmp_path, n_name=None)
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_regionkey"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, 0), (1, 1), (2, 1)]
    with pytest.raises(AnalysisException):
        df.select("n_name")


# 2024-03-01 12:34:56.789123 is ~1.7e18 epoch nanoseconds, far past 2^53,
# where a float divide would corrupt the microsecond digit.
_TS = ["2024-03-01 12:34:56.789123", "1999-12-31 23:59:59.000001", "2001-02-03 04:05:06"]


@pytest.mark.parametrize(
    "encoding", ["micros", "nanos_pandas", "utc_adjusted", "int96_spark"]
)
def test_events_ts_encodings_read_as_ntz(spark, tmp_path, encoding):
    """Each stored encoding of ``events.ts`` reads back as
    ``timestamp_ntz`` holding the written wall-clock values at
    microsecond precision (``int96_spark``: a part-file directory
    written by Spark's default timestamp writer)."""
    import datetime as dt
    import json
    from pathlib import Path

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    want = [dt.datetime.fromisoformat(s) for s in _TS]
    assert all(int(pd.Timestamp(w).value) > 2**53 for w in want)
    path = str(tmp_path / "events.parquet")
    if encoding == "nanos_pandas":
        # one extra nanosecond digit, dropped by the microsecond floor
        ts = pd.to_datetime(want) + pd.to_timedelta(456, unit="ns")
        pd.DataFrame({"event_id": range(len(_TS)), "ts": ts}).to_parquet(path, index=False)
    elif encoding == "int96_spark":
        spark.createDataFrame(
            list(enumerate(want)), "event_id long, ts timestamp"
        ).coalesce(1).write.parquet(path)
    else:
        tz = "UTC" if encoding == "utc_adjusted" else None
        pq.write_table(pa.table({
            "event_id": pa.array(range(len(_TS)), pa.int64()),
            "ts": pa.array(want, pa.timestamp("us", tz=tz)),
        }), path)
    footer = pq.read_metadata(next(Path(path).glob("*.parquet"), path))
    ts_col = footer.schema.column(1)
    stored = json.loads(ts_col.logical_type.to_json())
    assert (ts_col.physical_type, stored.get("timeUnit"), stored.get("isAdjustedToUTC")) == {
        "micros": ("INT64", "microseconds", False),
        "nanos_pandas": ("INT64", "nanoseconds", False),
        "utc_adjusted": ("INT64", "microseconds", True),
        "int96_spark": ("INT96", None, None),
    }[encoding]

    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes) == {"event_id": "bigint", "ts": "timestamp_ntz"}
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got == want


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """200 tiny files -> sized file count; rows and values survive."""
    src = str(tmp_path / "small_files")
    df = load_table(spark, SF, "orders")
    n_rows = df.count()
    df.repartition(200).write.mode("overwrite").parquet(src)
    import os

    n_before = sum(
        1 for _, _, fs in os.walk(src) for f in fs if f.endswith(".parquet")
    )
    assert n_before > 50, f"fixture produced only {n_before} files"
    n_after = io.compact_parquet(spark, src, target_file_bytes=64 * 1024 * 1024)
    assert n_after < 10
    back = spark.read.parquet(src + ".compact")
    assert back.count() == n_rows
    assert {r.o_orderkey for r in back.select("o_orderkey").collect()} == {
        r.o_orderkey for r in df.select("o_orderkey").collect()
    }


def test_compact_refuses_streaming_sink_and_noops_on_empty(spark, tmp_path):
    """compact_* must fail loudly on a streaming file-sink table (its
    _spark_metadata commit log would dangle after a swap) and return 0
    for a dataset with no data files instead of crashing on schema
    inference."""
    import pytest

    from spotify_app_etl_spark.io import compact_parquet, compact_partitioned

    # empty dataset (no parquet files at all) -> no-op, not a crash
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    assert compact_parquet(spark, str(empty)) == 0

    # streaming-sink marker -> loud refusal on both entry points
    sink = tmp_path / "sink"
    (sink / "_spark_metadata").mkdir(parents=True)
    spark.range(10).write.mode("append").parquet(str(sink))
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_parquet(spark, str(sink))
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_partitioned(spark, str(sink))
