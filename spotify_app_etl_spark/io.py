"""Readers and writers.

Readers: typed Parquet loaders for the driver testdata. Each table is
opened with an explicit read schema built from ``schemas.TESTDATA`` and
the file's own parquet footer (see :func:`load_table`), so building a
plan or opening the inputs launches no Spark job. They take a session
already configured by :func:`session.configure_session` — done once
where the session comes in (``registry.queries()``,
``__spark_entry__.entry``, :func:`session.get_spark`) — and never
re-apply the confs themselves.

Writers: Parquet/CSV/JSON and the JDBC snapshot-replace sink that
mirrors the reference's load stage (spotify-etl.py:209-215,
``to_sql(..., if_exists='replace')``), plus the explicit ``stringify``
compatibility mode replacing the reference's ``df.astype(str)`` type
erasure (spotify-etl.py:211; SURVEY.md §1.4).

Driver-held tables: :func:`local_table`, the one way values held on the
driver (centroids, codebooks, offsets, a merge list, a JSON page)
become a table.

Commit protocol: the one owner of every persisted sketch and index —
the count-min sketch and the sign-LSH, IVF, PQ and MinHash indexes. A
writer opens the generation it writes with :func:`open_write` and
commits it with :meth:`Generation.commit`; a reader opens the live one
with :func:`open_read`. Each reads the latest commit record once and
refuses a caller whose pinned parameters (hash family, cell count,
codebook shape, sketch geometry, vector dim) differ from the stored
ones, so a batch or query never mixes with a structure built otherwise.

- **Rebuild = new generation** under ``{path}/gen=N/``, then a record
  naming N. A failure before the record leaves the previous, consistent
  generation live (never new buckets beside old vectors, or new
  codebooks beside old codes); a retry rewrites the same N.
- **Append = into the live generation**, then a record naming it
  again; rows a failed append leaves are duplicates the searches and
  the dedup absorb.
- **Merge = new generation written whole from the live one** (the
  sketch).
- **Retention**: a commit deletes the generations before the previous
  one and all records but the last two (:func:`write_commit`).

Records are numbered JSON files under ``{path}/_commits/``, written by
the driver under a temporary name and renamed into place.

Scale notes: loads are plain ``spark.read.parquet`` scans — Catalyst
handles predicate pushdown / column pruning / partition pruning, so at
100 TB the same loader works as long as callers filter and select
declaratively. The events conversion is a per-row projection (no
shuffle).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from spotify_app_etl_spark import schemas

TESTDATA_TABLES = tuple(schemas.TESTDATA)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table as a typed DataFrame.

    The read schema is the columns the file's footer holds, in footer
    order, each with the type ``schemas.TESTDATA[name]`` declares. The
    footer is read on the driver with pyarrow (well under a millisecond
    for a local file), and ``spark.read.schema(...)`` skips Spark's
    schema inference, which would otherwise launch one footer-reading
    job per call. Drift still fails loudly:

    - a footer column the table does not declare raises ``ValueError``
      here, naming the file and the column;
    - a declared column the file lacks is absent from the frame (never
      an all-NULL column), so a query naming it fails at analysis;
    - a stored type that cannot be read as the declared one (int64
      where int32 is declared) fails at the first action.

    ``events.ts`` always comes back as ``timestamp_ntz`` — the
    naive-local semantics DuckDB gives it, keeping oracle comparisons
    exact — whichever way the footer stores it:

    - TIMESTAMP(MICROS or MILLIS, not UTC-adjusted), as the driver
      testdata stores it, reads as TIMESTAMP_NTZ directly;
    - a UTC-adjusted TIMESTAMP, or Spark's default INT96, also reads as
      TIMESTAMP_NTZ directly: Spark takes its UTC wall clock, what a
      cast to NTZ gives in the configured UTC session;
    - TIMESTAMP(NANOS), as pandas writes it, has no Spark type; under
      ``spark.sql.legacy.parquet.nanosAsLong`` (set by
      ``configure_session``) it is read as epoch-nanosecond longs and
      converted to NTZ at microsecond precision.

    ``sf_dir`` is a local directory; ``{name}.parquet`` in it is a file
    or a directory of part files, whose first part's footer is read.
    """
    path = f"{sf_dir}/{name}.parquet"
    footer = pq.read_metadata(_first_part(path)).schema
    declared = {f.name: f for f in schemas.TESTDATA[name].fields}
    nanos_ts = name == "events" and _stored_as_nanos(footer, "ts")
    if nanos_ts:
        declared["ts"] = T.StructField("ts", T.LongType())
    fields = []
    for col in footer.to_arrow_schema().names:
        if col not in declared:
            raise ValueError(
                f"{path}: column {col!r} is not declared for table {name!r} "
                "in spotify_app_etl_spark.schemas"
            )
        fields.append(declared[col])
    df = spark.read.schema(T.StructType(fields)).parquet(path)
    if nanos_ts:
        # integer division: epoch-nanos exceed double's 2^53 exact
        # range, so a float divide would corrupt the microsecond digit
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def _first_part(path: str) -> str:
    """``path`` itself, or the first data file of a part-file directory."""
    if not os.path.isdir(path):
        return path
    parts = sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    if not parts:
        raise FileNotFoundError(f"{path}: no parquet part files")
    return os.path.join(path, parts[0])


def _stored_as_nanos(footer, col: str) -> bool:
    """Whether the footer stores ``col`` as TIMESTAMP(NANOS)."""
    for i in range(len(footer)):
        if footer.column(i).path == col:
            logical = json.loads(footer.column(i).logical_type.to_json())
            return logical.get("timeUnit") == "nanoseconds"
    return False


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in (names or TESTDATA_TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register testdata tables as temp views for the SQL API."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Driver-held tables
# ---------------------------------------------------------------------------


def local_table(spark: SparkSession, columns: dict[str, list], schema: str) -> DataFrame:
    """``columns`` (column name -> its list of values, one entry per
    column of ``schema``) as a table of ``schema``.

    The values reach the JVM as one Arrow table, so the result plans as
    a ``LocalRelation`` at any size, empty included. No Python worker
    runs, unlike a list of tuples, which plans as an RDD scan with a
    Python stage. No literal expression per value reaches Catalyst,
    unlike a ``spark.range(1)`` explode of literal structs, whose
    analysis time grows with its literal count.

    ``schema`` is a DDL string such as ``"cell int not null, center
    array<double>"``. It fixes each column's type and nullability; a
    value that does not fit its column's type, or a NULL in a ``not
    null`` column, raises.
    """
    struct = T.StructType.fromDDL(schema)
    table = pa.table(columns, schema=to_arrow_schema(struct))
    for field in struct.fields:
        if not field.nullable and table.column(field.name).null_count:
            raise ValueError(f"local_table: NULL in not-null column {field.name!r}")
    return spark.createDataFrame(table, struct)


# ---------------------------------------------------------------------------
# Writers
# ---------------------------------------------------------------------------


def stringify(df: DataFrame) -> DataFrame:
    """Compatibility mode for the reference's all-text load.

    The reference casts every column of every table to string before the
    database write (spotify-etl.py:211 ``df.astype(str)``), mapping
    ``None → 'None'``/``NaN → 'nan'`` and booleans to ``'True'/'False'``.
    We reproduce the *stringly-typed table* intent without the null
    corruption: Spark casts keep SQL NULL as NULL, and booleans render
    lowercase; divergence documented per SURVEY.md §1.4 (bug, not ported).
    """
    return df.select([F.col(c).cast("string").alias(c) for c in df.columns])


# ---------------------------------------------------------------------------
# Commit protocol: the one commit point of the count-min sketch and the
# sign-LSH, IVF, PQ and MinHash indexes
# ---------------------------------------------------------------------------

#: Writer modes; see :func:`open_write`.
_WRITE_MODES = ("overwrite", "append", "merge")


@dataclass(frozen=True)
class Generation:
    """The generation a writer opened with :func:`open_write`: ``record``
    is the latest commit record (None when there is none), ``mode`` how
    the writer writes its files ("overwrite" into a new generation,
    "append" into the live one), ``pins`` what the commit records."""

    spark: SparkSession
    path: str
    gen: int
    record: dict | None
    mode: str
    pins: dict

    @property
    def dir(self) -> str:
        return generation_dir(self.path, self.gen)

    @property
    def live_dir(self) -> str | None:
        return None if self.record is None else generation_dir(self.path, self.record["gen"])

    def commit(self, **fields) -> int:
        """Commit this generation with its pins and ``fields``."""
        return write_commit(self.spark, self.path, self.gen, **self.pins, **fields)


def open_write(
    spark: SparkSession, path: str, kind: str, mode: str, *,
    dim: int | None = None, create: bool = True, **pins,
) -> Generation:
    """Open the generation a writer of the ``kind`` (``"PQ index"``) at
    ``path`` writes. ``mode``:

    - ``'overwrite'``: the next generation; nothing is compared.
    - ``'append'``: the live generation. ``pins`` and ``dim`` must equal
      the record's, else ``refusing to append`` raises. With no record,
      generation 1 when ``create`` (an index holding no trained state),
      else ``no {kind} at {path} to append to`` raises.
    - ``'merge'``: the next generation, compared like an append.

    Any other mode raises, so a typo (``'Append'``) cannot rebuild the
    live index from one batch. ``dim`` (None: not recorded) is an
    embedding index's vector dimension; 0, no valid vector, matches any,
    and a write onto the live record keeps its dim.
    """
    if mode not in _WRITE_MODES:
        raise ValueError(f"mode must be one of {_WRITE_MODES}, got {mode!r}")
    record = read_commit(spark, path)
    if record is not None and mode != "overwrite":
        _check_pins(record, path, kind, mode, dim, pins)
        if dim is not None:
            dim = dim or record["dim"]
    elif record is None and mode == "append" and not create:
        raise ValueError(f"no {kind} at {path} to append to")
    if dim is not None:
        pins["dim"] = dim
    if record is not None and mode == "append":
        return Generation(spark, path, record["gen"], record, "append", pins)
    gen = record["gen"] + 1 if record is not None else 1
    return Generation(spark, path, gen, record, "overwrite", pins)


def open_read(
    spark: SparkSession, path: str, kind: str, action: str, *,
    dim: int = 0, missing_ok: bool = False, **pins,
) -> tuple[str | None, dict | None]:
    """The live generation of the ``kind`` at ``path``: its directory and
    commit record, read on the driver (no Spark job). ``pins`` and ``dim``
    are compared as by :func:`open_write` (``refusing to {action}``).
    With no record, ``no {kind} at {path}`` raises, or ``(None, None)``
    returns when ``missing_ok`` (absence means empty)."""
    record = read_commit(spark, path)
    if record is None:
        if missing_ok:
            return None, None
        raise ValueError(f"no {kind} at {path}")
    _check_pins(record, path, kind, action, dim, pins)
    return generation_dir(path, record["gen"]), record


def _check_pins(record: dict, path: str, kind: str, action: str, dim, pins: dict) -> None:
    """Raise when ``pins`` or a nonzero ``dim`` differ from ``record``."""
    given = {k: v for k, v in pins.items() if record.get(k) != v}
    if dim and record.get("dim") and record["dim"] != dim:
        given["dim"] = dim
    if given:
        stored = " ".join(f"{k}={record.get(k)}" for k in given)
        asked = " ".join(f"{k}={v}" for k, v in given.items())
        raise ValueError(
            f"{kind} at {path} stores {stored}; refusing to {action} with {asked}"
        )


#: A committed record's file name under ``{path}/_commits/``; anything
#: else there (a temporary name, a checksum file) is not a commit.
_COMMIT_NAME = re.compile(r"(\d{20})\.json")

#: A generation directory's name under ``{path}``.
_GEN_NAME = re.compile(r"gen=(\d+)")


def generation_dir(path: str, gen: int) -> str:
    """Where generation ``gen`` of the sketch or index at ``path`` lives."""
    return f"{path.rstrip('/')}/gen={gen}"


def write_commit(spark: SparkSession, path: str, gen: int, **record: int | None) -> int:
    """Commit ``record`` naming generation ``gen`` as the next commit
    record of ``path``; returns its number.

    The record is a small JSON file written by the driver through the
    Hadoop ``FileSystem`` API, so committing runs no Spark job and works
    on any scheme the session's Hadoop conf reaches. It is written in
    full under a temporary name in ``{path}/_commits/`` and then renamed
    to the next number in sequence, never over an existing record:
    readers see the whole record or none of it, and a commit that fails
    at any point leaves the previous record the latest. One writer per
    ``path`` at a time; a second writer that races to the same number
    fails loudly instead of replacing the first one's record.

    Once the record is in place, what it supersedes is deleted: every
    generation directory below ``gen - 1`` and every record but the
    last two. Generation ``gen - 1`` stays for a reader that opened it
    before this commit, so a path holds at most two generations; a
    commit that names ``gen`` again (an append) deletes no generation.
    """
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs, cdir = _commit_dir(spark, path)
    seqs = _record_seqs(fs, cdir)
    seq = max(seqs, default=0) + 1
    tmp = hpath(cdir, f"_{seq:020d}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(json.dumps({"gen": gen, **record}, sort_keys=True).encode())
    finally:
        out.close()
    _publish(fs, tmp, hpath(cdir, f"{seq:020d}.json"))
    for old in seqs:
        if old < seq - 1:
            fs.delete(hpath(cdir, f"{old:020d}.json"), False)
    for status in fs.listStatus(cdir.getParent()):
        m = _GEN_NAME.fullmatch(status.getPath().getName())
        if m and int(m[1]) < gen - 1:
            fs.delete(status.getPath(), True)
    return seq


def _publish(fs, tmp, final) -> None:
    """Rename the written record ``tmp`` to ``final``, which must not exist.

    The existence check comes first because a local rename replaces an
    existing file, and a Hadoop rename reports most failures by
    returning false rather than raising.
    """
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise OSError(
            f"commit record {final.toString()} exists or cannot be renamed into place"
        )


def read_commit(spark: SparkSession, path: str) -> dict | None:
    """The latest commit record of ``path``, or None when it has none.

    Reads the highest-numbered record under ``{path}/_commits/`` on the
    driver (no Spark job). Only the absence of any record maps to None:
    any other failure (IO, permissions, a corrupt record) raises, since
    a writer that took it for a missing structure would start over at
    generation 1 and silently drop what was committed.
    """
    fs, cdir = _commit_dir(spark, path)
    seq = max(_record_seqs(fs, cdir), default=0)
    if seq == 0:
        return None
    stream = fs.open(spark._jvm.org.apache.hadoop.fs.Path(cdir, f"{seq:020d}.json"))
    try:
        data = spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
    finally:
        stream.close()
    return json.loads(data)


def _commit_dir(spark: SparkSession, path: str):
    """The FileSystem and Hadoop path of ``{path}/_commits``."""
    cdir = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_commits")
    return cdir.getFileSystem(spark._jsc.hadoopConfiguration()), cdir


def _record_seqs(fs, cdir) -> list[int]:
    """The record numbers in ``cdir``, none when it does not exist.

    One driver-side listing; retention keeps it at two entries.
    """
    if not fs.exists(cdir):
        return []
    names = (status.getPath().getName() for status in fs.listStatus(cdir))
    return [int(m[1]) for m in map(_COMMIT_NAME.fullmatch, names) if m]


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (parquet): pre-shuffles data into
    ``num_buckets`` files by hash of ``bucket_cols``.

    The co-location contract: joining/aggregating two tables bucketed
    the same way on the join key needs NO exchange at read time — at
    100 TB this converts every repeated fact-to-fact join from a full
    shuffle into a local zip of bucket files (verified by plan
    inspection in tests/test_io.py). ``sort_cols`` additionally
    pre-sorts within buckets (sort-merge join without the sort).
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    out_path: str | None = None,
) -> int:
    """Compact a small-files parquet dataset into ~``target_file_bytes``
    files; returns the output file count.

    The 100 TB hygiene op: streaming sinks, per-partition writers, and
    incremental loads leave thousands of KB-sized files whose open/seek
    overhead dominates scan time and whose listing crushes the driver.
    Sizing uses the dataset's actual on-disk bytes (sum of part-file
    sizes — no data scan), then one round-robin repartition write.
    Compaction into a SEPARATE path (default ``path + '.compact'``) and
    an atomic swap by the caller is the crash-safe pattern; compacting
    in place would lose data on a mid-write failure.

    Partitioned layouts: this writes an UNPARTITIONED result (partition
    directory columns become plain data columns). Compact a partitioned
    dataset per partition directory — at scale that is also the only
    way to bound the job (compact the N most-fragmented partitions,
    not the whole table).

    Sizing goes through the Hadoop FileSystem API, so ``path`` may be
    any scheme the session's Hadoop conf can reach (``s3a://``,
    ``hdfs://``, ``abfs://``, local) — an ``os.walk`` would silently
    compute 0 bytes for object-store paths, exactly the setting this op
    targets.
    """
    _reject_streaming_sink(spark, path)
    total = _dataset_bytes(spark, path, suffix=".parquet")
    if total == 0:
        # Nothing to compact (e.g. a sink that has only written
        # _SUCCESS so far) — reading it would fail schema inference.
        return 0
    n_files = max(1, -(-total // target_file_bytes))  # ceil, >= 1
    dest = out_path or path.rstrip("/") + ".compact"
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(dest)
    return _dataset_file_count(spark, dest, suffix=".parquet")


def _reject_streaming_sink(spark: SparkSession, path: str) -> None:
    """Refuse to compact a Structured Streaming file-sink dataset.

    A file sink tracks its committed files in ``_spark_metadata``;
    readers of the root resolve files through that log. Rewriting or
    swapping part files behind it would make every logged file dangle
    (FileNotFoundException, or silent partition loss under
    ignoreMissingFiles) and would resurrect aborted-task orphans the
    log had excluded. Such tables must be compacted through a
    log-aware mechanism (a table format with atomic commits, or by
    rewriting to a NEW root and repointing readers), so this is a
    loud error, not a best-effort proceed.
    """
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    meta = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_spark_metadata")
    if meta.getFileSystem(hconf).exists(meta):
        raise ValueError(
            f"{path} is a streaming file-sink table (_spark_metadata "
            "present); compacting behind its commit log would corrupt "
            "reads — use a log-aware rewrite instead"
        )


def _hadoop_list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive (path, size) listing via the Hadoop FileSystem API —
    scheme-agnostic (local, hdfs://, s3a://, ...), no data scan."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)  # recursive
    while it.hasNext():
        status = it.next()
        out.append((status.getPath().toString(), status.getLen()))
    return out


def _dataset_bytes(spark: SparkSession, path: str, suffix: str = "") -> int:
    return sum(
        size for p, size in _hadoop_list_files(spark, path) if p.endswith(suffix)
    )


def _dataset_file_count(spark: SparkSession, path: str, suffix: str = "") -> int:
    return sum(1 for p, _ in _hadoop_list_files(spark, path) if p.endswith(suffix))


def compact_partitioned(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_partitions: int = 10,
    min_files_to_compact: int = 4,
) -> dict[str, int]:
    """Compact the most-fragmented partition directories of a
    hive-partitioned parquet dataset; returns {partition dir: new file
    count} for the partitions rewritten.

    The bounded form of :func:`compact_parquet` for partitioned
    layouts: list partition directories via the Hadoop FileSystem API
    (scheme-agnostic), rank by fragment count, and rewrite only the
    ``max_partitions`` worst offenders with at least
    ``min_files_to_compact`` files — at 100 TB compacting the whole
    table in one job is neither possible nor useful; the hot recent
    partitions are where streaming/incremental writers shed small
    files. Each partition is staged fully into a HIDDEN sibling
    (``.<dir>.compact`` — dot-prefixed paths are invisible to
    Spark/Hadoop partition discovery, so a crashed STAGING write never
    leaks half-written data into reads), then swapped by
    delete+rename.

    Swap semantics, honestly stated: the swap itself is NOT atomic for
    readers. Between the two renames the partition is briefly absent
    (a concurrent aggregate silently misses it), and on object stores
    (s3a) rename is a per-file copy, so a crash mid-rename can leave a
    partial live partition there. Run it when the partition has no
    concurrent readers (the hot-partition compaction it targets runs
    in the ingest pipeline's own maintenance step), or on a table
    format with atomic commits. No bytes are ever lost on a
    directory-atomic-rename filesystem (HDFS/local): the live dir is
    never deleted in place — it is RENAMED aside to a hidden
    ``.<dir>.trash`` (one metadata op, no partial-delete window), the
    complete staging copy is renamed in, and only then is the trash
    dropped. Every crash window therefore leaves either a complete
    live dir, or a complete staging copy (promoted on the next
    invocation), or a complete trash copy (restored on the next
    invocation).
    """
    from collections import defaultdict

    jvm0 = spark.sparkContext._jvm
    hconf0 = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm0.org.apache.hadoop.fs.Path
    # Qualify the base through the target FileSystem so it carries the
    # SAME scheme://authority form `fs.listFiles` statuses do — relative
    # paths then strip cleanly by prefix. String-splitting on the raw
    # caller path breaks whenever qualification differs ("/tmp/t" vs
    # "file:/tmp/t", "hdfs://nn/p" vs "hdfs://nn:8020/p"), and any
    # `"//" → "/"` cleanup would destroy the URI authority
    # ("s3a://bucket" → "s3a:/bucket") — so all path construction below
    # goes through Hadoop Path objects, never string surgery.
    fs0 = hpath(path).getFileSystem(hconf0)
    base_p = fs0.makeQualified(hpath(path))
    base = base_p.toString().rstrip("/")

    def rename_or_raise(src, dst) -> None:
        # Hadoop FileSystem.rename reports most failures (dst exists,
        # src missing, cross-checksum, quota) by returning FALSE, not
        # throwing. A silently failed rename(live, trash) would make the
        # next rename(staging, live) move the staging dir INTO the
        # still-existing live dir (Hadoop rename-into-existing-dir
        # semantics), leaving a nested .compact copy that inflates file
        # counts and is never cleaned up — so every swap/recovery rename
        # must abort loudly on false.
        if not fs0.rename(src, dst):
            raise OSError(f"Hadoop rename failed: {src} -> {dst}")

    # Crash recovery BEFORE rescanning. The swap below is
    # staging-write → rename(live, .trash) → rename(.compact, live) →
    # delete(.trash); a crash in any window leaves hidden dirs that
    # resolve unambiguously:
    #   live missing + .compact present → died between the renames:
    #     promote the complete staging copy;
    #   live missing + only .trash present → staging promote somehow
    #     failed to start: restore the untouched original;
    #   live present + .trash present → died before the trash cleanup:
    #     the promote completed, drop the stale copy;
    #   live present + .compact present → died before the swap began:
    #     the staging copy may be partial — drop it, live is intact.
    _reject_streaming_sink(spark, base)
    listing = _hadoop_list_files(spark, base)
    hidden: dict[str, set[str]] = {}
    for fpath, _ in listing:
        rel = fpath.split(base + "/", 1)[-1]
        for seg_idx, seg in enumerate(rel.split("/")):
            if seg.startswith(".") and (
                seg.endswith(".compact") or seg.endswith(".trash")
            ):
                hidden.setdefault("/".join(rel.split("/")[: seg_idx + 1]), set())
                break
    for hidden_rel in sorted(hidden):
        hid_p = hpath(base_p, hidden_rel)
        if not fs0.exists(hid_p):  # already handled via a sibling entry
            continue
        seg = hid_p.getName()
        suffix = ".compact" if seg.endswith(".compact") else ".trash"
        live_p = hpath(hid_p.getParent(), seg[1 : -len(suffix)])
        if fs0.exists(live_p):
            fs0.delete(hid_p, True)  # live intact → hidden copy is stale
        elif suffix == ".compact":
            rename_or_raise(hid_p, live_p)  # complete staging → promote
            trash_p = hpath(hid_p.getParent(), seg[: -len(".compact")] + ".trash")
            if fs0.exists(trash_p):
                fs0.delete(trash_p, True)
        else:
            rename_or_raise(hid_p, live_p)  # no staging → restore the original

    # Re-list only if recovery actually moved directories around; the
    # common no-crash path reuses the one listing already taken (the
    # docstring's own point: recursive listing is the expensive
    # driver-side step on a millions-of-files table — don't pay it
    # twice for nothing).
    if hidden:
        listing = _hadoop_list_files(spark, base)
    frag: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for fpath, size in listing:
        if not fpath.endswith(".parquet"):
            continue
        rel = fpath.split(base + "/", 1)[-1]
        if "/" not in rel:
            continue  # unpartitioned stray file at the root
        part_dir = rel.rsplit("/", 1)[0]
        if any(seg.startswith(".") for seg in part_dir.split("/")):
            continue  # leftover staging from a crash AFTER rename raced
        frag[part_dir].append((fpath, size))

    worst = sorted(frag.items(), key=lambda kv: -len(kv[1]))[:max_partitions]
    done: dict[str, int] = {}
    for part_dir, files in worst:
        if len(files) < min_files_to_compact:
            continue
        src_p = hpath(base_p, part_dir)
        staging_p = hpath(src_p.getParent(), f".{src_p.getName()}.compact")
        trash_p = hpath(src_p.getParent(), f".{src_p.getName()}.trash")
        total = sum(sz for _, sz in files)
        n_files = max(1, -(-total // target_file_bytes))
        spark.read.parquet(src_p.toString()).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(staging_p.toString())
        # Swap via two directory renames, never an in-place delete: a
        # partial recursive delete has no recovery marker, while a
        # rename is one metadata op on HDFS/local and every crash
        # window here leaves a complete copy under a recoverable name
        # (see the recovery block above).
        if fs0.exists(trash_p):
            fs0.delete(trash_p, True)  # stale from a pre-cleanup crash
        rename_or_raise(src_p, trash_p)
        rename_or_raise(staging_p, src_p)
        fs0.delete(trash_p, True)
        done[part_dir] = _dataset_file_count(
            spark, src_p.toString(), suffix=".parquet"
        )
    return done


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    stringify_compat: bool = False,
    truncate: bool = False,
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC snapshot sink — replace semantics like the reference's
    ``to_sql(name, engine, if_exists='replace')`` (spotify-etl.py:211).

    ``mode='overwrite'`` drops+recreates; ``truncate=True`` keeps the DDL
    (softer variant). Typed columns map to proper SQL types via Spark's
    JDBC dialect instead of all-text (§1.4); pass
    ``stringify_compat=True`` for reference-shaped all-text output.
    """
    if stringify_compat:
        df = stringify(df)
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    if truncate:
        writer = writer.option("truncate", "true")
    for key, value in (properties or {}).items():
        writer = writer.option(key, value)
    writer.mode(mode).save()


def morton_key(a, b, bits: int = 16):
    """Interleave the low ``bits`` of two non-negative int columns into
    a Z-order (Morton) key — bit i of ``a`` lands at position 2i, bit i
    of ``b`` at 2i+1. Pure codegen expression (2·bits shifts + ors).

    Sorting by this key gives multi-dimensional clustering: a range
    predicate on EITHER column maps to a bounded set of Z-curve
    segments, so parquet row-group min/max statistics prune on both
    columns at once — single-column sorting only ever skips on its one
    sort column. Callers pre-scale BOTH values onto the full
    [0, 2^bits) range (min-max scale, ntile rank, or quantile bucket
    at scale): equal per-dimension resolution is what makes the
    interleaved bits alternate meaningfully — a 4-bit-wide dimension
    under a 10-bit-wide one would only vary within fine Z segments.
    """
    # bits > 31 silently corrupts the key rather than failing: long
    # shiftleft wraps its shift amount mod 64, so position 2·32+1 = 65
    # becomes 1 and high bits of b land on low-bit positions; at
    # exactly 32, position 63 is the long sign bit and signed range
    # partitioning splits the curve at the wrap. Fail loudly instead.
    if not 1 <= bits <= 31:
        raise ValueError(f"morton_key: bits must be in [1, 31], got {bits}")
    # Cast to long BEFORE shifting: shiftleft on an IntegerType column
    # wraps at bit 31 — with the default bits=16, any int-typed b with
    # bit 15 set evaluates shiftleft(<int>1, 31) = INT_MIN, whose sign
    # bit then extends through the OR into the long key and sends half
    # of a properly-scaled domain into one degenerate sort tail
    # (silently destroying the per-file rectangle clustering).
    a = (F.col(a) if isinstance(a, str) else a).cast("long")
    b = (F.col(b) if isinstance(b, str) else b).cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet Z-ordered on two integer columns.

    ``repartitionByRange`` on the Morton key splits the Z-curve into
    ``n_files`` contiguous segments (one range shuffle), and the
    within-partition sort keeps row groups tight — so each output
    file covers a small rectangle of the (a, b) space, and filters on
    either column skip most files via footer min/max stats (asserted
    in tests/test_layout.py).
    """
    keyed = df.withColumn("__z", morton_key(col_a, col_b, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
