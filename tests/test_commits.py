"""Commit records (``io.write_commit`` / ``io.read_commit``) and the
protocol around them (``io.open_write`` / ``io.open_read``): the one
commit point of the persisted count-min sketch and the sign-LSH, IVF,
PQ and MinHash indexes."""

from __future__ import annotations

import functools
import os
import random

import pytest
from pyspark.sql import DataFrame, functions as F

from spotify_app_etl_spark import io
from spotify_app_etl_spark.operators import dedup as DD
from spotify_app_etl_spark.operators import similarity as SM
from spotify_app_etl_spark.operators.cms import (
    _SKETCH_SCHEMA,
    _merge_batch,
    cms_build,
    cms_estimate,
    cms_ingest_batch,
    cms_state_read,
)
from spotify_app_etl_spark.operators.persist import release_cached


def _fail_publish(fs, tmp, final):
    raise OSError("injected commit failure")


def _keys(spark):
    return spark.createDataFrame([("a",), ("b",), ("c",)], "tok string")


def _corpus(spark, rng, ids):
    return spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in ids],
        "corpus_id long, embedding array<double>",
    )


def _docs(spark, sf_dir):
    return io.load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _near_copies(docs, ids):
    """Docs ``ids`` with a word appended, under ids shifted by 10,000."""
    return docs.filter(F.col("doc_id").isin(list(ids))).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )


def _kept_ids(batch, path, **params) -> set[int]:
    kept, _ = DD.minhash_dedup_incremental(batch, path, "text", "doc_id", **params)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    release_cached()
    return ids


def _layout(path) -> tuple[list[str], list[int]]:
    """The generation directories and record numbers ``path`` holds."""
    gens = sorted(n for n in os.listdir(path) if n.startswith("gen="))
    records = sorted(
        int(n[:-5]) for n in os.listdir(os.path.join(path, "_commits"))
        if n.endswith(".json") and not n.startswith(".")
    )
    return gens, records


def _row0_total(spark, path) -> int:
    sketch, _ = cms_state_read(spark, path)
    return sketch.filter("d = 0").agg(F.sum("cnt")).first()[0]


def test_records_are_numbered_and_the_latest_wins(spark, tmp_path):
    path = str(tmp_path / "s")
    assert io.read_commit(spark, path) is None
    assert io.write_commit(spark, path, gen=1, last_batch=None) == 1
    assert io.write_commit(spark, path, gen=1, last_batch=7) == 2
    assert io.read_commit(spark, path) == {"gen": 1, "last_batch": 7}
    visible = sorted(
        n for n in os.listdir(tmp_path / "s" / "_commits") if not n.startswith(".")
    )
    assert visible == [f"{1:020d}.json", f"{2:020d}.json"]


def test_a_stray_temporary_is_not_a_commit(spark, tmp_path):
    path = str(tmp_path / "s")
    io.write_commit(spark, path, gen=1)
    # what a writer that died before its rename leaves behind
    (tmp_path / "s" / "_commits" / f"_{2:020d}.dead.tmp").write_text("{")
    assert io.read_commit(spark, path) == {"gen": 1}
    assert io.write_commit(spark, path, gen=2) == 2
    assert io.read_commit(spark, path) == {"gen": 2}


def test_an_unreadable_record_raises_instead_of_reading_as_none(spark, tmp_path):
    path = str(tmp_path / "s")
    io.write_commit(spark, path, gen=1)
    cdir = tmp_path / "s" / "_commits"
    for crc in cdir.glob(".*.crc"):
        crc.unlink()
    (cdir / f"{1:020d}.json").write_text('{"gen": ')
    with pytest.raises(ValueError):
        io.read_commit(spark, path)


def test_cms_commit_failure_keeps_previous_generation(spark, tmp_path, monkeypatch):
    """A batch whose commit fails after its generation and temporary
    record are written leaves the previous generation live, and its
    retry merges onto it: three batches of three keys sum to 9."""
    path = str(tmp_path / "cms")
    keys = _keys(spark)
    cms_ingest_batch(keys, path, "tok", depth=2, width=64, batch_id=0)
    cms_ingest_batch(keys, path, "tok", depth=2, width=64, batch_id=1)
    with monkeypatch.context() as m:
        m.setattr(io, "_publish", _fail_publish)
        with pytest.raises(OSError, match="injected"):
            cms_ingest_batch(keys, path, "tok", depth=2, width=64, batch_id=2)
    _, record = cms_state_read(spark, path)
    assert (record["gen"], record["last_batch"]) == (2, 1)
    assert _row0_total(spark, path) == 6
    cms_ingest_batch(keys, path, "tok", depth=2, width=64, batch_id=2)
    assert _row0_total(spark, path) == 9


def test_index_commit_failure_keeps_previous_generation(spark, tmp_path, monkeypatch):
    """A sign-LSH rebuild whose commit fails leaves searches on the
    previous generation, and a later append builds on that generation."""
    rng = random.Random(5)

    def corpus(ids):
        return _corpus(spark, rng, ids)

    def self_hits(df):
        queries = df.select(F.col("corpus_id").alias("query_id"), "embedding")
        top = SM.signlsh_index_search(spark, queries, path, k=1)
        return sorted((r.query_id, r.corpus_id) for r in top.collect())

    path = str(tmp_path / "lsh")
    first = corpus(range(40))
    SM.signlsh_index_write(first, path)
    before = self_hits(first)
    assert before == [(i, i) for i in range(40)]
    with monkeypatch.context() as m:
        m.setattr(io, "_publish", _fail_publish)
        with pytest.raises(OSError, match="injected"):
            SM.signlsh_index_write(corpus(range(100, 140)), path)
    assert io.read_commit(spark, path)["gen"] == 1
    assert self_hits(first) == before
    extra = corpus(range(200, 210))
    SM.signlsh_index_write(extra, path, mode="append")
    assert io.read_commit(spark, path)["gen"] == 1
    assert self_hits(first) == before
    assert self_hits(extra) == [(i, i) for i in range(200, 210)]


def test_minhash_commit_failure_keeps_previous_generation(spark, sf_dir, tmp_path, monkeypatch):
    """A MinHash rebuild whose commit fails leaves the previous
    generation live: a dedup against it still drops near-copies of the
    docs it holds. (An overwrite used to delete the live index before
    its job ran.)"""
    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "mh")
    DD.minhash_index_write(docs.filter("doc_id < 100"), "text", "doc_id", path)
    with monkeypatch.context() as m:
        m.setattr(io, "_publish", _fail_publish)
        with pytest.raises(OSError, match="injected"):
            DD.minhash_index_write(
                docs.filter("doc_id >= 200 AND doc_id < 300"), "text", "doc_id", path
            )
    assert io.read_commit(spark, path)["gen"] == 1
    kept = _kept_ids(_near_copies(docs, range(30)), path)
    assert sum(1 for i in range(10_000, 10_030) if i in kept) <= 3


def test_minhash_index_refuses_other_hash_parameters(spark, sf_dir, tmp_path):
    """Appending to the index, or deduping against it, with another
    ``shingle_k`` or ``num_hashes`` raises: signatures from another
    shingling or length never match, so near-copies would be kept."""
    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "mh")
    DD.minhash_index_write(docs.filter("doc_id < 100"), "text", "doc_id", path)
    batch = _near_copies(docs, range(30))
    for params in ({"shingle_k": 5}, {"num_hashes": 32}):
        with pytest.raises(ValueError, match="refusing to append"):
            DD.minhash_index_write(batch, "text", "doc_id", path, mode="append", **params)
        with pytest.raises(ValueError, match="refusing to dedup"):
            _kept_ids(batch, path, **params)
    assert io.read_commit(spark, path)["gen"] == 1
    assert DD.minhash_index_read(spark, path).count() == 100


def test_cms_keeps_two_generations_and_two_records(spark, tmp_path):
    """Each commit deletes what it supersedes except the previous
    generation: after three batches the path holds gen=2, gen=3 and two
    records, and the sketch estimates what a one-shot build does."""
    path = str(tmp_path / "cms")
    batches = [
        spark.createDataFrame(
            [(f"k{i % (b + 3)}",) for i in range(10 * (b + 1))], "tok string"
        )
        for b in range(3)
    ]
    for b, batch in enumerate(batches):
        cms_ingest_batch(batch, path, "tok", depth=2, width=64, batch_id=b)
    assert _layout(path) == (["gen=2", "gen=3"], [2, 3])

    whole = functools.reduce(DataFrame.unionByName, batches)
    keys = whole.distinct()

    def estimates(sketch):
        est = cms_estimate(sketch, keys, "tok", depth=2, width=64)
        return sorted((r.tok, r.est) for r in est.collect())

    sketch, _ = cms_state_read(spark, path)
    assert estimates(sketch) == estimates(cms_build(whole, "tok", depth=2, width=64))


def test_index_rebuild_keeps_two_generations_and_append_deletes_none(spark, sf_dir, tmp_path):
    """The sign-LSH and MinHash indexes keep the same two generations:
    three rebuilds leave gen=2 and gen=3, and an append, which commits
    gen=3 again, deletes no generation and still keeps two records."""
    rng = random.Random(7)
    path = str(tmp_path / "lsh")
    for b in range(3):
        SM.signlsh_index_write(_corpus(spark, rng, range(b * 20, b * 20 + 20)), path)
    assert _layout(path) == (["gen=2", "gen=3"], [2, 3])
    extra = _corpus(spark, rng, range(100, 110))
    SM.signlsh_index_write(extra, path, mode="append")
    assert _layout(path) == (["gen=2", "gen=3"], [3, 4])
    queries = extra.select(F.col("corpus_id").alias("query_id"), "embedding")
    top = SM.signlsh_index_search(spark, queries, path, k=1).collect()
    assert sorted((r.query_id, r.corpus_id) for r in top) == [
        (i, i) for i in range(100, 110)
    ]

    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "mh")
    for b in range(3):
        batch = docs.filter((F.col("doc_id") >= b * 20) & (F.col("doc_id") < b * 20 + 20))
        DD.minhash_index_write(batch, "text", "doc_id", path)
    assert _layout(path) == (["gen=2", "gen=3"], [2, 3])
    _, kept_sig = DD.minhash_dedup_incremental(
        docs.filter("doc_id >= 100 AND doc_id < 110"), path, "text", "doc_id"
    )
    DD.minhash_index_append(kept_sig, path)
    assert _layout(path) == (["gen=2", "gen=3"], [3, 4])
    live = DD.minhash_index_read(spark, path)
    assert live.filter("__id < 100").count() == 20
    assert live.filter("__id >= 100").count() == kept_sig.count()
    release_cached()


def _jobs(spark, group, fn) -> int:
    """Spark jobs ``fn`` runs on this thread, counted through its job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cms_state_read_runs_no_job_and_ingest_only_its_write(spark, tmp_path):
    path = str(tmp_path / "cms")
    keys = _keys(spark)
    cms_ingest_batch(keys, path, "tok", depth=2, width=64, batch_id=0)
    assert _jobs(spark, "test-cms-read", lambda: cms_state_read(spark, path)) == 0

    def write_alone():
        prev = spark.read.schema(_SKETCH_SCHEMA).parquet(f"{path}/gen=1")
        merged = _merge_batch(prev, keys, "tok", 2, 64, None)
        merged.coalesce(1).write.parquet(str(tmp_path / "alone"))

    write = _jobs(spark, "test-cms-write", write_alone)
    ingest = _jobs(
        spark,
        "test-cms-ingest",
        lambda: cms_ingest_batch(keys, path, "tok", depth=2, width=64, batch_id=1),
    )
    assert write > 0
    assert ingest == write


def test_minhash_index_read_runs_no_job(spark, sf_dir, tmp_path):
    """The live signature table opens with the schema its record pins,
    so opening it runs no Spark job (an inferred read runs one)."""
    path = str(tmp_path / "mh")
    DD.minhash_index_write(_docs(spark, sf_dir).filter("doc_id < 20"), "text", "doc_id", path)
    opened = []
    assert _jobs(
        spark, "test-mh-read", lambda: opened.append(DD.minhash_index_read(spark, path))
    ) == 0
    assert opened[0].schema.simpleString() == "struct<__id:bigint,__sig:binary>"
    assert DD.minhash_index_read(spark, str(tmp_path / "none")) is None
