"""Self-consistency and recall checks for the hash-family operators
(MinHash/SimHash/LSH) that have no SQL oracle, plus unit checks for
the text-analysis functions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_app_etl_spark.functions import text as TX
from spotify_app_etl_spark.io import load_table
from spotify_app_etl_spark.operators import dedup as DD
from spotify_app_etl_spark.operators import similarity as SIM
from spotify_app_etl_spark.operators.persist import (
    cache_scope,
    release_cached,
    scoped_persist,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_minhash_recall_vs_exact_jaccard(spark, docs):
    """LSH candidates must recover ≥90% of true Jaccard≥0.8 pairs."""
    exact = {
        (r.id_a, r.id_b)
        for r in DD.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    }
    assert exact, "fixture should contain near-duplicate documents"
    mh = {
        (r.id_a, r.id_b)
        for r in DD.minhash_candidates(docs, "text", "doc_id", threshold=0.5).collect()
    }
    recall = len(exact & mh) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall} over {len(exact)} true pairs"


def test_minhash_dedup_drops_duplicates(spark, docs):
    kept = DD.minhash_dedup(docs, "text", "doc_id", threshold=0.5)
    n_all, n_kept = docs.count(), kept.count()
    assert n_kept < n_all  # fixture has near-dups → something must drop
    # representative (lower id) of each pair survives
    pairs = DD.minhash_candidates(docs, "text", "doc_id", threshold=0.5).collect()
    kept_ids = {r.doc_id for r in kept.collect()}
    for p in pairs:
        assert p.id_b not in kept_ids


def test_ngram_jaccard_on_candidates_matches_standalone(spark, docs):
    """Verify-on-candidates must agree with the standalone exact path on
    every pair the candidate set contains, and verification must prune
    false candidates (est_jaccard >= t but true jaccard < t)."""
    cand = DD.minhash_candidates(docs, "text", "doc_id", threshold=0.5)
    verified = {
        (r.id_a, r.id_b): (r.n_common, r.jaccard)
        for r in DD.ngram_jaccard_on(cand, docs, "text", "doc_id", threshold=0.5).collect()
    }
    standalone = {
        (r.id_a, r.id_b): (r.n_common, r.jaccard)
        for r in DD.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    cand_pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    # identical values wherever both paths computed the pair
    for pair, vals in verified.items():
        assert standalone[pair] == vals, pair
    # verified ⊆ candidates, and exactly the true-jaccard survivors of them
    assert set(verified) == set(standalone) & cand_pairs
    assert verified, "fixture should contain verified near-dup pairs"


def test_ngram_jaccard_prefix_filter_equals_naive(spark):
    """The r09 prefix-filtered AllPairs candidate stage must be
    invisible in the output: compare against a pure-Python naive
    all-pairs reference on a corpus built to stress the filter —
    frequent grams shared by EVERY doc (the quadratic fan-out the
    prefix collapses), near-dups straddling the threshold, duplicate
    grams within a doc (set semantics), and short (< n tokens) texts."""
    import itertools

    base = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = []
    for i in range(30):
        words = list(base)
        words[i % 8] = f"w{i}"  # near-dups of one base sentence
        # every doc shares this filler -> a gram with df = n_docs
        rows.append((i, " ".join(words) + " common filler words here"))
    rows.append((100, "common filler words here common filler words here"))
    rows.append((101, "Tiny doc"))
    rows.append((102, "tiny"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def grams_of(text: str) -> set[str]:
        toks = " ".join(text.split()).lower().strip().split(" ")
        out = set()
        for i in range(max(len(toks) - 2, 1)):
            out.add(" ".join(toks[i : i + 3]))
        return out

    for t in (0.3, 0.5, 0.8):
        expected = {}
        gsets = {i: grams_of(s) for i, s in rows}
        for a, b in itertools.combinations(sorted(gsets), 2):
            inter = len(gsets[a] & gsets[b])
            union = len(gsets[a] | gsets[b])
            if union and inter / union >= t:
                expected[(a, b)] = (inter, round(inter / union, 6))
        assert expected, f"fixture must exercise threshold {t}"
        # both plans — the AllPairs scale path and the naive small-
        # corpus path the auto mode switches between — must match the
        # reference exactly, INCLUDING the schema (auto must not flip
        # n_common between int and bigint across the cutoff)
        schemas = set()
        for pf in (True, False):
            res = DD.ngram_jaccard_pairs(
                df, "text", "doc_id", n=3, threshold=t, prefix_filter=pf
            )
            schemas.add(tuple((f.name, f.dataType.simpleString()) for f in res.schema))
            got = {
                (r.id_a, r.id_b): (r.n_common, r.jaccard)
                for r in res.collect()
            }
            assert got == expected, f"threshold {t}, prefix_filter {pf}"
        assert len(schemas) == 1, schemas


def test_simhash_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "entirely different words about database engines"),
        ],
        "doc_id long, text string",
    )
    sigs = {
        r.doc_id: r.sig
        for r in df.select("doc_id", DD.simhash_signature("text").alias("sig")).collect()
    }
    assert sigs[1] == sigs[2]
    assert bin(sigs[1] ^ sigs[3]).count("1") > 10
    pairs = DD.simhash_candidates(df, "text", "doc_id", max_hamming=3).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_simhash_arrow_equals_sql_impl(spark, docs):
    """The Arrow kernel and the column-expression fold must produce
    identical signatures (same token hashes, same vote rule) — so the
    candidate pair sets must match exactly."""
    a = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_candidates(docs, "text", "doc_id", impl="arrow").collect()
    }
    b = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_candidates(docs, "text", "doc_id", impl="sql").collect()
    }
    assert a == b


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "doc_id long, text string"
    )
    out = {r.representative_id: r.n_copies for r in DD.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 3, 2: 1}


def test_lsh_ann_recall(spark, emb):
    q = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    bf = {(r.query_id, r.corpus_id) for r in SIM.cosine_topk_bruteforce(q, c, k=5).collect()}
    lsh = {
        (r.query_id, r.corpus_id)
        for r in SIM.cosine_topk_lsh(q, c, k=5, planes=8, tables=8).collect()
    }
    recall = len(bf & lsh) / len(bf)
    assert recall >= 0.5, f"ANN recall {recall}"
    # self-match must always be found (query is its own bucket)
    for qid in range(20):
        assert (qid, qid) in lsh


def test_ivf_full_probe_equals_bruteforce(spark, emb):
    """IVF with n_probe == n_cells is exhaustive → must equal brute
    force exactly (same scoring kernel, same tie-breaks)."""
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    bf = sorted(
        (r.query_id, r.corpus_id, r.rank)
        for r in SIM.cosine_topk_bruteforce(q, c, k=5).collect()
    )
    ivf = sorted(
        (r.query_id, r.corpus_id, r.rank)
        for r in SIM.cosine_topk_ivf(q, c, k=5, n_cells=8, n_probe=8).collect()
    )
    assert ivf == bf


def test_ivf_partial_probe_recall(spark, emb):
    q = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    bf = {(r.query_id, r.corpus_id) for r in SIM.cosine_topk_bruteforce(q, c, k=5).collect()}
    ivf = {
        (r.query_id, r.corpus_id)
        for r in SIM.cosine_topk_ivf(q, c, k=5, n_cells=16, n_probe=4).collect()
    }
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.7, f"IVF recall {recall}"
    for qid in range(20):
        assert (qid, qid) in ivf  # query's own cell is always probed


def test_embedding_cosine_lsh_recall(spark, emb):
    """Bucketed pair generation must recover ≥80% of the exact
    cosine≥0.9 pairs, with every surviving pair scored identically to
    the exact kernel (same dot fold, same rounding). The raw fixture
    has no near-dups (i.i.d. vectors), so plant them as the registered
    queries do."""
    from spotify_app_etl_spark.plans.northstar import _emb_with_planted

    corpus = _emb_with_planted(spark, "/root/testdata/sf0.001")
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in DD.embedding_cosine_pairs(corpus, "embedding", "vec_id", threshold=0.9).collect()
    }
    assert exact, "fixture should contain near-duplicate embeddings"
    lsh = {
        (r.id_a, r.id_b): r.cos_sim
        for r in DD.embedding_cosine_pairs_lsh(
            corpus, "embedding", "vec_id", threshold=0.9, planes=8, tables=8
        ).collect()
    }
    hits = exact.keys() & lsh.keys()
    recall = len(hits) / len(exact)
    assert recall >= 0.8, f"LSH pair recall {recall} over {len(exact)} true pairs"
    for k in hits:
        assert lsh[k] == exact[k]  # no false scores: identical kernel
    assert not (lsh.keys() - exact.keys())  # cosine filter → no false positives
    # auto-sized knobs (the registered query's configuration): same
    # recall contract must hold when planes/tables come from the
    # corpus count + threshold instead of hand tuning
    auto = {
        (r.id_a, r.id_b): r.cos_sim
        for r in DD.embedding_cosine_pairs_lsh(
            corpus, "embedding", "vec_id", threshold=0.9, planes="auto", tables="auto"
        ).collect()
    }
    auto_recall = len(exact.keys() & auto.keys()) / len(exact)
    assert auto_recall >= 0.8, f"auto-sized LSH recall {auto_recall}"
    assert not (auto.keys() - exact.keys())
    # exactly one row per (id_a, id_b): a pair seen in several tables
    # rides different BLAS block shapes whose rounded scores can differ
    # by one ulp at a round(,8) boundary, so the merge is by key (max),
    # never a full-row distinct
    rows = DD.embedding_cosine_pairs_lsh(
        corpus, "embedding", "vec_id", threshold=0.9, planes=4, tables=8
    ).collect()
    assert len({(r.id_a, r.id_b) for r in rows}) == len(rows)


def test_lsh_auto_params_scaling():
    """planes grows with the corpus (constant expected bucket
    occupancy), tables restores the recall target, and both clamp."""
    import math

    from spotify_app_etl_spark.operators.dedup import lsh_auto_params

    p09 = 1.0 - math.acos(0.9) / math.pi
    prev_planes = 0
    for n in (100, 10_000, 1_000_000, 100_000_000):
        planes, tables = lsh_auto_params(n, 0.9)
        assert planes >= prev_planes  # monotone in corpus size
        prev_planes = planes
        # the closed form must actually meet the recall target for a
        # pair exactly at the threshold
        assert 1 - (1 - p09**planes) ** tables >= 0.85 or tables == 64
        # expected occupancy stays bounded: n / 2^planes <= target*2
        assert n / (1 << planes) <= 64 or planes == 24
    # clamps: tiny corpus -> floor planes, single table at threshold ~ 1
    assert lsh_auto_params(10, 0.9)[0] == 4
    assert lsh_auto_params(10_000, 0.9999)[1] == 1
    # degenerate threshold never divides by zero / raises
    assert lsh_auto_params(10_000, 1.0)[1] == 1
    # threshold clamped to -1 -> p = 0, no table can ever hit: the
    # honest answer is the table cap, not a ZeroDivisionError
    assert lsh_auto_params(10_000, -1.0) == (lsh_auto_params(10_000, -1.0)[0], 64)
    assert lsh_auto_params(10_000, -5.0)[1] == 64  # clamps below -1 too


def test_bruteforce_self_similarity(spark, emb):
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    top1 = (
        SIM.cosine_topk_bruteforce(q, c, k=1)
        .select("query_id", "corpus_id", "cos_sim")
        .collect()
    )
    for r in top1:
        assert r.query_id == r.corpus_id and abs(r.cos_sim - 1.0) < 1e-6


def test_language_id_obvious_cases(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog are in the house of a king"),
            (2, "el perro y el gato en la casa de los reyes por una noche"),
            (3, "der hund und die katze sind nicht mit dem ein von das haus"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang for r in df.select("doc_id", TX.language_id("text").alias("lang")).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_token_and_quality(spark):
    df = spark.createDataFrame([(1, "  the   quick  brown fox  ")], "id long, text string")
    row = df.select(
        TX.token_count("text").alias("n"),
        TX.quality_score("text").alias("q"),
        TX.fingerprint("text").alias("fp"),
    ).collect()[0]
    assert row.n == 4
    assert 0.0 <= row.q <= 1.0
    # fingerprint deterministic and whitespace-normalization-invariant
    row2 = (
        spark.createDataFrame([(1, "the quick brown fox")], "id long, text string")
        .select(TX.fingerprint("text").alias("fp"))
        .collect()[0]
    )
    assert row.fp == row2.fp


def test_fingerprint_matches_python_fold(spark):
    # the column expression equals the plain Horner fold
    # acc = (acc*31 + code) % m across empty / short / long /
    # repeated-char docs; NULL text -> NULL (0 would collide every
    # NULL doc with every empty doc)
    mod = 2147483647

    def fold(text):
        acc = 0
        for ch in text or "\0":  # split('', '') folds one code-0 char
            acc = (acc * 31 + ord(ch)) % mod
        return acc

    texts = [
        (1, ""),
        (2, "a"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "z" * 5000),
        (5, ("lorem ipsum dolor sit amet " * 200).strip()),
        (6, None),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", TX.fingerprint("text", assume_normalized=True).alias("fp")
        ).collect()
    }
    assert got == {i: (None if t is None else fold(t)) for i, t in texts}


def test_minhash_incremental_dedup_against_index(spark, tmp_path):
    """Production ingest shape: build the signature index on batch 1,
    then dedup batch 2 (novel docs + near-copies of batch-1 docs +
    a within-batch dup pair) against it without re-shingling history."""
    from pyspark.sql import functions as F

    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import dedup as DD

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    batch1 = docs.filter(F.col("doc_id") < 250)
    idx = str(tmp_path / "mh_index")
    DD.minhash_index_write(batch1, "text", "doc_id", idx)

    # batch 2: 50 novel docs, 30 near-copies of batch-1 docs (one word
    # appended — Jaccard stays >> 0.5), and one within-batch dup pair
    novel = docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 300))
    near_copies = (
        batch1.filter(F.col("doc_id") < 30)
        .select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        )
    )
    within_dup = docs.filter(F.col("doc_id") == 299).select(
        (F.col("doc_id") + 20_000).alias("doc_id"), "text"
    )
    batch2 = novel.unionByName(near_copies).unionByName(within_dup)

    kept, kept_sig = DD.minhash_dedup_incremental(
        batch2, idx, "text", "doc_id", threshold=0.5
    )
    DD.minhash_index_append(kept_sig, idx)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    release_cached()

    # near-copies of indexed docs must be dropped (recall >= 90%)
    dropped_copies = sum(1 for i in range(30) if (i + 10_000) not in kept_ids)
    assert dropped_copies >= 27, f"only {dropped_copies}/30 near-copies dropped"
    # the exact within-batch copy of doc 299 must lose to the lower id
    assert 20_299 not in kept_ids and 299 in kept_ids
    # novel docs survive (the corpus has genuine near-dups, so allow a
    # small number of true-positive drops among them)
    assert sum(1 for i in range(250, 300) if i in kept_ids) >= 45
    # index grew by exactly the kept signatures
    n_index = DD.minhash_index_read(spark, idx).count()
    assert n_index == 250 + len(kept_ids)


def test_power_iteration_distributed_equals_local(spark):
    """The distributed per-iteration update must equal the same
    algorithm run locally in numpy (same iterations, same init) —
    distribution must not change the math."""
    import numpy as np

    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.plans.embed_analytics import _power_iteration

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    v, eigvals = _power_iteration(emb, "embedding", iters=6)
    eigval = eigvals[-1]
    # PSD power iteration: the norm estimate is monotone non-decreasing
    assert all(b >= a * (1 - 1e-9) for a, b in zip(eigvals, eigvals[1:]))

    x = np.array(
        [r.embedding for r in emb.select("embedding").collect()], dtype=np.float64
    )
    lv = np.ones(x.shape[1]) / np.sqrt(x.shape[1])
    for _ in range(6):
        w = x.T @ (x @ lv)
        leig = float(np.linalg.norm(w))
        lv = w / leig
    cos = abs(float(np.dot(v, lv)))
    assert cos > 1 - 1e-9, f"distributed diverged from local: cos {cos}"
    assert abs(eigval - leig) / leig < 1e-9


def test_power_iteration_converges_on_spiked_data(spark):
    """With a genuine dominant direction (spiked covariance), a few
    iterations recover numpy's top eigenvector."""
    import numpy as np

    from spotify_app_etl_spark.plans.embed_analytics import _power_iteration

    rng = np.random.RandomState(11)
    spike = rng.standard_normal(16)
    spike /= np.linalg.norm(spike)
    x = rng.standard_normal((400, 16)) + 6.0 * rng.standard_normal((400, 1)) * spike
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], "vec_id long, embedding array<double>"
    )
    v, eigvals = _power_iteration(df, "embedding", iters=12)
    eigval = eigvals[-1]
    w, vecs = np.linalg.eigh(x.T @ x)
    cos = abs(float(np.dot(v, vecs[:, -1])))
    assert cos > 0.999, f"direction cosine {cos}"
    assert abs(eigval - w[-1]) / w[-1] < 0.01


def test_jaccard_verify_composes_with_simhash_candidates(spark):
    """ngram_jaccard_on's contract says ANY (id_a, id_b) candidate
    frame composes — prove it for SimHash candidates, not just MinHash:
    verified output must equal exact Jaccard restricted to the
    candidate set."""
    from pyspark.sql import functions as F

    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import dedup as DD

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    cand = DD.simhash_candidates(docs, "text", "doc_id", max_hamming=8)
    verified = DD.ngram_jaccard_on(cand, docs, "text", "doc_id", n=3, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.5
        ).collect()
    }
    cand_set = {(r.id_a, r.id_b) for r in cand.select("id_a", "id_b").collect()}
    release_cached()
    expected = {p: j for p, j in exact.items() if p in cand_set}
    assert got == expected and len(got) > 0


def test_minhash_incremental_kept_immune_to_index_refresh(spark, tmp_path):
    """Materializing `kept` AFTER the index append — even with the file
    listing forcibly refreshed — must not drop the batch against its
    own just-appended signatures (the drop set is checkpointed before
    the append severs any dependence on the index files)."""
    from pyspark.sql import functions as F

    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import dedup as DD

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "mh_index")
    DD.minhash_index_write(docs.filter(F.col("doc_id") < 100), "text", "doc_id", idx)

    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    kept, kept_sig = DD.minhash_dedup_incremental(
        batch, idx, "text", "doc_id", threshold=0.5
    )
    DD.minhash_index_append(kept_sig, idx)
    # simulate a re-listed parquet file index after the append
    spark.catalog.refreshByPath(idx)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    release_cached()
    # most of the batch is novel vs the index; self-matching would
    # leave ~0 survivors
    assert len(kept_ids) >= 40, len(kept_ids)


def test_fan_out_repartitions_single_file_scans(spark, tmp_path):
    """_fan_out must widen a one-file scan (whole map stage would
    otherwise run in a single task) and leave wide inputs alone."""
    from spotify_app_etl_spark.operators.dedup import _fan_out

    p = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(p)
    one = spark.read.parquet(p)
    assert len(one.inputFiles()) == 1
    widened = _fan_out(one, 8)
    # count partitions without .rdd: sum one row per partition id
    import pyspark.sql.functions as F

    nparts = widened.select(F.spark_partition_id().alias("p")).distinct().count()
    assert nparts == 8

    wide = str(tmp_path / "many_files")
    spark.range(1000).repartition(12).write.parquet(wide)
    many = spark.read.parquet(wide)
    assert len(many.inputFiles()) >= 8
    assert _fan_out(many, 8) is many  # no-op, no shuffle inserted


def test_signlsh_persisted_index_matches_in_memory(spark, tmp_path):
    """Index write → search must return exactly what the in-memory LSH
    top-k returns for the same (planes, tables, seed) family."""
    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import similarity as SM
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "lsh_index")
    SM.signlsh_index_write(corpus, idx)

    got = sorted(
        (r.query_id, r.corpus_id, r.cos_sim, r.rank)
        for r in SM.signlsh_index_search(spark, queries, idx, k=5).collect()
    )
    want = sorted(
        (r.query_id, r.corpus_id, r.cos_sim, r.rank)
        for r in SM.cosine_topk_lsh(queries, corpus, k=5).collect()
    )
    assert got == want and len(got) > 0


def test_signlsh_index_append_and_param_guard(spark, tmp_path):
    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import similarity as SM
    from pyspark.sql import functions as F
    import pytest as _pytest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    batch1 = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    batch2 = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    idx = str(tmp_path / "lsh_index")
    SM.signlsh_index_write(batch1, idx)
    SM.signlsh_index_write(batch2, idx, mode="append")

    # a query vector FROM batch2 must find itself (cos 1.0, rank 1)
    probe_id = batch2.select(F.min("corpus_id")).first()[0]
    queries = emb.filter(F.col("vec_id") == probe_id).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = SM.signlsh_index_search(spark, queries, idx, k=1).collect()
    assert top[0].corpus_id == probe_id and top[0].cos_sim == 1.0

    with _pytest.raises(ValueError, match="refusing to append"):
        SM.signlsh_index_write(batch2, idx, planes=16, mode="append")


def test_ivf_persisted_index_matches_in_memory(spark, tmp_path):
    """Full-probe search over the persisted index must equal brute
    force exactly (the same guarantee the in-memory IVF asserts)."""
    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import similarity as SM
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "ivf_index")
    SM.ivf_index_write(corpus, idx, n_cells=8)

    got = sorted(
        (r.query_id, r.corpus_id, r.cos_sim, r.rank)
        for r in SM.ivf_index_search(spark, queries, idx, k=3, n_probe=8).collect()
    )
    want = sorted(
        (r.query_id, r.corpus_id, r.cos_sim, r.rank)
        for r in SM.cosine_topk_bruteforce(queries, corpus, k=3).collect()
    )
    assert got == want and len(got) > 0


def test_ivf_index_append_assigns_to_existing_cells(spark, tmp_path):
    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import similarity as SM
    from pyspark.sql import functions as F
    import pytest as _pytest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    batch1 = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    batch2 = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    idx = str(tmp_path / "ivf_index")
    SM.ivf_index_write(batch1, idx, n_cells=8)
    SM.ivf_index_write(batch2, idx, n_cells=8, mode="append")

    probe_id = batch2.select(F.min("corpus_id")).first()[0]
    queries = emb.filter(F.col("vec_id") == probe_id).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # full probe: the appended vector must find itself at cos 1.0
    top = SM.ivf_index_search(spark, queries, idx, k=1, n_probe=8).collect()
    assert top[0].corpus_id == probe_id and top[0].cos_sim == 1.0

    with _pytest.raises(ValueError, match="refusing to append"):
        SM.ivf_index_write(batch2, idx, n_cells=4, mode="append")


def test_index_search_absorbs_retried_append_duplicates(spark, tmp_path):
    """A crashed-then-retried append leaves duplicate index rows; both
    searches must still return each corpus_id at most once per query,
    identical to the clean single-append index."""
    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import similarity as SM
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    batch = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 260)).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id").isin(0, 210)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    lsh_clean, lsh_dup = str(tmp_path / "l0"), str(tmp_path / "l1")
    for p in (lsh_clean, lsh_dup):
        SM.signlsh_index_write(corpus, p)
        SM.signlsh_index_write(batch, p, mode="append")
    SM.signlsh_index_write(batch, lsh_dup, mode="append")  # the retry
    key = lambda r: (r.query_id, r.corpus_id, r.cos_sim, r.rank)  # noqa: E731
    got = sorted(map(key, SM.signlsh_index_search(spark, queries, lsh_dup, k=5).collect()))
    want = sorted(map(key, SM.signlsh_index_search(spark, queries, lsh_clean, k=5).collect()))
    assert got == want and len(got) > 0

    ivf_clean, ivf_dup = str(tmp_path / "i0"), str(tmp_path / "i1")
    for p in (ivf_clean, ivf_dup):
        SM.ivf_index_write(corpus, p, n_cells=8)
        SM.ivf_index_write(batch, p, n_cells=8, mode="append")
    SM.ivf_index_write(batch, ivf_dup, n_cells=8, mode="append")  # the retry
    got = sorted(map(key, SM.ivf_index_search(spark, queries, ivf_dup, k=5, n_probe=8).collect()))
    want = sorted(map(key, SM.ivf_index_search(spark, queries, ivf_clean, k=5, n_probe=8).collect()))
    assert got == want and len(got) > 0


def test_index_rebuild_crash_leaves_old_generation_live(spark, tmp_path):
    """A rebuild that dies before the meta commit must be invisible:
    searches keep serving the previous, fully-consistent generation —
    never a mix of new and old tables."""
    from pyspark.sql import functions as F

    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import similarity as SM

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = lambda r: (r.query_id, r.corpus_id, r.cos_sim, r.rank)  # noqa: E731

    lsh = str(tmp_path / "lsh")
    SM.signlsh_index_write(corpus, lsh)
    before = sorted(map(key, SM.signlsh_index_search(spark, queries, lsh, k=5).collect()))
    # simulate a crashed rebuild: gen=2 gets a PARTIAL write (vectors
    # only, from a different corpus) and no meta flip
    other = emb.filter(F.col("vec_id") >= 500).select(
        F.col("vec_id").alias("corpus_id"), "embedding"
    )
    other.select(
        "corpus_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.lit(1.0).alias("norm"),
    ).write.parquet(f"{lsh}/gen=2/vectors")
    after = sorted(map(key, SM.signlsh_index_search(spark, queries, lsh, k=5).collect()))
    assert after == before

    ivf = str(tmp_path / "ivf")
    SM.ivf_index_write(corpus, ivf, n_cells=8)
    before = sorted(
        map(key, SM.ivf_index_search(spark, queries, ivf, k=5, n_probe=8).collect())
    )
    # crashed rebuild: new centroids written under gen=2, no assigned,
    # no meta flip — the exact torn state that used to serve wrong
    # neighbors when centroids lived at a fixed path
    spark.createDataFrame(
        [(i, [0.0] * 8) for i in range(8)], "cell int, center array<double>"
    ).write.parquet(f"{ivf}/gen=2/centroids")
    after = sorted(
        map(key, SM.ivf_index_search(spark, queries, ivf, k=5, n_probe=8).collect())
    )
    assert after == before


def test_minhash_bucket_cap_drops_degenerate_buckets(spark):
    """A planted mass-duplicate document family creates one giant LSH
    bucket per band; with max_bucket_size the O(B^2) self-join never
    sees it, while ordinary near-dup pairs are unaffected."""
    from pyspark.sql import functions as F

    from spotify_app_etl_spark.io import load_table
    from spotify_app_etl_spark.operators import dedup as DD

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 100)
    # 200 exact copies of one boilerplate string -> every band bucket
    # for that text has 200 members
    boiler = spark.range(200).select(
        (F.col("id") + 900_000).alias("doc_id"),
        F.lit("same boilerplate navigation footer text " * 10).alias("text"),
    )
    corpus = docs.unionByName(boiler)

    uncapped = DD.minhash_candidates(corpus, "text", "doc_id", threshold=0.5)
    n_unc = uncapped.count()
    release_cached()
    capped = DD.minhash_candidates(
        corpus, "text", "doc_id", threshold=0.5, max_bucket_size=50
    )
    rows = capped.collect()
    release_cached()

    boiler_pairs = sum(1 for r in rows if r.id_a >= 900_000 and r.id_b >= 900_000)
    assert boiler_pairs == 0  # the degenerate family never enters the join
    # the 200-copy family alone contributes C(200,2)=19900 pairs uncapped
    assert n_unc >= 19_900
    # organic pairs among the real docs are preserved
    organic_unc = {
        (r.id_a, r.id_b)
        for r in uncapped.collect()
        if r.id_a < 900_000 and r.id_b < 900_000
    }
    organic_cap = {
        (r.id_a, r.id_b) for r in rows if r.id_a < 900_000 and r.id_b < 900_000
    }
    assert organic_cap == organic_unc


def test_winnowing_shared_substring_guarantee(spark):
    """Schleimer et al.'s core guarantee: any shared substring of
    length >= k + window - 1 (= 11 here) yields at least one shared
    fingerprint — checked across 30 planted pairs whose only overlap
    is the shared passage."""
    import random

    from spotify_app_etl_spark.functions.text import winnowing_fingerprints

    rng = random.Random(42)
    letters = "abcdefghijklmnopqrstuvwxyz"

    def noise(n):
        return "".join(rng.choice(letters) for _ in range(n))

    rows = []
    for i in range(30):
        shared = noise(rng.randint(11, 40))  # >= k + window - 1
        rows.append((2 * i, f"{noise(60)} {shared} {noise(60)}"))
        rows.append((2 * i + 1, f"{noise(80)} {shared} {noise(30)}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    fps = winnowing_fingerprints(df, "text", "doc_id", k=8, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    for i in range(30):
        assert by_doc[2 * i] & by_doc[2 * i + 1], f"pair {i} shares no fingerprint"


def _winnow_reference(s, k=8, window=4, mod=2147483647):
    """Straight-from-the-paper reference: stepwise-mod polynomial
    hash per char k-gram, then window minima, then the distinct set.
    Deliberately scalar Python — the spec the numpy kernel must match."""
    cps = [ord(ch) for ch in s] or [0]  # split('','') == [''] shape
    grams = []
    for i in range(max(len(cps) - k + 1, 1)):
        acc = 0
        for c in cps[i : i + k]:
            acc = (acc * 31 + c) % mod
        grams.append(acc)
    wins = [
        min(grams[j : j + window])
        for j in range(max(len(grams) - window + 1, 1))
    ]
    return set(wins)


def test_winnowing_kernel_matches_scalar_reference(spark):
    """The r08 Arrow/numpy kernel vs the scalar spec, across the edge
    shapes (empty, shorter-than-k, exactly-k, fewer-grams-than-window)
    and random strings including non-ASCII (UTF-32 codepoint parity —
    ascii()/unicode() conventions must not drift) and text needing
    normalization (the kernel runs AFTER normalized())."""
    import random

    from spotify_app_etl_spark.functions.text import winnowing_fingerprints
    from spotify_app_etl_spark.operators.dedup import normalized as _norm_col

    rng = random.Random(11)
    alphabet = "ab cd\txyz09é漢🎵"
    rows = [(0, ""), (1, "   \t "), (2, "short"), (3, "exactly8"),
            (4, "elevenchars"), (5, "é漢🎵" * 5)]
    rows += [
        (10 + i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnowing_fingerprints(df, "text", "doc_id").collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    # the reference consumes the SAME normalized text the kernel does
    norm = {r.doc_id: r.n for r in df.select("doc_id", _norm_col("text").alias("n")).collect()}
    for did, s in norm.items():
        assert got.get(did, set()) == _winnow_reference(s), (did, repr(s))


def test_empty_text_has_zero_tokens(spark):
    """split('', ' ') yields [''] — the phantom token must not count:
    empty/whitespace-only docs need token_count 0 to be filterable."""
    from spotify_app_etl_spark.functions import text as TX

    df = spark.createDataFrame(
        [("", 1), ("   \t\n ", 2), ("two tokens", 3)], "text string, i int"
    )
    got = {r.i: r.n for r in df.select("i", TX.token_count("text").alias("n")).collect()}
    assert got == {1: 0, 2: 0, 3: 2}


def test_cdc_null_op_is_upsert_not_phantom(spark):
    """A feed row with NULL op is a PRESENT row (upsert), not 'no
    change': previously it produced a phantom all-NULL row for new keys
    and silently dropped updates for existing keys."""
    from spotify_app_etl_spark.operators import cdc

    snap = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    feed = spark.createDataFrame(
        [(2, None, "b2"), (3, None, "c"), (1, "D", None)],
        "k int, op string, v string",
    )
    got = {r.k: r.v for r in cdc.apply_changes(snap, feed, ["k"]).collect()}
    assert got == {2: "b2", 3: "c"}  # 1 deleted, 2 updated, 3 inserted


def test_cache_scope_releases_only_own_entries(spark):
    """cache_scope must unpersist exactly what was registered inside it:
    entries registered outside the scope (another job's pinned tables)
    and on OTHER threads (a concurrent pipeline while the streaming
    foreachBatch callback releases its batch) stay persisted."""
    import threading

    outer = spark.range(10)
    scoped_persist(outer)
    outer.count()

    concurrent: dict[str, object] = {}

    def other_thread_persist() -> None:
        df = spark.range(7)
        scoped_persist(df)
        df.count()
        concurrent["df"] = df

    with cache_scope():
        inner = spark.range(5)
        scoped_persist(inner)
        inner.count()
        worker = threading.Thread(target=other_thread_persist)
        worker.start()
        worker.join()
        assert inner.storageLevel.useMemory

    assert not inner.storageLevel.useMemory  # own entry released
    assert outer.storageLevel.useMemory  # outer job untouched
    assert concurrent["df"].storageLevel.useMemory  # other thread untouched

    release_cached()  # the global janitor still clears everything
    assert not outer.storageLevel.useMemory
    assert not concurrent["df"].storageLevel.useMemory


def test_scoped_checkpoint_registers_and_releases(spark):
    """r11: scoped_checkpoint routes through the same registry as
    scoped_persist, but release must go through the LogicalRDD
    (DataFrame.unpersist is a CacheManager no-op for checkpoints)."""
    from spotify_app_etl_spark.operators.persist import (
        release_cached,
        scoped_checkpoint,
    )

    ck = scoped_checkpoint(spark.range(9))
    assert ck.count() == 9
    rdd = ck._jdf.queryExecution().analyzed().rdd()
    assert rdd.getStorageLevel().useMemory() or rdd.getStorageLevel().useDisk()
    release_cached()
    lvl = rdd.getStorageLevel()
    assert not (lvl.useMemory() or lvl.useDisk())  # storage actually freed


def test_fan_out_sees_through_bin_packing(spark, tmp_path):
    """inputFiles() >= want is NOT sufficient: with openCostInBytes
    tuned to ~0, Spark bin-packs many tiny files into few scan tasks
    and the Arrow kernels would run nearly serially. The packing-aware
    lower bound must force the repartition in that regime."""
    import pyspark.sql.functions as F

    from spotify_app_etl_spark.operators.dedup import _fan_out

    p = str(tmp_path / "tiny_files")
    spark.range(1000).repartition(12).write.parquet(p)
    old = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        tiny = spark.read.parquet(p)
        assert len(tiny.inputFiles()) >= 8
        widened = _fan_out(tiny, 8)
        nparts = widened.select(F.spark_partition_id().alias("p")).distinct().count()
        assert nparts == 8
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old)


def test_lsh_null_embedding_dropped_by_both_impls(spark):
    """A NULL corpus embedding must be DROPPED by the LSH bucket kernel
    (NULL bucket array → out of the bucket equi-join), never hashed
    into bucket 0 of every table where it would surface as a phantom
    NULL-cos_sim neighbor."""
    from spotify_app_etl_spark.operators import similarity as SIM

    rng_rows = [(i, [float((i * 7 + d) % 5) + 0.1 for d in range(8)]) for i in range(30)]
    corpus = spark.createDataFrame(
        rng_rows + [(99, None)], "corpus_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(0, [0.1 + float(d % 5) for d in range(8)])],
        "query_id long, embedding array<double>",
    )
    out = SIM.cosine_topk_lsh(queries, corpus, k=30, planes=2, tables=4).collect()
    assert 99 not in {r["corpus_id"] for r in out}
    assert all(r["cos_sim"] is not None for r in out)


def test_cell_rank_arrow_matches_expression(spark):
    """Above _LITERAL_BUDGET centroid literals _cell_rank switches
    from a Catalyst expression tree to an Arrow kernel (production
    shapes like 4096x768 would put millions of literal nodes through
    analysis). The two paths must produce the SAME ranked cell-id
    array — including the ties-by-cell-id order — or vectors appended
    under one regime land in cells a search under the other never
    probes."""
    import pyspark.sql.functions as F

    from spotify_app_etl_spark.operators import similarity as SIM

    centers = [[float((i * 3 + d) % 7) for d in range(6)] for i in range(9)]
    # duplicate centroid => distance tie that must break by cell id
    centers[5] = list(centers[2])
    vecs = spark.createDataFrame(
        [(i, [float((i + d * 2) % 5) + 0.25 for d in range(6)]) for i in range(40)]
        + [(99, None)],
        "vid long, v array<double>",
    )
    expr_rank = vecs.select(
        "vid", SIM._cell_rank(centers, F.col("v")).alias("r")
    )
    arrow_rank = vecs.select(
        "vid", SIM._cell_rank_arrow(centers)(F.col("v")).alias("r")
    )
    e = {r["vid"]: r["r"] for r in expr_rank.collect()}
    a = {r["vid"]: r["r"] for r in arrow_rank.collect()}
    assert set(e) == set(a)
    for vid in e:
        assert e[vid] == a[vid], (vid, e[vid], a[vid])
    assert a[99] is None  # NULL vector -> NULL ranking on both paths

    # k-bounded variants must be exact prefixes of the full ranking on
    # BOTH paths (the append path consumes k=1, search k=n_probe; on
    # the Arrow path the truncation happens kernel-side to bound the
    # transfer, and must not change what survives).
    for kk in (1, 3):
        ek = {
            r["vid"]: r["r"]
            for r in vecs.select(
                "vid", SIM._cell_rank(centers, F.col("v"), kk).alias("r")
            ).collect()
        }
        ak = {
            r["vid"]: r["r"]
            for r in vecs.select(
                "vid", SIM._cell_rank_arrow(centers, kk)(F.col("v")).alias("r")
            ).collect()
        }
        for vid in e:
            want = None if e[vid] is None else e[vid][:kk]
            assert ek[vid] == want, (kk, vid, ek[vid], want)
            assert ak[vid] == want, (kk, vid, ak[vid], want)


def test_null_text_and_null_vector_rows_survive_dedup_kernels(spark):
    """NULL inputs must degrade like their SQL/expression twins, not
    kill the task: a NULL text row yields a NULL SimHash signature
    (drops out of the null-unsafe band join, same as the sql impl),
    and a NULL embedding is dropped by the exact cosine kernel (same
    convention as the LSH sibling) instead of crashing np.vstack."""
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, None)],
        "doc_id long, text string",
    )
    for impl in ("arrow", "sql"):
        pairs = DD.simhash_candidates(docs, "text", "doc_id", impl=impl).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert got == {(1, 2)}, (impl, got)

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    pairs = DD.embedding_cosine_pairs(
        vecs, "embedding", "vec_id", threshold=0.9
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(1, 2)}, got


def test_index_writers_validate_mode_and_dim(spark, tmp_path):
    """A mode typo must not silently rebuild the live index from one
    batch, and an append/search with a different embedding dimension
    must raise — the hash family / centroid space is per-dim, so a
    mixed-dim index is a silent recall loss, not a compatible mix."""
    import pytest

    corpus = spark.createDataFrame(
        [(i, [float((i * 3 + d) % 7) + 0.5 for d in range(6)]) for i in range(40)],
        "corpus_id long, embedding array<double>",
    )
    other_dim = spark.createDataFrame(
        [(100 + i, [float(i + d) for d in range(9)]) for i in range(10)],
        "corpus_id long, embedding array<double>",
    )
    for writer in (SIM.signlsh_index_write, SIM.ivf_index_write):
        idx = str(tmp_path / writer.__name__)
        with pytest.raises(ValueError, match="mode"):
            writer(corpus, idx, mode="Append")
        writer(corpus, idx)
        with pytest.raises(ValueError, match="dim"):
            writer(other_dim, idx, mode="append")
    q9 = other_dim.withColumnsRenamed({"corpus_id": "query_id"})
    with pytest.raises(ValueError, match="dim"):
        SIM.signlsh_index_search(spark, q9, str(tmp_path / "signlsh_index_write"))
    with pytest.raises(ValueError, match="dim"):
        SIM.ivf_index_search(spark, q9, str(tmp_path / "ivf_index_write"))


def test_element_null_and_nan_vectors_never_hash_to_bucket_zero(spark):
    """A vector CONTAINING a NULL or NaN passes isNotNull() (the array
    itself is non-null) but folds every projection to NULL/NaN — it
    must get a NULL bucket (dropping out of the bucket join), never
    bucket 0 where it would shadow real neighbors."""
    import pyspark.sql.functions as F

    rows = [(1, [1.0, 2.0, 3.0]), (2, [1.0, None, 3.0]),
            (3, [1.0, float("nan"), 3.0]), (4, None)]
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    arrow = df.select("vid", SIM._hyperplane_buckets_arrow(2, 4)(F.col("v")).alias("b"))
    got_a = {r["vid"]: r["b"] for r in arrow.collect()}
    assert got_a[1] is not None
    assert got_a[2] is None and got_a[3] is None and got_a[4] is None

    # IVF tolerates (drops) the same rows instead of crashing KMeans;
    # pad enough valid vectors for the KMeans fit itself
    extra = [(10 + i, [float(i), float(i % 3), 1.0]) for i in range(8)]
    c = spark.createDataFrame(rows + extra, "corpus_id long, v array<double>")
    q = df.filter(F.col("vid") == 1).withColumnsRenamed({"vid": "query_id"})
    out = SIM.cosine_topk_ivf(q, c, k=20, n_cells=2, n_probe=2, vec="v").collect()
    got_ids = {r["corpus_id"] for r in out}
    assert 1 in got_ids and not {2, 3, 4} & got_ids
