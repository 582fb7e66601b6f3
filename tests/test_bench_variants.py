"""Rider-free bench variants must stay consistent with the driver path.

Every registry entry with a ``bench_fn`` (the ``verify=False`` arm that
perfbench times and hash-checks, ``perfbench/run.py``) must keep
producing the SAME operator output rows as the proof-laden ``fn`` the
driver hashes — the variants exist to drop verification cost, never to
change what the operator computes. A drift between the two arms
(someone edits the verify path but not the bench arm, or vice versa)
would silently make perfbench timings describe a different computation
than the correctness sweep checks.

Row-count equality is the right invariant here: the bench arms project
away rider columns (and the estimator-defined VALUES of sketch arms
can legitimately differ by merge layout — see
``ns_corpus_overlap_sketch``), but each arm must emit exactly one row
per operator result the fn path emits.
"""

from __future__ import annotations

import pytest

from spotify_app_etl_spark.registry import load_all

SF = "/root/testdata/sf0.001"

_WITH_BENCH_FN = sorted(
    name for name, q in load_all().items() if q.bench_fn is not None
)


def test_every_self_verifying_headliner_has_a_bench_variant():
    # the set is intentional, not incidental — a new self-verifying
    # query should either get a bench_fn or be consciously excluded
    assert len(_WITH_BENCH_FN) >= 12, _WITH_BENCH_FN


@pytest.mark.parametrize("name", _WITH_BENCH_FN)
def test_bench_variant_matches_fn_row_count(spark, name):
    q = load_all()[name]
    bench_rows = q.bench_fn(spark, SF).count()
    fn_rows = q.fn(spark, SF).count()
    assert bench_rows == fn_rows, (
        f"{name}: bench_fn emitted {bench_rows} rows but fn emitted "
        f"{fn_rows} — the rider-free arm no longer measures the same "
        "operator the driver checks"
    )
    assert bench_rows > 0, f"{name}: empty result at {SF}"


def test_overlap_sketch_bench_arm_estimates_hold_the_rider_bound(spark):
    # ADVICE r07: ns_corpus_overlap_sketch's bench arm is the only one
    # that changes the operator computation itself (it skips the
    # distinct, and DataSketches' HIP estimator is merge-layout-
    # sensitive, ~0.3% drift) — row count alone is vacuous for a
    # 1-row-per-pair query. Hold the BENCH arm's estimates to the same
    # 8%-of-exact-union accuracy contract the fn arm's rider proves,
    # keyed per pair.
    q = load_all()["ns_corpus_overlap_sketch"]
    fn_rows = {
        (r.side_a, r.side_b): r for r in q.fn(spark, SF).collect()
    }
    for r in q.bench_fn(spark, SF).collect():
        ref = fn_rows[(r.side_a, r.side_b)]
        bound = 0.08 * ref.exact_union
        assert abs(r.overlap_est - ref.exact_overlap) <= bound, (
            r.side_a, r.side_b, r.overlap_est, ref.exact_overlap, bound,
        )
        # and the two arms' estimates must agree far tighter than the
        # rider bound (same registers, different merge layout)
        assert abs(r.overlap_est - ref.overlap_est) <= 0.02 * ref.exact_union
