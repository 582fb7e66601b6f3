#!/usr/bin/env python
"""Generate PLANS.md: executed-plan audit of the perfbench workload queries.

For each perfbench workload query (``perfbench.workloads.ALL_OPS``
without the ETL operation) this runs the query at the given scale
factor, captures the POST-AQE executed plan, and extracts the signals
that matter at 100 TB:

- shuffle count (Exchange hashpartitioning) and broadcast count
- whether parquet scans carry PushedFilters / PartitionFilters
- whole-stage-codegen span count (JVM-side execution)
- any BroadcastNestedLoopJoin / CartesianProduct (the O(n²) red flags)

Usage:
    python scripts/explain_audit.py [--sf /root/testdata/sf0.01] [--out PLANS.md]
"""

from __future__ import annotations

import argparse
import re
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def plan_signals(plan: str) -> dict[str, object]:
    # AQE toString appends the pre-execution estimate after the real
    # plan — counting both would double every signal
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "shuffles": len(re.findall(r"Exchange hashpartitioning", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "scans": len(re.findall(r"FileScan|Scan parquet", plan)),
        "pushed_filter_scans": len(
            [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
        ),
        "nested_loop_joins": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "python_stages": len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=str(Path(_REPO_ROOT) / "PLANS.md"))
    ap.add_argument("--full", action="store_true", help="include full plan text")
    args = ap.parse_args()

    from perfbench.workloads import ALL_OPS, ETL
    from spotify_app_etl_spark.operators.persist import release_cached
    from spotify_app_etl_spark.registry import load_all
    from spotify_app_etl_spark.session import get_spark

    spark = get_spark(app_name="explain_audit")
    registry = load_all()

    # untimed warmup: JVM codegen + Arrow worker pool
    registry["q01_pricing_summary"].fn(spark, args.sf).collect()

    lines = [
        "# PLANS — executed-plan audit of the perfbench workload queries",
        "",
        f"Scale factor dir: `{args.sf}`. Plans are POST-AQE executed plans",
        "(collected after running each query), not optimizer estimates.",
        "Red flags at 100 TB: `nested_loop_joins`/`cartesian` > 0 on an",
        "unbounded side, scans without pushed filters when the query",
        "filters, Python stages in a pure-relational plan.",
        "",
        "A query with a `bench_fn` gets a second `(fn)` row: the arm the",
        "driver's correctness sweep executes, next to the variant perfbench times.",
        "",
        "| query | wall_s | shuffles | broadcasts | codegen | scans | pushed | NLJ | cartesian | py |",
        "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |",
    ]
    # Other queries whose physical plans earned an audit row:
    # the round-4 broadcast-hint removals (AQE must be choosing the
    # strategy, not a forced hint) and the executor-side Bloom build.
    extra = [
        "q16_supplier_part_count",
        "q17_small_qty_revenue",
        "q21_late_sole_supplier",
        "q_join_bloom_prefilter",
    ]
    details: list[str] = []
    for name in [n for n in ALL_OPS if n != ETL] + extra:
        q = registry[name]
        # Audit BOTH arms where they differ (ADVICE r07): perfbench
        # times the rider-free bench_fn, but the driver's correctness
        # sweep executes the proof-laden fn — a rider edit that
        # introduced an unbounded NLJ or single-partition window would
        # otherwise escape this gate entirely.
        arms = [(name, q.bench_fn or q.fn)]
        if q.bench_fn is not None:
            arms.append((f"{name} (fn)", q.fn))
        for label, arm in arms:
            t0 = time.time()
            df = arm(spark, args.sf)
            # collect() (not count()/noop-save) finalizes THIS df's own
            # AdaptiveSparkPlan — other actions execute a cloned query
            # and leave df's plan un-finalized with no codegen/shuffle
            # truth
            df.collect()
            wall = time.time() - t0
            plan = df._jdf.queryExecution().executedPlan().toString()
            s = plan_signals(plan)
            release_cached()
            lines.append(
                f"| {label} | {wall:.2f} | {s['shuffles']} | {s['broadcasts']} | "
                f"{s['codegen_spans']} | {s['scans']} | {s['pushed_filter_scans']} | "
                f"{s['nested_loop_joins']} | {s['cartesian']} | {s['python_stages']} |"
            )
            if args.full:
                details += [f"\n## {label}\n", "```", plan.rstrip(), "```"]
            print(f"{label}: {wall:.2f}s {s}", flush=True)

    Path(args.out).write_text("\n".join(lines + details) + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
