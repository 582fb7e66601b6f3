#!/usr/bin/env python
"""Capture ``.explain("formatted")`` output for named queries into
plans/<round>/<query>_<suffix>.txt — the optimization-round evidence
files (the judge reads these instead of running Spark).

The captured plan is the timed arm (``bench_fn`` when registered, else
``fn``): the rider-free plan is the one perfbench measures and the one
optimization claims are made about. Composite queries that build
side-effect state (persisted ANN indexes, streaming sinks) execute
those builds as part of calling the query fn — the captured plan is
the returned DataFrame's, exactly what `.explain` shows the driver.

Usage:
    python scripts/capture_plans.py --suffix before --queries a,b,c
    python scripts/capture_plans.py --suffix after            # perfbench workload queries
    python scripts/capture_plans.py --round-dir plans/r11
"""

from __future__ import annotations

import argparse
import contextlib
import io
import sys
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--suffix", default="after", choices=["before", "after"])
    ap.add_argument(
        "--round-dir",
        default=str(Path(_REPO_ROOT) / "plans" / "r11"),
        help="output directory for <query>_<suffix>.txt files",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated names; default: the perfbench workload queries",
    )
    args = ap.parse_args()

    from perfbench.workloads import ALL_OPS, ETL
    from spotify_app_etl_spark.operators.persist import release_cached
    from spotify_app_etl_spark.registry import load_all
    from spotify_app_etl_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    registry = load_all()
    names = (
        [n.strip() for n in args.queries.split(",") if n.strip()]
        if args.queries
        else [n for n in ALL_OPS if n != ETL]
    )
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"not registered: {unknown}")

    out_dir = Path(args.round_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        fn = registry[name].bench_fn or registry[name].fn
        df = fn(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{args.suffix}.txt").write_text(buf.getvalue())
        release_cached()
        print(f"captured {name}_{args.suffix}.txt", flush=True)


if __name__ == "__main__":
    main()
