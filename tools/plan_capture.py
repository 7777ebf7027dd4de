"""Capture ``.explain("formatted")`` for named registry queries into
plans/<tag>/<query>_<suffix>.txt (the optimization-round evidence
artifact: the judge checks plan claims against these files).

Each query is BUILT, which runs its build-time jobs (eager
localCheckpoints, bounded collects, iterative rounds; a full capture at
sf0.001 launches more than 500 stages), but its final action is never
run: the plan is explained, not executed. The session is the library
session (same confs as bench). The checkout root in each plan (file
scan paths) is written as ``<repo>``, and the lakehouse queries'
per-process fixture directory as ``<scratch>``, so captures from two
checkouts or two runs of the same code compare equal.

Usage:
  python tools/plan_capture.py --tag r11 --suffix before [sf_dir] [name ...]

With no names, captures every registered query.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_inreach_spark import queries_lakehouse  # noqa: E402
from etl_inreach_spark.queries import all_queries  # noqa: E402
from etl_inreach_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r11")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    out_dir = os.path.join(ROOT, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = args.names or sorted(qs)
    n_ok = 0
    for name in names:
        if name not in qs:
            print(f"plan_capture: unknown query {name!r}", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:
            print(f"plan_capture: {name} FAILED: {e}", file=sys.stderr)
            continue
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        if queries_lakehouse._SCRATCH_ROOT is not None:
            plan = plan.replace(queries_lakehouse._SCRATCH_ROOT, "<scratch>")
        with open(path, "w") as fh:
            fh.write(plan.replace(ROOT, "<repo>"))
        n_ok += 1
    print(f"plan_capture: wrote {n_ok}/{len(names)} plans to {out_dir}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
