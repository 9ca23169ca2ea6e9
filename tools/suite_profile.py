"""Profile the full registered query suite with per-query wall times.

Usage:
    python tools/suite_profile.py [--sf-dir DIR] [--out FILE]
                                  [--only a,b] [--repeat N]

Prints every query's wall time sorted descending plus the total, and
optionally writes the raw dict as JSON, with the names of queries that
raised under "failed" (their times are not successes). For A/B attribution, run it
twice — e.g. from a scratch worktree at an older commit vs HEAD on the
same warehouse (the round-4 regression attribution in SURVEY §6 was
produced exactly that way) — and diff the two JSON outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from light_etl_windows_container_poc_spark.queries import QUERIES  # noqa: E402
from light_etl_windows_container_poc_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None,
                    help="comma-separated query names to restrict to")
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    spark = get_spark("suite_profile")
    names = list(QUERIES)
    if args.only:
        names = [n for n in args.only.split(",") if n in QUERIES]
    times: dict[str, float] = {}
    failed: set[str] = set()
    t_start = time.time()
    for name in names:
        fn = QUERIES[name]
        best = None
        for _ in range(args.repeat):
            q0 = time.time()
            try:
                fn(spark, args.sf_dir).collect()
            except Exception as exc:  # profile must finish
                print(f"ERROR {name}: {exc}", file=sys.stderr)
                failed.add(name)
            dt = time.time() - q0
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
        times[name] = round(best, 3)
    total = time.time() - t_start
    for name, dt in sorted(times.items(), key=lambda kv: kv[1], reverse=True):
        print(f"{dt:8.3f}  {name}")
    print(f"{total:8.3f}  TOTAL ({len(times)} queries, "
          f"{len(failed)} failed)")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"total": round(total, 3), "times": times,
                       "failed": sorted(failed)}, fh, indent=1)


if __name__ == "__main__":
    main()
