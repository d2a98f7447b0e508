"""Per-query steady-state spot bench (r11, round-10 verdict tasks 2+3).

Runs named registry queries for N reps each with bench.py's exact
per-query discipline (count() materialization, then bench.py's
``between_queries`` between reps) after bench.py's own ``warm_session``
(JVM/codegen, streaming + stateful engine init, Python worker handshake,
the corpus-snapshot builders), so rep 1 is steady state too. Reports
per-rep seconds plus min and median — the committed adjudication
protocol prefers MIN across reps because host interference only ever
adds time (SCALE.md r7-r10, memory: bench-host-noise-protocol).

Usage:
  python tools/spot_bench.py [--sf-dir DIR] [--reps N] query [query ...]

Prints one JSON line per query and a trailing summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import between_queries, warm_session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from flink_crawler_spark import queries as q
    from flink_crawler_spark.session import get_spark

    spark = get_spark("spot_bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, args.sf_dir)

    summary = {}
    for name in args.queries:
        pair = q.REGISTRY[name]
        reps = []
        for _ in range(args.reps):
            t0 = time.time()
            pair.fn(spark, args.sf_dir).count()
            reps.append(round(time.time() - t0, 3))
            between_queries(spark)
        rec = {
            "query": name,
            "sf_dir": args.sf_dir,
            "reps": reps,
            "min": min(reps),
            "median": round(statistics.median(reps), 3),
        }
        summary[name] = rec["min"]
        print(json.dumps(rec))
    print(json.dumps({"spot_min": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
