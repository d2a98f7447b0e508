"""Crawl-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Run from the repository root. The run happens in a worker process with a
wall-clock deadline (a hung run is killed, JVM included, and counted as
failed) and its own work directory under ``.perfbench_work/``, removed
afterwards. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(the span dump then goes to ``.perfbench_out/``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("crawl_wide", "crawl_deep", "crawl_continuous", "curation_mix")
RUN_DEADLINE_S = 165.0  # the whole run, set-up and checks included


def worker_env(work: str) -> dict[str, str]:
    """Environment that keeps every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_JAVA_OPTS=f"-Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_EXTRA_CONF=";".join(
            (
                f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                f"spark.local.dir={local}",
                "spark.ui.showConsoleProgress=false",
                "spark.ui.retainedJobs=100000",
                "spark.ui.retainedStages=100000",
            )
        ),
        # the oracle comparison is exact: pin the ANN candidate path to exact
        FCS_ANN_CANDIDATES="exact",
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "flink_crawler_spark")):
        print(f"perfbench: no flink_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--workdir", work,
        "--out", out,
    ]
    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(trace_dir, exist_ok=True)
        cmd += ["--trace-out", os.path.join(trace_dir, f"trace-{args.workload}-s{args.seed}.json")]
    t0 = time.monotonic()
    try:
        # worker chatter goes to stderr: stdout ends with the one result line
        res = harness.run_with_deadline(cmd, RUN_DEADLINE_S, env=worker_env(work), stdout=sys.stderr)
        result = None
        if res.returncode == 0 and os.path.exists(out):
            with open(out) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if result is None:
        why = "deadline expired, run killed" if res.timed_out else f"worker exit code {res.returncode}"
        print(f"perfbench: {args.workload} seed {args.seed} failed: {why}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    info = result.pop("info")
    print(f"perfbench: {args.workload} seed={args.seed} run={time.monotonic() - t0:.1f}s {json.dumps(info)}")
    for name, m in result["metrics"].items():
        print(f"  {name:42s} {m['value']:14.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
