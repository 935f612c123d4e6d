"""Benchmark entry point. From the root of a checkout:

    python3 e2ebench/run.py --workload serve|curate --seed N \\
        --seconds S --trace 0|1

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Everything the run writes stays under
e2ebench/.state. See e2ebench/NOTES.md.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, "e2ebench", ".state")
CORES = 4
# the traced run reads every job and stage of the run back
RETAIN_ALL = (
    "--conf spark.ui.retainedJobs=100000",
    "--conf spark.ui.retainedStages=100000",
    "--conf spark.sql.ui.retainedExecutions=100000",
)


def isolate(state: str, trace: bool) -> None:
    """Pin the slot count and keep every file that Spark, the JVM and
    Python write inside the checkout. Every other setting is the
    engine's own (email_etl_spark.session.get_spark)."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(state, "spark-local"),
        SPARK_GRAFT_CPUS=str(CORES),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--driver-java-options",
                shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                "--conf spark.ui.showConsoleProgress=false",
                *(RETAIN_ALL if trace else ()),
                "pyspark-shell",
            ]
        ),
    )
    time.tzset()


WORKLOADS = ("serve", "curate")


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    isolate(STATE, bool(args.trace))
    from e2ebench.workloads import run_workload

    result = run_workload(
        args.workload, args.seed, args.seconds, bool(args.trace), STATE, PROCESS_T0
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
