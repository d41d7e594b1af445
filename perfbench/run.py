"""Benchmark entry point.

    python3 perfbench/run.py --workload vessel_lookups --seed 7 --seconds 15 --trace 0

Run from the repository root. Generates seeded inputs (cached under
``.perfbench_work/cache``), drives the package's public functions on one
``local[nproc]`` Spark session, checks every output and prints one JSON
object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` is a separate
run that reports the per-layer metrics (spans around each layer call,
Spark task counters from the event log, a staged decomposition of the
lazy plans).

Everything the run writes stays under ``.perfbench_work``; a run's own
directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "knot_another_pipeline_spark"
WORKLOADS = ("vessel_lookups", "corpus_prep")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _require_program() -> None:
    """Fail fast, before any Spark start-up, when the program is absent."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"perfbench: no {PACKAGE}/ package under {ROOT}; run from the repository root")
    try:
        import duckdb  # noqa: F401  (the result oracle)
        import pyspark  # noqa: F401
    except ImportError as exc:
        sys.exit(f"perfbench: missing dependency: {exc}")


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    _require_program()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # Python-side datetimes from collect() follow the process time zone;
    # pin it to the session's (UTC) so results compare exactly.
    os.environ["TZ"] = "UTC"
    time.tzset()

    import harness
    import workloads

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    env = harness.Env(
        cache=os.path.join(work, "cache"),
        run_dir=run_dir,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cores=len(os.sched_getaffinity(0)),
    )
    try:
        result = workloads.RUN[args.workload](env)
    finally:
        env.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result.as_json()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
