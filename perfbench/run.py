"""Benchmark of the Green Button (ESPI) conversion engine.

    python3 perfbench/run.py --workload espi_many_small --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The corpus is generated from
``--seed`` (see corpus.py); workloads are described in workloads.py and
in BENCHMARK.json.  With ``--trace 0`` the last line of standard output
is the result with the end-to-end metrics; with ``--trace 1`` it carries
the per-layer metrics of the traced run.  A self-explaining record of
the run (environment, input identity, per-operation timings, failures)
and, for a traced run, its spans are written under ``.perfbench/``.
Every file the run reads or writes lies inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["espi_many_small", "espi_cli_file"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: a few small files, for the benchmark's own tests")
    return ap.parse_args(argv)


def environment(load_start: dict, load_end: dict) -> dict:
    from bench import _steal_between

    versions = {"python": platform.python_version()}
    for mod in ("pyspark", "duckdb", "pyarrow", "pandas"):
        try:
            versions[mod] = __import__(mod).__version__
        except ImportError:
            versions[mod] = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "steal_pct": _steal_between(load_start, load_end),
        "loadavg_1m": [load_start.get("loadavg_1m"), load_end.get("loadavg_1m")],
        "git_commit": commit,
        "versions": versions,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "greenbuttonengine_spark" / "__init__.py").is_file():
        print(f"perfbench: no greenbuttonengine_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]

    run_name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = STATE / "work" / run_name
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # A stated maximum heap, not session.py's 16g default: with 16g the JVM
    # grew to about 6 GB resident on this 48 MB corpus, which a machine
    # shared with other work cannot spare.  No minimum heap is set, so the
    # JVM's resident set follows what the engine allocates.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = str(work / "tmp")

    import workloads
    from bench import _load_stamp

    load_start = _load_stamp()
    t0 = time.perf_counter()
    try:
        run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                            tiny=args.size == "tiny")
        result = run.execute()
        rec = run.record(result)
        rec["wall_s"] = time.perf_counter() - t0
        rec["environment"] = environment(load_start, _load_stamp())
        workloads.dump_json(STATE / "records" / f"{run_name}.json", rec)
        if args.trace:
            run.tracer.dump(STATE / "records" / f"{run_name}.spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for note in rec["failures"]:
        print(f"perfbench: failed operation: {note}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
