#!/usr/bin/env python3
"""Benchmark of the cuvs_lucene_spark engine: index build, deletes and BM25
reads, end to end and layer by layer.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 22 --trace 0

Run from the repository root. Generates every input from ``--seed`` into a
scratch directory under ``.perfbench_work/`` (removed afterwards), starts a
``local[nproc]`` session with the engine's default settings, builds the
index, runs the workload's closed loop for ``--seconds``, checks every result
against the oracle, and prints a detail line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the spans to ``.perfbench_work/spans-<workload>-<seed>.jsonl``).
See perfbench/README.md for the workloads, metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("interactive", "ingest")


def host_fingerprint() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        sha = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gib": round(mem_kb / 2**20, 1),
        "git_sha": sha,
    }


def _confine(work: Path) -> None:
    """Keep every scratch file of this run inside ``work``: Python temp
    files, Spark's local dirs and the JVM's temp dir."""
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def main(argv: list[str] | None = None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="minimal input sizes, to check the harness itself")
    args = ap.parse_args(argv)

    if not (ROOT / "cuvs_lucene_spark" / "__init__.py").is_file():
        print(f"perfbench: no cuvs_lucene_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work.mkdir(parents=True)
    try:
        _confine(work)
        from perfbench import workloads

        size = workloads.SMOKE if args.smoke else workloads.FULL
        result, detail = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), str(work), size
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail["host"] = host_fingerprint()
    detail["run_s"] = time.perf_counter() - t0
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
