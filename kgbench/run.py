"""KG build + KG query benchmark.

    python3 kgbench/run.py --workload build_open_vocab --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one client, closed loop:
set-up (session start + a warm-up build and query round on a small
slice of the same input shape), then reps of a fresh full build of the
workload's input followed by a resume of it after deleting its
``entities`` and ``triples`` snapshots, while the next rep is expected
to end within ``--seconds`` (at least two; three in a traced run), then
rounds of SPARQL queries, every template once per round, over the last
build's triples. Every build and resume is scored against the input's
gold and the content_sha256 lineage invariant; every query is compared
with its DuckDB restatement.

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it records the host settings
and sample counts. ``--trace 1`` reports the per-layer metrics instead
of the end-to-end ones and writes one spans file under
``.kgbench/spans``. Everything a run writes stays under ``.kgbench/``
in the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".kgbench"
PACKAGE = "gliner_transbronchialbiopsy_spark"
DRIVER_MEMORY = "4g"  # fits a 15 GB host; the session default is 48g


def confine(tracing: bool) -> dict:
    """Point the scratch locations of Python, the JVM and Spark at
    STATE; returns the Spark settings that do it, plus the status-store
    retention a traced run needs. Must run before the Spark JVM starts."""
    tmp = STATE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    # the Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Spark scratch (shuffle, spill) stays in the checkout too, where the
    # session's own default is /dev/shm; the environment variable, when
    # set, overrides spark.local.dir
    local_dir = os.environ["SPARK_LOCAL_DIRS"] = str(STATE / "spark-local")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": str(STATE / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if tracing:
        # the status store keeps every stage of the run for the trace join
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    return conf


def _finite(v: float) -> float:
    # an operation that failed leaves its metric unmeasured; the run is
    # already marked incorrect, and JSON has no NaN
    return v if math.isfinite(v) else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"kgbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    spark_conf = confine(bool(args.trace))
    sys.path.insert(0, str(ROOT))
    from kgbench import bench, layers

    if args.workload not in bench.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(sorted(bench.WORKLOADS))}")
    t0 = time.perf_counter()
    b = bench.Bench(STATE, args.workload, args.seed, args.seconds, bool(args.trace), spark_conf)
    b.phases["inputs"] = round(time.perf_counter() - t0, 3)
    b.run()
    if args.trace:
        values, units = b.layer_metrics, layers.UNITS
    else:
        values, units = b.end_to_end(), bench.END_TO_END
    print(json.dumps(b.details()))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": _finite(values[k]), "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
