"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 25 --trace 0

Run it from the repository root.  It generates the workload's input from
the seed (outside the timed window), starts Spark at local[4] and times the
set-up, runs the engine in a closed loop (one job or curation pass at a
time; at least two, then until the next would end past --seconds), checks every
output against the workload's oracle, and prints each metric as
`metric <name> = <value> <unit>`, a `record` line (seed, nproc, commit,
calibration probe before and after, input sizes, set-up times), and as the
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics of spec.END_TO_END; --trace 1 runs
one operation with the per-layer probes on and reports spec.PER_LAYER.
Everything the run writes stays under .perfbench/ in the repository root;
the run's own work directory is removed at the end, the traced kernel spans
are kept there as trace-<workload>-seed<seed>.json.  Before it exits the
run waits until every process it started, and every orphan of those, has
ended (see harness.stop_children).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("batch_mix", "curate_docs")


def _commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=30, check=True)
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _confine(work: str) -> None:
    """Keep every temporary file of this process, the JVM and the Python
    workers inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "arabic_ocr_spark", "__init__.py")):
        print(f"perfbench: no arabic_ocr_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    os.makedirs(work)
    _confine(work)

    import spec

    calib_before = harness.calibration_ms()
    try:
        if args.workload == "curate_docs":
            from curation import CurationWorkload as Workload
        else:
            from extraction import ExtractionWorkload as Workload
        wl = Workload(args.workload, work, args.seed)
        t0 = time.perf_counter()
        gen_info = wl.generate()
        gen_info["generate_s"] = time.perf_counter() - t0
        spark, setup_s, setup_times = harness.timed_setups(wl.warmup)
        res = wl.traced(spark) if args.trace else wl.measure(spark, args.seconds)
    finally:
        harness.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    calib_after = harness.calibration_ms()

    if args.trace:
        names = [n for n, *_ in spec.PER_LAYER]
        metrics = dict.fromkeys(names, 0.0)
        metrics.update(res["metrics"])
    else:
        names = [n for n, *_ in spec.END_TO_END]
        metrics = dict(res["metrics"], setup_s=setup_s)
    if sorted(metrics) != sorted(names):
        raise RuntimeError(f"metric names differ from spec.py: {sorted(set(metrics) ^ set(names))}")

    for n in names:
        print(f"metric {n} = {metrics[n]:.6g} {spec.UNITS[n]}")
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "master": harness.MASTER,
        "nproc": len(os.sched_getaffinity(0)), "commit": _commit(),
        "calib_before_ms": calib_before, "calib_after_ms": calib_after,
        "setup_times_s": setup_times, **gen_info, **res["info"],
    }
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(metrics[n]), "unit": spec.UNITS[n]} for n in names},
    }))
    return 0


def run(argv: list[str] | None = None) -> int:
    """main() with every process it starts stopped and waited for on the
    way out, also when it fails or is sent SIGTERM."""
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    harness.adopt_orphans()
    try:
        return main(argv)
    finally:
        harness.stop_children()


if __name__ == "__main__":
    sys.exit(run())
