"""Extraction benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload chat_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``): the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. The lines before it list every metric by name. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["chat_mixed", "markup_dirty", "incremental_commit"]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"],
                   help="'all' runs each workload in its own process")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the timed region")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (small values make a quick run)")
    p.add_argument("--trace-dir", default=os.path.join(ROOT, "perfbench", ".traces"))
    return p.parse_args(argv)


def run_all(args) -> int:
    rc = 0
    for w in WORKLOADS:
        rc |= subprocess.call([
            sys.executable, os.path.abspath(__file__), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--scale", str(args.scale),
            "--trace-dir", args.trace_dir,
        ])
    return rc


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py")):
        print(f"perfbench: no ocr_spark package in {ROOT}", file=sys.stderr)
        return 2
    # this process and the Spark Python workers both import this checkout
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("OCR_SPARK_DRIVER_MEM", "2g")
    # no JVM perf-data file under /tmp: the run writes only inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )

    from perfbench.harness import Run

    # a SIGTERM still runs the clean-up below, which stops Spark's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, ROOT)
    try:
        run.execute()
    except Exception:  # noqa: BLE001 — report and fail the run
        traceback.print_exc()
        return 1
    finally:
        run.close()
    print(json.dumps(run.report()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
