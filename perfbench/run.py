"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_uniform --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.perfbench_work/`` (with the run's scratch files); nothing
is read or written outside the repository. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer ledger with
``--trace 1``. The line before it gives, for a human reader, the run's
mismatch and failure ratios, its wall-clock docs/s, the wall seconds and
available core-seconds of each timed call, and the cold session start's
available seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "multi_format_document_extractor_spark"
WORK = os.path.join(ROOT, ".perfbench_work")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    # Keep every scratch file (pyfiles zip, Spark local dirs, JVM temp)
    # inside the checkout; set before pyspark or tempfile is first used.
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    # -XX:-UsePerfData: every JVM would otherwise write /tmp/hsperfdata_*
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), jvm])
    )
    sys.path.insert(0, ROOT)

    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS, run

    if args.workload not in WORKLOADS:
        os.rmdir(tmp)
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    res = run(WORK, args.workload, args.seed, args.seconds, bool(args.trace))
    units = PER_LAYER if args.trace else END_TO_END
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "mismatch_ratio": res["mismatch_ratio"],
                "failed_ratio": res["failed_ratio"],
                "docs_per_s": res["docs_per_s"],
                "calls_s": res["calls_s"],
                "calls_core_s": res["calls_core_s"],
                "setup_s": res["setup_s"],
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": res["mismatch_ratio"] == 0 and res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    name: {"value": res["metrics"][name], "unit": units[name][0]}
                    for name in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
