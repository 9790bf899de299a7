"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout: it imports the package from there and
keeps all its files (input cache, catalogs, Spark scratch, traces) under
``.perfbench/`` there. The last line of standard output is the result:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` patches spans
around the program's layer boundaries and reports the per-layer metrics
instead, and writes the spans to ``.perfbench/traces/``. The line before
the result holds the run's details: the host record, the commit-unit
latency median and tail, the set-up time without and with first use,
each timed cycle's ``update_s`` and which checks failed. The exit code is 1 when an
output check failed and 2 when the program cannot be imported.
See GLOSSARY.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

E2E_UNITS = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "update_s": "s",
    "peak_rss_mb": "MB",
}


DRIVER_MEM = "2g"


def _keep_scratch_inside() -> None:
    """Point Python's, Spark's and the JVM's temporary files into STATE,
    and pin the driver heap."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    # a fixed driver heap keeps peak_rss_mb from tracking how far the JVM
    # happens to grow an 8 GB default heap before collecting
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def main(argv: list[str] | None = None) -> int:
    _keep_scratch_inside()
    sys.path.insert(0, ROOT)
    try:
        import cdrc_semantic_search_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        out = workloads.run(
            workloads.WORKLOADS[args.workload], args.seed, args.seconds,
            bool(args.trace), STATE,
        )
    finally:
        shutil.rmtree(os.path.join(STATE, "work"), ignore_errors=True)
        shutil.rmtree(os.path.join(STATE, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(STATE, "spark-local"), ignore_errors=True)
    if args.trace:
        metrics = out.pop("per_layer")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in out["metrics"].items()}
    print(json.dumps(out))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0 if out["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
