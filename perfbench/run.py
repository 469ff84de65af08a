"""Linkage benchmark entry point.

    python3 perfbench/run.py --workload largekb_exact --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from --seed and cached
under .perfbench_cache/; the last line of stdout is the JSON result
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics (and tracing overhead) with --trace 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, CHECKOUT)
    from perfbench import host, workloads

    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import spacy_ann_linker_spark
    except ImportError as ex:
        print(f"perfbench: the package is not in this checkout: {ex}", file=sys.stderr)
        return 2
    if not os.path.abspath(spacy_ann_linker_spark.__file__).startswith(CHECKOUT + os.sep):
        print(f"perfbench: refusing to measure {spacy_ann_linker_spark.__file__}: "
              "not the checkout's copy", file=sys.stderr)
        return 2

    run = workloads.Run(workloads.WORKLOADS[args.workload], args.seed, args.seconds, CHECKOUT)
    host.prepare_env(CHECKOUT, run.scratch)
    try:
        result = run.run(trace=bool(args.trace))
    finally:
        run.stop_session()
        host.stop_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
