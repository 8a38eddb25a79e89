"""Run one benchmark workload and print its metrics.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--small]

Workloads: tsdb_read, tsdb_write_mix, declared_queries (see README.md).
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. ``--small`` shrinks every input for a smoke run.

The last stdout line is one JSON object:
  {"correct": bool, "attempted": int, "failed": int,
   "metrics": {name: {"value": number, "unit": str}}}
The line before it records the run's seed, environment and checks.
Everything the run writes goes to one temp directory under the checkout,
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import TMP_PARENT, child_env, import_program  # noqa: E402

WORKLOADS = ("tsdb_read", "tsdb_write_mix", "declared_queries")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true")
    args = ap.parse_args(argv)
    import_program()

    import metrics

    os.makedirs(TMP_PARENT, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP_PARENT)
    os.environ.update(child_env(root))
    tempfile.tempdir = None
    try:
        if args.workload == "declared_queries":
            import declared

            res = declared.run(args.seed, args.seconds, bool(args.trace), root, args.small)
        else:
            import tsdb

            res = tsdb.run(args.workload, args.seed, args.seconds, bool(args.trace), root, args.small)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass

    names = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    values = res["layers"] if args.trace else res["e2e"]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "small": args.small,
        **res["env"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "checks": res["checks"],
    }
    print(json.dumps({"run": info}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in names.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
