"""CDC ingest benchmark: one workload, one seed, one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload backfill|hot_read \\
        --seed N --seconds S --trace 0|1 [--damage]

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the run
record (host steal and load, sample counts, strategy). ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run plus the end-to-end metrics it saw (``traced.<name>``), whose
difference from an untraced run is the tracing overhead. ``--damage``
corrupts one row of the finished table, so the run must report failure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "hot_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--damage", action="store_true")
    args = ap.parse_args()
    if args.seconds < 1 or args.seed < 0:
        ap.error("--seconds must be >= 1 and --seed >= 0")
    if not os.path.isfile(os.path.join(ROOT, "pyorchdb_spark", "ingest.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), args.damage)
    try:
        run.build_session()
        e2e, extra = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            import tracing

            layers = run.layers(extra)
            metrics = {k: (layers[k], u) for k, u in tracing.PER_LAYER.items()}
            metrics.update({f"traced.{k}": v for k, v in e2e.items()})
        else:
            metrics = e2e
    finally:
        run.close()
    run.record["wall_s"] = round(time.perf_counter() - T0, 2)
    print(json.dumps({"record": run.record, "errors": run.errors[:20]}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
