#!/usr/bin/env python3
"""crawlspark benchmark.

    python3 perfbench/run.py --workload {crawl_bulk,crawl_polite} --seed N \
        --seconds S --trace {0,1}

Runs one workload in one process on ``local[<cores>]`` and prints the
metrics by name with their units; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (spans around each
layer's public calls plus a Spark event log); names, units and workloads
are the ones ``BENCHMARK.json`` declares. All inputs derive from
``--seed``; every output is checked against an independent oracle after
the timer stops. Work files live under ``.perfbench/`` in the checkout and
are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from harness import ROOT, Bench


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "crawlspark")):
        print(f"crawlspark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import crawls

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = crawls.run(bench)
    finally:
        bench.close()

    for line in res.notes:
        print(line, file=sys.stderr)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res.per_layer if args.trace else res.end_to_end
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        print(f"not measured (reported as 0): {', '.join(missing)}", file=sys.stderr)
    metrics = {}
    for m in declared:
        name, unit = m["name"], m["unit"]
        metrics[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
        print(f"{args.workload} {name} = {metrics[name]['value']:.6g} {unit}")
    ratio = res.failed / res.attempted if res.attempted else 1.0
    print(f"{args.workload} failed_ops_ratio = {ratio:.6g} "
          f"({res.failed}/{res.attempted} ops)")
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
