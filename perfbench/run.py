"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; the metric
names and units are the ones declared in BENCHMARK.json (end_to_end
metrics with ``--trace 0``, per_layer metrics with ``--trace 1``). The
lines before it give every measured value with its unit and sample
count. The exit code is 0 only when every operation succeeded and every
output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# units of the values printed but not declared in BENCHMARK.json, other
# than the times (names ending in _s)
EXTRA_UNITS = {"turns_per_s": "1/s", "pairwise_f1": "ratio", "failed_ratio": "ratio",
               "jvm_peak_rss_gb": "GB"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("semlink/__init__.py", "bench.py", "BENCHMARK.json")
               if not os.path.isfile(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: not a semlink checkout, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS, Run
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run = Run(REPO, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.finish()

    catalog = spec["per_layer"] if args.trace else spec["end_to_end"]
    if not args.trace:
        values = {k: statistics.median(v) for k, v in run.samples.items()}
    else:
        values = dict(run.layer)
        unknown = sorted(set(values) - {m["name"] for m in catalog})
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    correct = not run.failed and not run.errors and run.attempted > 0
    metrics = {}
    for m in catalog:
        v = values.get(m["name"])
        if v is None:
            # per-layer metrics of layers this workload does not run are 0
            if args.trace and correct:
                v = 0.0
            else:
                correct = False
                run.errors.append(f"metric {m['name']} not measured")
                continue
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(EXTRA_UNITS)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} reps={run.reps} "
          + " ".join(f"{k}={v}" for k, v in run.info.items()))
    run.samples["failed_ratio"] = [run.failed / max(run.attempted, 1)]
    for name, vals in sorted(run.samples.items()):
        each = " ".join(f"{v:.4g}" for v in vals) if len(vals) > 1 else ""
        unit = units.get(name, "s" if name.endswith("_s") else "")
        print(f"  {name:<34} {statistics.median(vals):>14.6g} {unit:<6}"
              f" (n={len(vals)}) {each}")
    if args.trace:
        for name, v in sorted(run.layer.items()):
            print(f"  {name:<34} {v:>14.6g} {units.get(name, '')}")
    for e in run.errors:
        print(f"  FAILED: {e}")
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
