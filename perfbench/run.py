"""Run one benchmark workload, or all of them, and print the result.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

``--trace 0`` prints every end-to-end metric, ``--trace 1`` every
per-layer metric (from a run with spans around each layer's calls). The
last line of standard output is the JSON result; a table and provenance
go to standard error. Everything the run writes lives under
``.perfbench_run/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import workloads  # noqa: E402
from perfbench.box import Box, provenance  # noqa: E402
from perfbench.stats import median, tail  # noqa: E402


def end_to_end(res, box: Box) -> dict[str, float]:
    wall = median(res.op_s)
    rate = res.rate if res.rate is not None else res.records / wall if wall else 0.0
    # a backfill pass or a refresh commits all of its input at its end
    latencies = res.latencies or res.op_s
    return {
        "setup_s": res.setup_s,
        "wall_s": wall,
        "lines_per_s": rate,
        "latency_p50_s": median(latencies),
        "latency_p95_s": tail(latencies),
        "peak_rss_mb": box.peak_rss_mb(),
    }


def per_layer(res) -> dict[str, float]:
    out = {name: 0.0 for name in workloads.LAYER_UNITS}
    out.update(res.layers)
    plain, traced = median(res.op_s), median(res.traced_op_s)
    if plain and traced:
        out["bench.trace_overhead_ratio"] = traced / plain - 1.0
    return out


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    box = Box(Path.cwd() / ".perfbench_run" / name)
    box.pin()
    try:
        import takuan_spark  # noqa: F401  (fail before any work without the engine)

        ctx = workloads.Ctx(box, seed, seconds, trace)
        res = workloads.WORKLOADS[name](ctx)
        if trace:
            values, units = per_layer(res), workloads.LAYER_UNITS
        else:
            values, units = end_to_end(res, box), workloads.END_TO_END_UNITS
        prov = provenance(box.nproc, seed, {
            **workloads.SIZES[name], "seconds": seconds, "records": res.records,
            "operations": res.attempted, **res.notes})
    finally:
        box.close()
    failed_ratio = res.failed / max(1, res.attempted)
    for k, v in values.items():
        print(f"  {name:>14} {k:<44} {v:>14.6g} {units[k]}", file=sys.stderr)
    print(f"  {name:>14} {'failed_ratio':<44} {failed_ratio:>14.6g} share",
          file=sys.stderr)
    print(f"  provenance {json.dumps(prov)}", file=sys.stderr)
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*workloads.WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    names = tuple(workloads.WORKLOADS) if args.workload == "all" else (args.workload,)
    results = {n: run_one(n, args.seed, args.seconds, bool(args.trace)) for n in names}
    if len(names) == 1:
        print(json.dumps(results[names[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items()
                        for k, v in r["metrics"].items()},
        }))
    return 0 if all(r["correct"] for r in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
