"""Repeat the benchmark over several seeds and summarise how steady each
end-to-end metric is: median, quartiles, min, max and the quartile
spread as a share of the median, next to the metric's bound.

    python3 perfbench/steady.py --first-seed 1 --out perfbench/steadiness/a.json
    python3 perfbench/steady.py --first-seed 11 --out perfbench/steadiness/b.json \
        --against perfbench/steadiness/a.json

Runs are sequential; each is a separate ``run.py`` process. The summary
is written as JSON (every value, per-run provenance) and as a Markdown
table beside it. ``--against`` names an earlier summary of the same
code: each median is then compared with that set's median, as the share
by which it is worse, next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.box import source_digest  # noqa: E402
from perfbench.stats import quartile_summary  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def worse_by(median: float, earlier: float, better: str) -> float:
    """The share by which ``median`` is worse than ``earlier`` (negative
    when it is better)."""
    if better == "lower":
        return median / earlier - 1.0
    return earlier / median - 1.0


def render_markdown(summary: dict) -> str:
    """One row per (workload, metric): median, quartiles, min, max, the
    quartile spread and, with an earlier set, the median's change against
    it, next to the metric's bound."""
    against = summary.get("against")
    lines = [
        f"run_seconds {summary['run_seconds']}, source digest "
        f"{summary.get('source_digest')}, seeds "
        + ", ".join(f"{w} {b['runs'][0]['seed']}-{b['runs'][-1]['seed']}"
                    for w, b in summary["workloads"].items())
        + (f"; worse = median against {against}" if against else ""),
        "",
        "| workload | metric | median | q1 | q3 | min | max | spread | worse | bound |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for w, body in summary["workloads"].items():
        for name, s in body["metrics"].items():
            worse = f"{s['worse']:+.3f}" if "worse" in s else ""
            lines.append(
                f"| {w} | {name} | {s['median']:.5g} | {s['q1']:.5g} | {s['q3']:.5g} "
                f"| {s['min']:.5g} | {s['max']:.5g} | {s['spread']:.3f} | {worse} "
                f"| {s['bound']} |")
        runs = body["runs"]
        lines.append(
            f"| {w} | runs | {len(runs)} runs, {sum(bool(r['correct']) for r in runs)} "
            f"correct, {min(r['elapsed_s'] for r in runs):.0f}-"
            f"{max(r['elapsed_s'] for r in runs):.0f} s each | | | | | | | |")
    return "\n".join(lines) + "\n"


def main(argv: list[str] | None = None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all)")
    ap.add_argument("--out", required=True, help="JSON file for the summary")
    ap.add_argument("--against", help="earlier summary JSON to compare medians with")
    args = ap.parse_args(argv)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    earlier = json.loads(Path(args.against).read_text()) if args.against else None
    summary: dict = {"run_seconds": spec["run_seconds"], "source_digest": source_digest(),
                     "against": args.against and Path(args.against).name, "workloads": {}}
    for w in workloads:
        values: dict[str, list[float]] = {}
        runs = []
        for k in range(args.runs):
            seed = args.first_seed + k
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            elapsed = time.time() - t0
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            result = json.loads(last)
            prov = [ln.split("provenance ", 1)[1] for ln in proc.stderr.splitlines()
                    if ln.startswith("  provenance ")]
            runs.append({"seed": seed, "exit": proc.returncode, "elapsed_s": elapsed,
                         "correct": result.get("correct"),
                         "attempted": result.get("attempted"),
                         "failed": result.get("failed"),
                         "provenance": json.loads(prov[0]) if prov else None,
                         "log": [ln for ln in proc.stderr.splitlines()
                                 if ln.startswith("[perfbench]")]})
            for name, m in result.get("metrics", {}).items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: exit {proc.returncode} {elapsed:.0f} s "
                  + " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items()),
                  flush=True)
        metrics = {}
        for name, vals in values.items():
            s = quartile_summary(vals) if len(vals) > 1 else {"n": len(vals)}
            s["bound"] = bounds.get(name)
            before = earlier and earlier["workloads"].get(w, {}).get("metrics", {}).get(name)
            if before and "median" in s:
                s["worse"] = worse_by(s["median"], before["median"], better[name])
            s["values"] = vals
            metrics[name] = s
        summary["workloads"][w] = {"runs": runs, "metrics": metrics}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")
    Path(args.out).with_suffix(".md").write_text(render_markdown(summary))
    for w, body in summary["workloads"].items():
        for name, s in body["metrics"].items():
            if "spread" in s:
                worse = f" worse {s['worse']:+.3f}" if "worse" in s else ""
                print(f"{w:>15} {name:<14} median {s['median']:<12.5g} "
                      f"spread {s['spread']:.3f}{worse} bound {s['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
