#!/usr/bin/env python3
"""Traced run of every workload, tracing overhead and span coverage.

    python3 perfbench/trace_all.py [--seed N] [--seconds S] [--workload NAME ...]

For each workload this runs ``run.py`` untraced and then traced with the same
seed. The traced run writes its spans and per-layer metrics to
``.perfbench_out/<workload>-seed<seed>-trace.json``. The report
(``.perfbench_out/trace_report.json``) gives, for every end-to-end metric,
traced − untraced as the tracing overhead, and checks that the traced run's
spans cover every layer the per-layer table of ``LAYERS.md`` names for that
workload (its "on workload" column). Exits 1 when a run fails its output
checks or a layer is not covered.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench_out"



def required_layers() -> dict[str, set[str]]:
    """workload -> the layers LAYERS.md predicts it loads."""
    workloads = [w["name"] for w in json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]]
    table = (ROOT / "perfbench" / "LAYERS.md").read_text().split("## Per-layer metrics", 1)[1]
    out: dict[str, set[str]] = defaultdict(set)
    for line in table.splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) != 5 or not cells[0].startswith("`"):
            continue  # not a row of the layer table
        on = workloads if cells[3] == "all" else re.findall(r"`(\w+)`", cells[3])
        for w in on:
            out[w].add(cells[0].strip("`"))
    return dict(out)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"{workload} --trace {trace} printed no result (exit {proc.returncode})")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    required = required_layers()
    ap.add_argument("--workload", action="append", choices=sorted(required))
    args = ap.parse_args()

    report, ok = {}, True
    for workload in args.workload or list(required):
        untraced = _run(workload, args.seed, args.seconds, 0)
        traced_summary = _run(workload, args.seed, args.seconds, 1)
        trace = json.loads((OUT / f"{workload}-seed{args.seed}-trace.json").read_text())
        overhead = {}
        for name, m in untraced["metrics"].items():
            t = trace["end_to_end"][name]
            overhead[name] = {"untraced": m["value"], "traced": t,
                              "traced_minus_untraced": t - m["value"],
                              "relative": (t - m["value"]) / m["value"] if m["value"] else None,
                              "unit": m["unit"]}
        covered = {layer.split(".")[0] if layer.startswith("queries.") else layer
                   for layer in trace["layers_covered"]}
        missing = sorted(required[workload] - covered)
        ok &= untraced["correct"] and traced_summary["correct"] and not missing
        report[workload] = {
            "correct": {"untraced": untraced["correct"], "traced": traced_summary["correct"]},
            "spans": len(trace["spans"]),
            "layers_covered": sorted(covered),
            "layers_missing": missing,
            "overhead": overhead,
        }
        print(f"{workload}: spans={len(trace['spans'])} missing layers={missing or 'none'}")
        for name, o in overhead.items():
            rel = "" if o["relative"] is None else f" ({o['relative']:+.1%})"
            print(f"  {name:18s} untraced={o['untraced']:.4g} traced={o['traced']:.4g} "
                  f"overhead={o['traced_minus_untraced']:+.4g} {o['unit']}{rel}")
    OUT.mkdir(exist_ok=True)
    (OUT / "trace_report.json").write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
