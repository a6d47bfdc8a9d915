"""Tracing overhead: a traced run's end-to-end numbers minus the untraced
run's, for every workload and seed that has both reports.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --workload serve --seed 1 --seconds 40 --trace 1
    python3 perfbench/overhead.py            # reads .perfbench_work/reports/
"""

from __future__ import annotations

import glob
import json
import os
import sys
from statistics import median


HERE = os.path.dirname(os.path.abspath(__file__))
REPORTS = os.path.join(os.path.dirname(HERE), ".perfbench_work", "reports")


def pairs(reports_dir: str) -> dict[tuple[str, str], tuple[dict, dict]]:
    """(workload, seed) -> (untraced report, traced report)."""
    out = {}
    for traced in glob.glob(os.path.join(reports_dir, "*-trace1.json")):
        plain = traced[: -len("-trace1.json")] + "-trace0.json"
        if os.path.exists(plain):
            with open(plain) as f0, open(traced) as f1:
                a, b = json.load(f0), json.load(f1)
            out[(a["context"]["workload"], str(a["context"]["seed"]))] = (a, b)
    return out


def main(reports_dir: str = REPORTS) -> int:
    found = pairs(reports_dir)
    if not found:
        print(f"no traced/untraced report pairs under {reports_dir}", file=sys.stderr)
        return 1
    by_workload: dict[str, dict[str, list[float]]] = {}
    for (wl, seed), (a, b) in sorted(found.items()):
        for m, v0 in a["end_to_end"].items():
            d = b["end_to_end"][m] - v0
            by_workload.setdefault(wl, {}).setdefault(m, []).append(d / v0)
            print(f"{wl:6s} seed {seed:>4s} {m:30s} untraced {v0:12.6g} traced {b['end_to_end'][m]:12.6g}"
                  f" diff {d:+12.6g} ({d / v0:+.1%})")
    for wl, ms in sorted(by_workload.items()):
        for m, rel in sorted(ms.items()):
            print(f"{wl:6s} median over {len(rel)} seeds {m:30s} {median(rel):+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
