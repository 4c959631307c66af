"""Summarize a traced run: per-layer self time (span time minus the
time of its child spans), time outside every span, and the cost of
tracing itself.

Usage: python3 perfbench/summarize.py TRACE.json
(write TRACE.json with ``perfbench/run.py --trace 1 --trace-out TRACE.json``)
"""

from __future__ import annotations

import json
import sys

from spans import Span, layer_totals, self_times


def summary_lines(spans: list[Span], run_s: float, untraced_run_s: float) -> list[str]:
    self_s = self_times(spans)
    totals = layer_totals(spans)
    lines = [f"{'layer':<32} {'self_s':>9} {'calls':>6} {'jobs':>6} {'stages':>6} {'tasks':>6}"]
    for layer, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
        t = totals[layer]
        lines.append(
            f"{layer:<32} {s:>9.3f} {t['calls']:>6} {t['jobs']:>6} {t['stages']:>6} {t['tasks']:>6}"
        )
    other = run_s - sum(self_s.values())
    lines.append(f"{'bench.other_s':<32} {other:>9.3f}")
    lines.append(f"{'run_s (traced)':<32} {run_s:>9.3f}")
    lines.append(f"{'trace.overhead_s':<32} {run_s - untraced_run_s:>9.3f}")
    return lines


def main(path: str) -> None:
    with open(path) as f:
        doc = json.load(f)
    spans = [Span(**s) for s in doc["spans"]]
    print("\n".join(summary_lines(spans, doc["run_s"], doc["untraced_run_s"])))


if __name__ == "__main__":
    main(sys.argv[1])
