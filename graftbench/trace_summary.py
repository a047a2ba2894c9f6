#!/usr/bin/env python3
"""Summarise the traces a `--trace 1` run leaves in graftbench/.work/traces/:
self time per layer (largest first), span coverage of the timed region and
the tracing overhead, one block per trace file.

Usage: python3 graftbench/trace_summary.py [trace.json ...]
"""
import glob
import json
import os
import sys

LAYERS = ["workload", "capture", "batch", "apply", "reader", "query", "setup", "check"]


def summarise(path):
    with open(path) as fh:
        t = json.load(fh)
    lay = t["layers"]
    root = next(s for s in t["spans"] if s["layer"] == "workload")
    wall_ms = (root["end_ns"] - root["start_ns"]) / 1e6
    print(f"## {t['workload']} (seed {t['seed']}): traced region {wall_ms / 1000:.2f} s")
    for name, ms in sorted(((l, lay.get(f"self.{l}_ms", 0.0)) for l in LAYERS),
                           key=lambda x: -x[1]):
        if ms > 0:
            print(f"- self {name:9s} {ms / 1000:8.2f} s  ({ms / wall_ms:6.1%} of the region)")
    print(f"- spans {int(lay['trace.spans'])}, covering {lay['trace.covered_frac']:.1%}; "
          f"uncovered {lay['trace.uncovered_ms'] / 1000:.2f} s")
    print(f"- tracing overhead (traced − the later untraced headline time): "
          f"{lay['trace.overhead_ms']:.0f} ms")
    print()


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    paths = sys.argv[1:] or sorted(glob.glob(os.path.join(here, ".work", "traces", "*.json")))
    if not paths:
        sys.exit("no traces: run graftbench/run.py with --trace 1 first")
    for p in paths:
        summarise(p)


if __name__ == "__main__":
    main()
