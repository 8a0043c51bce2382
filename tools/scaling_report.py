#!/usr/bin/env python3
"""Turn `graft.tools.Probe scale`'s SCALE lines into the SCALING.md table body.

Usage: python3 tools/scaling_report.py /tmp/scaling_probe.log [copies=10]

Ratio uses min(run1, run2) at each SF (run1 carries first-file-listing
noise). The implied per-10x exponent is log(ratio)/log(copies): 1.0 =
perfectly linear in rows, <1 = fixed-cost-dominated, >1 = super-linear.
"""
import math
import re
import sys

copies = float(sys.argv[2]) if len(sys.argv) > 2 else 10.0
rows = []
for line in open(sys.argv[1]):
    m = re.match(
        r"SCALE (\S+)\s+small=([\d.]+)/([\d.]+) big=([\d.]+)/([\d.]+)", line)
    if m:
        name = m.group(1)
        s = min(float(m.group(2)), float(m.group(3)))
        b = min(float(m.group(4)), float(m.group(5)))
        rows.append((name, s, b))

print("| entry | sf0.1 (s) | sf1 (s) | ratio | exponent |")
print("|---|---|---|---|---|")
for name, s, b in sorted(rows, key=lambda r: -(r[2] / max(r[1], 0.01))):
    ratio = b / max(s, 0.01)
    exp = math.log(max(ratio, 0.01)) / math.log(copies)
    print(f"| {name} | {s:.2f} | {b:.2f} | {ratio:.1f}x | {exp:.2f} |")
