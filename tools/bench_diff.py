#!/usr/bin/env python3
"""Compare two Bench JSON artifacts (bench_out/bench.json or a BENCH_r0N.json
whose `raw` line parses) and flag per-query movements. Dev tool for keeping
perf regressions loud between rounds: a rows-only query that quietly doubles
is where rot hides (round-8 verdict, q88).

Usage: bench_diff.py OLD.json NEW.json [--threshold 1.5] [--floor 0.25]
Movements are only flagged when the larger side exceeds `floor` seconds
(sub-noise-floor swings on this shared box are meaningless) AND the ratio
exceeds `threshold` in either direction. Per-query codegen compile counts
(the artifacts' `"compiles"` key) are also compared: any increase is
flagged whatever the timing, since a warm query that starts compiling
(0 -> n) has a plan that defeats the codegen cache. Exit code 0 always —
informational.
"""
import json, sys

def load(path):
    with open(path) as f:
        d = json.load(f)
    if "queries" in d:
        return d
    raise SystemExit(f"{path}: no 'queries' key — pass a Bench artifact")

args, opts = [], {}
argv = sys.argv[1:]
i = 0
while i < len(argv):
    a = argv[i]
    if a.startswith("--"):
        if "=" in a:
            k, v = a.split("=", 1)
        else:
            k = a
            i += 1
            if i >= len(argv):
                raise SystemExit(f"{a}: missing value")
            v = argv[i]
        try:
            opts[k.lstrip("-")] = float(v)
        except ValueError:
            raise SystemExit(f"{k}: expected a number, got {v!r}")
    else:
        args.append(a)
    i += 1
unknown = set(opts) - {"threshold", "floor"}
if unknown or len(args) != 2:
    raise SystemExit(__doc__.strip())
threshold = opts.get("threshold", 1.5)
floor = opts.get("floor", 0.25)
old, new = load(args[0]), load(args[1])
oq, nq = old["queries"], new["queries"]

added = sorted(set(nq) - set(oq))
removed = sorted(set(oq) - set(nq))
rows = []
for q in sorted(set(oq) & set(nq)):
    a, b = oq[q], nq[q]
    if a < 0 or b < 0:
        rows.append((float("inf"), q, a, b, "FAILED" if b < 0 else "recovered"))
        continue
    if max(a, b) < floor:
        continue
    ratio = b / a if a > 0 else float("inf")
    if ratio >= threshold or ratio <= 1 / threshold:
        rows.append((max(ratio, 1 / ratio), q, a, b,
                     "slower" if ratio > 1 else "faster"))

print(f"total: {old.get('value')} -> {new.get('value')} s  "
      f"({len(oq)} -> {len(nq)} queries)")
if added:   print(f"added:   {', '.join(added)}")
if removed: print(f"removed: {', '.join(removed)}")
for _, q, a, b, tag in sorted(rows, reverse=True):
    print(f"  {tag:>9}  {q:<32} {a:7.3f} -> {b:7.3f} s")
if not rows:
    print(f"no per-query movement beyond {threshold}x above the {floor}s floor")

oc, nc = old.get("compiles"), new.get("compiles")
if oc is None or nc is None:
    side = "OLD" if oc is None else "NEW"
    print(f"compiles: {side} has no per-query \"compiles\" key; not compared")
else:
    more = sorted((q, oc[q], nc[q]) for q in set(oc) & set(nc) if nc[q] > oc[q])
    for q, a, b in more:
        print(f"  compiles  {q:<32} {a:7d} -> {b:7d}")
    if not more:
        print("no per-query compile-count increase")
