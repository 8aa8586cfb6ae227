#!/usr/bin/env python3
"""Compare two sets of WireBench `--trace 1` span files, layer by layer.

A traced run (`python3 perfbench/run.py --workload W --seed S --trace 1`)
writes one JSON object per span to .bench_build/wirebench/spans/W-seedS.jsonl:
{"span", "stmt", "name", "start_ns", "end_ns", "parent"}. A span's self
time is its duration minus its children's. Runs with the same seed replay
the same statements, so spans pair up by (stmt, name).

For each (stmt, layer) this prints the median self time over the BEFORE
files, over the AFTER files, and the difference; then, per layer, the
median over statements of those medians (the figure `--trace 1` reports
as <layer>_ms / _us). Times are in microseconds. It reads files only.

Usage: span_diff.py BEFORE AFTER [--layer NAME ...] [--summary]
  BEFORE, AFTER  a .jsonl span file or a directory of them (e.g. copies
                 of spans/ from parent and change runs)
  --layer NAME   only these layers (e.g. Compat.rewrite Handlers.runSql)
  --summary      print only the per-layer lines
"""
import argparse
import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def files(path):
    if os.path.isdir(path):
        found = sorted(glob.glob(os.path.join(path, "*.jsonl")))
        if not found:
            raise SystemExit(f"span_diff: no .jsonl files in {path}")
        return found
    return [path]


def self_times(path):
    """{(stmt, name): self time in us} for one span file; a layer timed
    several times in one statement (Spark.iter per chunk) is summed."""
    spans = []
    with open(path) as f:
        for line in f:
            if line.strip():
                spans.append(json.loads(line))
    child_ns = defaultdict(int)
    for s in spans:
        if s["parent"] is not None:
            child_ns[s["parent"]] += s["end_ns"] - s["start_ns"]
    out = defaultdict(float)
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - child_ns[s["span"]]
        out[(s["stmt"], s["name"])] += own / 1e3
    return out


def medians(paths):
    """{(stmt, name): median self time over the files}"""
    per = defaultdict(list)
    for p in paths:
        for key, us in self_times(p).items():
            per[key].append(us)
    return {k: statistics.median(v) for k, v in per.items()}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--layer", nargs="*", default=None)
    ap.add_argument("--summary", action="store_true")
    args = ap.parse_args(argv)
    bfiles, afiles = files(args.before), files(args.after)
    b, a = medians(bfiles), medians(afiles)
    keys = sorted(set(b) | set(a), key=lambda k: (k[0], k[1]))
    if args.layer:
        keys = [k for k in keys if k[1] in args.layer]
    print(f"# before: {len(bfiles)} file(s), after: {len(afiles)} file(s); self time in us")
    if not args.summary:
        print(f"{'stmt':>5}  {'layer':<28} {'before':>12} {'after':>12} {'diff':>12}")
        for k in keys:
            if k in b and k in a:
                print(f"{k[0]:>5}  {k[1]:<28} {b[k]:>12.1f} {a[k]:>12.1f} {a[k] - b[k]:>+12.1f}")
            else:
                side = "before" if k in b else "after"
                print(f"{k[0]:>5}  {k[1]:<28} only in {side}")
    print(f"{'layer':<28} {'stmts':>5} {'before':>12} {'after':>12} {'diff':>12}")
    for layer in sorted({k[1] for k in keys}):
        both = [k for k in keys if k[1] == layer and k in b and k in a]
        if both:
            mb = statistics.median(b[k] for k in both)
            ma = statistics.median(a[k] for k in both)
            print(f"{layer:<28} {len(both):>5} {mb:>12.1f} {ma:>12.1f} {ma - mb:>+12.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
