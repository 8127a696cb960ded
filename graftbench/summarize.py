#!/usr/bin/env python3
"""Summarize graftbench traces: per-layer self time per op kind.

    python3 graftbench/summarize.py TRACED_OUT [TRACED_OUT ...] [--untraced OUT ...]

TRACED_OUT is the `out` directory of a run made with --trace 1 (run.py
prints it as out=...); it holds trace.jsonl and result.json. Every
instant of an op is charged to the innermost span covering it: a Spark
job over a graft-rule span over a Spark phase (analysis, optimization,
planning) over the benchmark's call spans (deeper calls first) over the
op's root span. Time covered by nothing but the root is the
unattributed remainder. With --untraced, the end-to-end metrics of the
untraced runs of the same workload are compared with the traced ones:
the difference is the tracing overhead.
"""
import argparse
import collections
import json
import os
import statistics

RANK = {"spark.jobs": 4, "graft.rules": 3,
        "spark.analysis": 2, "spark.optimization": 2, "spark.planning": 2, "spark.parsing": 2}


def load(out_dir):
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def self_times(spans):
    """{layer: microseconds} for the spans of one op; root is parent 0 and layer unattributed."""
    root = next(s for s in spans if s["parent"] == 0 and s["layer"] == "unattributed")
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d, p = 0, s["parent"]
        while p in by_id:
            d, p = d + 1, by_id[p]["parent"]
        return d

    def prio(s):
        if s is root:
            return (0, 0)
        if s["parent"] == 0:  # a Spark phase, graft-rule or job span
            return (RANK.get(s["layer"], 2), 0)
        return (1, depth(s))  # a call span: deeper calls win

    lo, hi = root["start_us"], root["end_us"]
    cuts = sorted({lo, hi} | {min(max(x, lo), hi) for s in spans for x in (s["start_us"], s["end_us"])})
    out = collections.Counter()
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        cover = [s for s in spans if s["start_us"] <= a and s["end_us"] >= b]
        top = max(cover, key=prio) if cover else root
        out[top["layer"]] += b - a
    return out, hi - lo


def summarize(out_dir):
    ops = collections.defaultdict(list)
    with open(os.path.join(out_dir, "trace.jsonl")) as f:
        for line in f:
            s = json.loads(line)
            ops[s["op"]].append(s)
    kinds = collections.defaultdict(lambda: [collections.Counter(), 0, 0])
    workload = None
    for spans in ops.values():
        if not any(s["parent"] == 0 and s["layer"] == "unattributed" for s in spans):
            continue
        workload = spans[0]["workload"]
        layers, wall = self_times(spans)
        k = kinds[spans[0]["kind"]]
        k[0].update(layers)
        k[1] += wall
        k[2] += 1
    return workload, kinds


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("traced", nargs="+")
    ap.add_argument("--untraced", nargs="*", default=[])
    a = ap.parse_args()
    for d in a.traced:
        workload, kinds = summarize(d)
        print(f"== {workload} ({d})")
        total_wall = sum(k[1] for k in kinds.values())
        total_un = sum(k[0]["unattributed"] for k in kinds.values())
        for kind, (layers, wall, n) in sorted(kinds.items()):
            parts = ", ".join(f"{l} {v / n / 1000:.1f}" for l, v in layers.most_common() if v > 0)
            print(f"  {kind:<15} n={n:<4} wall_ms={wall / n / 1000:8.1f}  "
                  f"unattributed={layers['unattributed'] / max(1, wall):6.1%}  self_ms: {parts}")
        print(f"  unattributed remainder: {total_un / max(1, total_wall):.1%} of op wall time")
        traced = load(d)["end_to_end"]
        base = [load(u)["end_to_end"] for u in a.untraced if load(u)["workload"] == workload]
        for name, v in sorted(traced.items()):
            if base:
                ref = statistics.median(b[name] for b in base)
                print(f"  overhead {name}: traced {v:.3f} vs untraced median {ref:.3f} "
                      f"({(v - ref) / ref:+.1%})")


if __name__ == "__main__":
    main()
