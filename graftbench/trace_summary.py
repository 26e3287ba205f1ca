#!/usr/bin/env python3
"""Per-workload layer table from the span files a traced run writes.

    python3 graftbench/trace_summary.py [span files...]

Without arguments it reads every `.bench_build/trace/*.json`. For each
workload it prints every stage span (`<layer>.<op>`) and every layer with its
self time per traced round (the span's duration minus the part its child spans
cover) and that time's share of the traced rounds' median `wall_s`. Spans from
the probes outside the rounds (round -1) are listed separately; they add no
wall time. Concurrent spans (background compaction beside a micro-batch) can
make the shares sum past 100%.
"""
import glob
import json
import statistics
import sys
from collections import defaultdict


def union(intervals):
    total, cur = 0.0, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def self_times(spans):
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"] - union(kids)) / 1e3
    return out


def main(paths):
    paths = paths or sorted(glob.glob(".bench_build/trace/*.json"))
    if not paths:
        sys.exit("no span files: run the benchmark with --trace 1 first")
    by_workload = defaultdict(list)
    for p in paths:
        with open(p) as f:
            run = json.load(f)
        by_workload[run["workload"]].append(run)
    for workload, runs in sorted(by_workload.items()):
        stage = defaultdict(float)
        layer = defaultdict(float)
        probe = defaultdict(float)
        walls, n_rounds = [], 0
        for run in runs:
            traced = {r["round"] for r in run["rounds"] if r["traced"] and r["wall_s"] is not None}
            walls += [r["wall_s"] for r in run["rounds"] if r["round"] in traced]
            n_rounds += len(traced)
            selfs = self_times(run["spans"])
            for s in run["spans"]:
                if s["round"] in traced:
                    stage[s["name"]] += selfs[s["id"]]
                    layer[s["name"].split(".")[0]] += selfs[s["id"]]
                elif s["round"] < 0:
                    probe[s["name"]] += (s["end_ms"] - s["start_ms"]) / 1e3
        if not n_rounds:
            continue
        wall = statistics.median(walls)
        print(f"\n{workload}: {len(runs)} run(s), {n_rounds} traced round(s), median wall_s {wall:.3f}")
        print(f"  {'span':32} {'self s/round':>13} {'share':>7}")
        for name, v in sorted(stage.items(), key=lambda kv: -kv[1]):
            print(f"  {name:32} {v / n_rounds:13.3f} {v / n_rounds / wall:7.1%}")
        print(f"  {'layer':32}")
        for name, v in sorted(layer.items(), key=lambda kv: -kv[1]):
            print(f"  {name:32} {v / n_rounds:13.3f} {v / n_rounds / wall:7.1%}")
        for name, v in sorted(probe.items()):
            print(f"  probe {name:26} {v / len(runs):13.3f}   (outside wall_s)")


if __name__ == "__main__":
    main(sys.argv[1:])
