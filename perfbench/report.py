#!/usr/bin/env python3
"""Print the traced runs' per-layer tables and tracing overhead.

    python3 perfbench/report.py            # every workload with a traced run
    python3 perfbench/report.py stream_xadd

Reads perfbench/out/<workload>-trace1.json (per-layer table with self
times, written by a --trace 1 run) and perfbench/out/<workload>-overhead.json
(traced minus untraced end-to-end figures, written when a --trace 1 run
follows a --trace 0 run of the same workload).
"""
import json
import os
import sys

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")


def load(path):
    with open(path) as fh:
        return json.load(fh)


def overhead(out_dir, workload):
    """Compare the traced run's end-to-end figures with the last untraced
    run of the same workload; write and return the comparison."""
    traced = os.path.join(out_dir, f"{workload}-trace1.json")
    plain = os.path.join(out_dir, f"{workload}-trace0.json")
    if not (os.path.exists(traced) and os.path.exists(plain)):
        return None
    t, u = load(traced), load(plain)
    rows = {}
    for name, tv in t["e2e"].items():
        uv = u["e2e"].get(name)
        if uv is not None:
            rows[name] = {"traced": tv, "untraced": uv, "diff": tv - uv,
                          "ratio": tv / uv if uv else None}
    rec = {"workload": workload, "traced_seed": t["record"]["seed"],
           "untraced_seed": u["record"]["seed"], "metrics": rows}
    with open(os.path.join(out_dir, f"{workload}-overhead.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    return rec


def show(workload):
    path = os.path.join(OUT, f"{workload}-trace1.json")
    if not os.path.exists(path):
        print(f"{workload}: no traced run in {OUT}")
        return
    side = load(path)
    layers = side["tables"].get("by_layer", {})
    total = sum(r["self_ms"] for r in layers.values()) or 1.0
    print(f"== {workload} (seed {side['record']['seed']}, {side['record']['seconds']} s)")
    print(f"{'layer':<10} {'spans':>8} {'self_ms':>12} {'share':>7} {'total_ms':>12}")
    for name, r in sorted(layers.items(), key=lambda kv: -kv[1]["self_ms"]):
        print(f"{name:<10} {int(r['spans']):>8} {r['self_ms']:>12.1f} "
              f"{r['self_ms'] / total:>7.1%} {r['total_ms']:>12.1f}")
    over = overhead(OUT, workload)
    if over:
        print(f"tracing overhead (traced seed {over['traced_seed']} vs untraced seed "
              f"{over['untraced_seed']}):")
        for name, r in over["metrics"].items():
            print(f"  {name:<18} untraced {r['untraced']:<12.6g} traced {r['traced']:<12.6g} "
                  f"diff {r['diff']:+.6g}")
    print()


def main():
    names = sys.argv[1:] or sorted({f.rsplit("-trace", 1)[0] for f in os.listdir(OUT)
                                     if f.endswith("-trace1.json")} if os.path.isdir(OUT) else [])
    for w in names:
        show(w)


if __name__ == "__main__":
    main()
