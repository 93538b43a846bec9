"""Markdown summary of ``run.py --report`` files: end-to-end metrics of
untraced and traced runs side by side (the tracing overhead), every
per-layer metric per workload, and per-query-class figures.

    python3 perfbench/summarize.py perfbench/results/*.json
"""

from __future__ import annotations

import json
import sys


def _fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(paths: list[str]) -> None:
    runs = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        runs[(r["workload"], r["trace"])] = r
    workloads = sorted({w for w, _ in runs})
    first = next(iter(runs.values()))
    print(f"Host: {json.dumps(first['host'])}\n")

    print("## End to end, untraced vs traced\n")
    print("| workload | metric | untraced | traced | traced ÷ untraced |")
    print("|---|---|---|---|---|")
    for w in workloads:
        plain, traced = runs.get((w, 0)), runs.get((w, 1))
        if not (plain and traced):
            continue
        for name, v in plain["end_to_end"].items():
            t = traced["end_to_end"][name]
            print(f"| {w} | {name} | {_fmt(v)} | {_fmt(t)} | {t / v:.3f} |")
    print()

    traced = [w for w in workloads if (w, 1) in runs]
    print("## Per layer (traced runs)\n")
    print("| metric | " + " | ".join(traced) + " |")
    print("|---|" + "---|" * len(traced))
    for name in runs[(traced[0], 1)]["per_layer"]:
        row = [_fmt(runs[(w, 1)]["per_layer"][name]) for w in traced]
        print(f"| {name} | " + " | ".join(row) + " |")
    print()

    print("## Per query class (traced runs)\n")
    print("| workload | class | queries | p50 s | scans | jobs | expanded terms |")
    print("|---|---|---|---|---|---|---|")
    for w in traced:
        for cls, row in runs[(w, 1)]["by_class"].items():
            print(f"| {w} | {cls} | {row['n']} | {_fmt(row['p50_s'])} | "
                  f"{_fmt(row.get('scans', ''))} | {_fmt(row.get('jobs', ''))} | "
                  f"{_fmt(row.get('expansion_terms', ''))} |")
    print()
    for (w, t), r in sorted(runs.items()):
        print(f"- {w}, trace={t}: seed {r['seed']}, {r['seconds']} s, "
              f"{r['result']['attempted']} checked operations, "
              f"{r['result']['failed']} failed; extras {json.dumps(r['extra'])}")


if __name__ == "__main__":
    main(sys.argv[1:])
