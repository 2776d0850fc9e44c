#!/usr/bin/env python3
"""Where the time goes, from the runs `run.py` has left in perfbench/work.

    python3 perfbench/report.py [N]

Prints the N (default 10) slowest queries of the traced batch runs,
split into registry build, planning and execution, with shuffle bytes,
task CPU against wall time and the final plan's most expensive nodes;
then the tracing overhead: a traced run's pass time minus an untraced
run's on the same workload and seed.
"""
import glob
import json
import os
import statistics
import sys

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work")


def summaries():
    for f in sorted(glob.glob(os.path.join(WORK, "*", "summary.json"))):
        s = json.load(open(f))
        if not s["smoke"] and s["plant"] == "none":
            yield s


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    rows, walls = [], {}
    for s in summaries():
        res = s["result"]
        walls.setdefault((s["workload"], s["seed"], s["trace"]), []).extend(
            p["wall_s"] for p in res["passes"])
        if not s["trace"] or s["workload"] == "unique_stream":
            continue
        for p in res["passes"]:
            for q in p["queries"]:
                if "layers" in q:
                    rows.append((s["workload"], s["seed"], res["cpus"], q))
    rows.sort(key=lambda r: -r[3]["query_s"])
    print(f"| query | workload | seed | total s | build s | plan s | exec s | shuffle MB "
          f"| task CPU s | task CPU / (total s x cpus) | leftover cache | top plan nodes (s) |")
    print("|" + "---|" * 12)
    for w, seed, cpus, q in rows[:n]:
        L = q["layers"]
        plan = L["analysis_s"] + L["optimization_s"] + L["planning_s"]
        exe = max(0.0, q["query_s"] - q["registry_s"] - plan)
        util = L["task_cpu_s"] / (q["query_s"] * cpus)
        nodes = ", ".join(f"{name} {sec:.2f}" for name, sec in L["top_nodes"][:3])
        print(f"| {q['name']} | {w} | {seed} | {q['query_s']:.3f} | {q['registry_s']:.3f} "
              f"| {plan:.3f} | {exe:.3f} | {L['shuffle_bytes'] / 1e6:.2f} | {L['task_cpu_s']:.3f} "
              f"| {util:.2f} | {q.get('cache_leftover', 0)} | {nodes} |")
    print()
    print("| workload | seed | untraced pass s | traced pass s | tracing overhead s |")
    print("|---|---|---|---|---|")
    for (w, seed, traced), ws in sorted(walls.items()):
        if traced and (w, seed, False) in walls:
            a = statistics.median(walls[(w, seed, False)])
            b = statistics.median(ws)
            print(f"| {w} | {seed} | {a:.3f} | {b:.3f} | {b - a:+.3f} |")


if __name__ == "__main__":
    main()
