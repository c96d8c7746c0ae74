#!/usr/bin/env python3
"""Interleaved A/B of the KG benchmark between two source trees.

    python jobs/ab_perfbench.py <parent_tree> <change_tree> --workload kg_build --pairs 10

Pair i runs `perfbench/run.py --workload W --seed <first_seed + i>
--seconds 1 --trace 0` once from each tree, on the same seed, in that
tree's own directory; even pairs run the parent first, odd pairs the
change first, so drift of a shared host lands on both sides alike.  For
every end-to-end metric in the parent tree's BENCHMARK.json it prints
each side's per-run values, median and quartiles
(`statistics.quantiles(n=4)`), the pairs the change wins (ties count for
neither side), and whether the gap between the medians exceeds the
parent's interquartile range.  Each run's value is printed as
`value@steal%`: the host's CPU steal over that run, read from the run's
`perfbench_context` line (`stamps.steal_pct`), since the spread between
runs tracks steal.  A run whose output check fails is
reported and left out of its pair; a run that outlasts `RUN_TIMEOUT_S`
is stopped and reported the same way.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

RUN_TIMEOUT_S = 600


def run_side(tree: Path, workload: str, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0"]
    t = time.perf_counter()
    try:
        proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"seed": seed, "exit": "timeout", "run_s": round(time.perf_counter() - t, 1)}
    lines = proc.stdout.strip().splitlines()
    out = {"seed": seed, "exit": proc.returncode, "run_s": round(time.perf_counter() - t, 1)}
    if proc.returncode or not lines:
        out["error"] = proc.stderr[-2000:]
        return out
    res = json.loads(lines[-1])
    out["correct"] = res["correct"] and not res["failed"]
    ctx = next((json.loads(x)["perfbench_context"] for x in lines
                if x.startswith('{"perfbench_context"')), {})
    steal = ctx.get("stamps", {}).get("steal_pct")
    out["steal_pct"] = None if steal is None else round(steal, 1)
    out["metrics"] = {k: v["value"] for k, v in res["metrics"].items()}
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def with_steal(xs: list[float], steal: list) -> str:
    return " ".join(f"{x:.4g}@{'?' if s is None else f'{s:.1f}'}%" for x, s in zip(xs, steal))


def summarize(pairs: list[dict], metrics: list[dict]) -> list[str]:
    ok = [p for p in pairs if p["parent"].get("correct") and p["change"].get("correct")]
    lines = [f"{len(ok)} of {len(pairs)} pairs have both runs correct"]
    for p in pairs:
        for side in ("parent", "change"):
            r = p[side]
            if not r.get("correct"):
                lines.append(f"  seed {r['seed']} {side}: FAILED (exit {r['exit']})")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"]["metrics"][name] for p in ok]
        b = [p["change"]["metrics"][name] for p in ok]
        steal = {side: [p[side]["steal_pct"] for p in ok] for side in ("parent", "change")}
        if not a:
            continue
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        losses = sum((y > x) if lower else (y < x) for x, y in zip(a, b))
        qa, qb = quartiles(a), quartiles(b)
        gap = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
        lines += [
            f"{name} ({m['unit']}, {m['better']} is better, bound {m['bound']})",
            f"  parent: {with_steal(a, steal['parent'])}",
            f"  change: {with_steal(b, steal['change'])}",
            f"  parent median {qa[1]:.4g} (Q1-Q3 {qa[0]:.4g}-{qa[2]:.4g})",
            f"  change median {qb[1]:.4g} (Q1-Q3 {qb[0]:.4g}-{qb[2]:.4g})",
            f"  change wins {wins}/{len(ok)} pairs, loses {losses}; median gain "
            f"{gap:.4g} ({100 * gap / qa[1]:+.1f}%) vs parent IQR {qa[2] - qa[0]:.4g}"
            f" ({'exceeds' if gap > qa[2] - qa[0] else 'within'})",
        ]
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("parent_tree", type=Path)
    ap.add_argument("change_tree", type=Path)
    ap.add_argument("--workload", required=True, choices=("kg_build", "kg_query"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=401)
    args = ap.parse_args()
    trees = {"parent": args.parent_tree.resolve(), "change": args.change_tree.resolve()}
    metrics = json.loads((trees["parent"] / "BENCHMARK.json").read_text())["end_to_end"]

    pairs = []
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_side(trees[side], args.workload, seed)
            m = pair[side].get("metrics", {})
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                  f"wall_s={m.get('wall_s')} steal={pair[side].get('steal_pct')}% "
                  f"correct={pair[side].get('correct')} "
                  f"({pair[side]['run_s']} s)", flush=True)
        pairs.append(pair)
    print("\n".join(summarize(pairs, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
