"""Paired A/B of the perfbench benchmark between two checkouts.

    python3 scripts/ab_pairs.py --base ../parent --change . \\
        --workload steady_tail --pairs 10 [--seed0 1] [--trace 0] \\
        [--out ab.json]

Each pair runs the unchanged ``perfbench/run.py`` of both checkouts on
the same seed (``seed0 + i`` for pair ``i``) for the ``run_seconds``
that ``BENCHMARK.json`` sets, one after the other, and
swaps which side goes first in every other pair, so a host that drifts
in minute-long phases loads both sides alike. For every metric both runs
report, it prints the two sides' medians, the base side's interquartile
range, the median and IQR of the per-pair ratios (change / base) and how
many pairs the change won, using the ``better`` direction that the base
checkout's ``BENCHMARK.json`` declares. A failed run (non-zero exit, no
result line, or failed operations) is reported and counted, never
dropped silently. ``--out`` keeps every run's result line. The two
checkouts must declare the same ``run_seconds``.

Nothing under ``perfbench/`` is changed: each checkout runs its own copy.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN_TIMEOUT_S = 900  # per perfbench run; a hung run counts as failed


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", required=True, help="checkout of the parent")
    p.add_argument("--change", required=True, help="checkout of the change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="write every run's result here (JSON)")
    return p.parse_args(argv)


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One ``perfbench/run.py`` run in ``checkout``; its result line plus
    the wall time and exit code."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(
            cmd, cwd=checkout, capture_output=True, text=True,
            timeout=RUN_TIMEOUT_S,
        )
        code, out = proc.returncode, proc.stdout
    except subprocess.TimeoutExpired:
        code, out = None, ""
    wall = time.perf_counter() - t0
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    return {"seed": seed, "exit": code, "wall_s": round(wall, 1), "result": result}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; a single value repeats."""
    if len(xs) < 2:
        return (xs[0],) * 3
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def benchmark(checkout: str) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def directions(bench: dict) -> dict[str, str]:
    return {
        m["name"]: m["better"]
        for m in bench.get("end_to_end", []) + bench.get("per_layer", [])
    }


def summarise(pairs: list[dict], better: dict[str, str]) -> list[dict]:
    """Per metric: both sides' medians, the base IQR, per-pair ratio
    median and IQR, and the change's wins."""
    ok = [p for p in pairs if p["base"]["result"] and p["change"]["result"]]
    names = []
    for p in ok:
        for name in p["base"]["result"]["metrics"]:
            if name in p["change"]["result"]["metrics"] and name not in names:
                names.append(name)
    rows = []
    for name in names:
        b, c, ratios, wins = [], [], [], 0
        for p in ok:
            bv = p["base"]["result"]["metrics"][name]["value"]
            cv = p["change"]["result"]["metrics"][name]["value"]
            b.append(bv)
            c.append(cv)
            if bv:
                ratios.append(cv / bv)
            if better.get(name) == "lower":
                wins += cv < bv
            elif better.get(name) == "higher":
                wins += cv > bv
        if not any(b) and not any(c):
            continue  # a layer this workload bypasses
        bq1, bmed, bq3 = quartiles(b)
        rq1, rmed, rq3 = quartiles(ratios) if ratios else (float("nan"),) * 3
        rows.append({
            "metric": name, "better": better.get(name, "?"),
            "base_median": bmed, "base_iqr": bq3 - bq1,
            "change_median": quartiles(c)[1],
            "ratio_median": rmed, "ratio_iqr": rq3 - rq1,
            "wins": wins, "pairs": len(ok),
        })
    return rows


def main(argv=None) -> int:
    a = _args(argv)
    bench = benchmark(a.base)
    seconds = bench["run_seconds"]
    if benchmark(a.change).get("run_seconds") != seconds:
        sys.exit("the two checkouts' BENCHMARK.json set different run_seconds")
    better = directions(bench)
    pairs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(
                getattr(a, side), a.workload, seed, seconds, a.trace
            )
        pairs.append(pair)
        brief = {
            s: (pair[s]["result"] or {}).get("metrics", {}).get("latency_s", {}).get("value")
            for s in ("base", "change")
        }
        print(f"pair {i + 1}/{a.pairs} seed {seed} first={order[0]} latency_s {brief}",
              file=sys.stderr, flush=True)

    failed = {s: 0 for s in ("base", "change")}
    attempted = dict(failed)
    broken = dict(failed)
    for p in pairs:
        for s in failed:
            r = p[s]["result"]
            if r is None or p[s]["exit"] != 0:
                broken[s] += 1
            if r:
                failed[s] += r.get("failed", 0)
                attempted[s] += r.get("attempted", 0)
    rows = summarise(pairs, better)
    print(f"{a.workload}: {len(pairs)} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}, "
          f"order swapped every other pair")
    for s in ("base", "change"):
        print(f"  {s}: {failed[s]} failed of {attempted[s]} operations, "
              f"{broken[s]} runs without a result")
    print(f"  {'metric':<34}{'better':>7}{'base med':>12}{'base IQR':>11}"
          f"{'change med':>12}{'ratio med':>11}{'ratio IQR':>11}{'wins':>7}")
    for r in rows:
        print(f"  {r['metric']:<34}{r['better']:>7}{r['base_median']:>12.4g}"
              f"{r['base_iqr']:>11.3g}{r['change_median']:>12.4g}"
              f"{r['ratio_median']:>11.3f}{r['ratio_iqr']:>11.3f}"
              f"{r['wins']:>4}/{r['pairs']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"args": vars(a), "pairs": pairs, "summary": rows}, f, indent=1)
    return 0 if not any(broken.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
