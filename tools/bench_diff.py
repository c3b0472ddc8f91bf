#!/usr/bin/env python3
"""Diff a bench detail file against the checked-in per-query baseline.

Usage: python3 tools/bench_diff.py [BENCH_LOCAL.json [BENCH_BASELINE_PERQ.json]]

Flags, mirroring the in-bench gate (Bench.scala):
  REGRESSION  > 1.5x baseline AND > 0.3s absolute over it
              (the absolute floor keeps sub-half-second shared-host
              noise out of the gate; r10 saw 3x movers at 0.12->0.37s
              on unchanged code). Compared on the run's MIN sample
              ("queries_min") when present, median otherwise: a
              shared-host CPU-steal window inflates the median of an
              isolated run (r11: an_pagerank 14.1s median in-battery
              vs a flat 3.1-4.0s series in isolation), but a real code
              regression slows every sample including the min.
              The 1.5x threshold is scaled by a HOST FACTOR (median
              min/baseline ratio over >0.3s queries, floored at 1.0):
              a uniformly slower host is a machine shift, not a code
              regression. When the run carries a "retried" map (the
              in-bench end-of-battery confirmation re-runs), those
              merged mins override the battery min for the flagged
              queries — a contention window that covered a sorted block
              of the battery has usually passed by re-run time.
  NEW         query present in the run but absent from the baseline
  GONE        query present in the baseline but absent from the run
  IMPROVED    informational: < 0.67x baseline and > 0.3s under it

Exit code 1 when any REGRESSION or GONE exists (NEW alone is fine —
a freshly added query simply has no baseline yet).

Per-step mode: python3 tools/bench_diff.py --steps A.json B.json

Reads `stamp.step_median_s` from two perfbench result files
(.bench_build/results/<workload>-seed<n>-trace<t>.json), prints each
step's median wall time in A and B with the delta, then step_p50_s
(the median over steps) on each side with the step(s) that set it, so
a step_p50_s move names the step behind it. Always exits 0.
"""
import json
import statistics
import sys


def median_steps(medians: dict) -> list:
    """The step(s) whose median wall time is step_p50_s: one for an odd
    step count, the two middle ones for an even count."""
    order = sorted(medians, key=medians.get)
    mid = len(order) // 2
    return order[mid:mid + 1] if len(order) % 2 else order[mid - 1:mid + 1]


def steps_diff(a_path: str, b_path: str) -> int:
    a = json.load(open(a_path))["stamp"]["step_median_s"]
    b = json.load(open(b_path))["stamp"]["step_median_s"]
    names = list(a) + [n for n in b if n not in a]
    width = max(len(n) for n in names)
    print(f"{'step':<{width}}  {'A (s)':>8}  {'B (s)':>8}  {'delta (s)':>9}")
    for name in names:
        ta, tb = a.get(name), b.get(name)
        cells = ["-" if t is None else f"{t:.3f}" for t in (ta, tb)]
        delta = (f"{tb - ta:+.3f}" if ta is not None and tb is not None
                 else f"only in {'A' if tb is None else 'B'}")
        print(f"{name:<{width}}  {cells[0]:>8}  {cells[1]:>8}  {delta:>9}")
    for label, m in (("A", a), ("B", b)):
        print(f"step_p50_s {label}: {statistics.median(m.values()):.3f}s "
              f"(set by {', '.join(median_steps(m))})")
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--steps":
        if len(sys.argv) != 4:
            print("usage: bench_diff.py --steps A.json B.json", file=sys.stderr)
            return 2
        return steps_diff(sys.argv[2], sys.argv[3])
    run_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_LOCAL.json"
    base_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_BASELINE_PERQ.json"
    run = json.load(open(run_path))
    base = json.load(open(base_path))
    run_q = run["queries"]          # medians: reported totals/ratios
    gate_q = run.get("queries_min", run_q)  # mins: what the gate compares
    base_q = base["queries"]

    run_sf = str(run.get("sf", ""))
    base_sf = str(base.get("sf", ""))
    if base_sf and not run_sf.endswith(base_sf):
        print(f"NOTE: run sf={run_sf!r} does not match baseline sf={base_sf!r}; "
              "ratios are cross-scale, not regressions.")

    failed = run.get("failed", [])
    if failed:
        print(f"FAILED ({len(failed)}): {', '.join(failed)}")

    retried = run.get("retried", {})
    # Failed queries record near-zero times — exclude them so they cannot
    # drag the median ratio toward 0 and suppress a real host factor.
    ratios = sorted(gate_q[n] / base_q[n] for n in gate_q
                    if n in base_q and base_q[n] > 0.3 and n not in failed)
    host_raw = max(1.0, ratios[len(ratios) // 2]) if len(ratios) >= 8 else 1.0
    # Capped at 1.5x (mirrors Bench.scala): an engine-wide real regression
    # would otherwise scale the threshold up with itself and pass clean.
    host = min(host_raw, 1.5)
    if host_raw > 1.5:
        print(f"WARNING: raw host factor {host_raw:.2f}x exceeds the 1.5x cap "
              "— uniform slowdown across the battery; treat this run as "
              "suspect, not as host noise.")
    if host > 1.0:
        print(f"HOST FACTOR {host:.2f}x (median min/baseline over >0.3s "
              "queries); regression threshold scaled accordingly")

    regressions, improved = [], []
    for name in sorted(run_q):
        if name not in base_q or name in failed:
            continue
        t = min(gate_q.get(name, run_q[name]), retried.get(name, float("inf")))
        b = base_q[name]
        if t > b * 1.5 * host and t - b > 0.3:
            regressions.append((name, b, t))
        elif t < b * 0.67 and b - t > 0.3:
            improved.append((name, b, t))

    new = sorted(set(run_q) - set(base_q))
    gone = sorted(set(base_q) - set(run_q))

    for name, b, t in regressions:
        print(f"REGRESSION  {name}: {b:.3f}s -> {t:.3f}s ({t / b:.2f}x)")
    for name in new:
        print(f"NEW         {name}: {run_q[name]:.3f}s (no baseline)")
    for name in gone:
        print(f"GONE        {name}: was {base_q[name]:.3f}s")
    for name, b, t in improved:
        print(f"IMPROVED    {name}: {b:.3f}s -> {t:.3f}s ({t / b:.2f}x)")

    common = set(run_q) & set(base_q)
    rt = sum(run_q[n] for n in common)
    bt = sum(base_q[n] for n in common)
    print(f"common set: {len(common)} queries, baseline {bt:.1f}s -> run {rt:.1f}s "
          f"({rt / bt:.2f}x)" if common else "no common queries")
    print(f"summary: {len(regressions)} regression(s), {len(new)} new, "
          f"{len(gone)} gone, {len(improved)} improved, {len(failed)} failed")
    return 1 if (regressions or gone or failed) else 0


if __name__ == "__main__":
    sys.exit(main())
