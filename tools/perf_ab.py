#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload between two checkouts.

Usage: perf_ab.py --base <dir> [--change <dir>] --workload W [--seeds 101-105]
                  [--seconds S]

For every seed it runs `python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0` once in each checkout, alternating which goes
first from seed to seed so drift in machine load falls on both sides
alike. Each checkout builds from its own sources into its own build
directory. It then prints, for every end-to-end metric that
BENCHMARK.json (read from the change checkout) declares:

  - the median on each side,
  - the change's delta in %, signed so that positive is better,
  - each side's spread as IQR/median,
  - in how many seed pairs the change was better,
  - the metric's bound,
  - whether a gain is claimable: `gain` when the change won at least
    nine tenths of all seed pairs run (ties count for neither) and its
    median differs from the base's by more than the base's IQR, else `-`.

Report lines a run prints as `name value unit` besides its result
object (e.g. recall_at_10, peak_heap_mb) follow with each side's
median and the per-pair change-minus-base range; they have no bound.
So does `requests`, the count of the run's `# requests N attempted`
line. A report line averaged over requests (recall_at_10 over the
queries served) compares between the sides only at equal request
counts: the faster side serves more requests in the same run time, so
it averages over more of the workload's query pool.

Exit status: 0 when every run was correct and no metric's median is
worse than the base's by more than its bound; 1 otherwise (an
incorrect or failed run, a larger failed-request share, or a metric
past its bound); 2 on bad arguments.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path


def parse_seeds(text):
    """`101-105` or `1,2,7` (or a mix) -> list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


REPORT_LINE = re.compile(r"^([a-z][a-z0-9_.]*)\s+(-?[0-9][0-9.e+-]*)\s")
REQUESTS_LINE = re.compile(r"^# requests ([0-9]+) attempted")


def run(checkout, workload, seed, seconds):
    """One untraced run in `checkout`: its result object with the run's
    report lines under "report", or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        print(f"[perf_ab] {checkout} seed {seed}: no result (exit {proc.returncode})\n"
              + "\n".join(proc.stderr.strip().splitlines()[-10:]), file=sys.stderr)
        return None
    result["report"] = {m.group(1): float(m.group(2)) for m in map(REPORT_LINE.match, lines[:-1])
                        if m and m.group(1) not in result.get("metrics", {})}
    result["report"].update(("requests", float(m.group(1)))
                            for m in map(REQUESTS_LINE.match, lines[:-1]) if m)
    return result


def iqr(values):
    """Distance between the quartiles (0 for fewer than two values)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def spread(values):
    """IQR / median (0 for fewer than two values)."""
    med = statistics.median(values)
    return iqr(values) / med if med else float("inf")


def claimable(wins, pairs_run, base, change):
    """A gain may be claimed when the change won at least 9 of every 10
    pairs run and the medians differ by more than the base's IQR."""
    return (10 * wins >= 9 * pairs_run
            and abs(statistics.median(change) - statistics.median(base)) > iqr(base))


def failed_share(results):
    attempted = sum(r.get("attempted", 0) for r in results)
    return sum(r.get("failed", 0) for r in results) / attempted if attempted else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=".", help="checkout of the change (default: .)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="101-105", help="e.g. 101-105 or 1,2,3")
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    a = ap.parse_args()
    base, change = Path(a.base).resolve(), Path(a.change).resolve()
    spec = json.loads((change / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        ap.error(f"unknown workload {a.workload}")
    seconds = a.seconds or spec["run_seconds"]
    seeds = parse_seeds(a.seeds)

    results = {"base": [], "change": []}
    ok = True
    for i, seed in enumerate(seeds):
        order = [("base", base), ("change", change)]
        for side, checkout in (order if i % 2 == 0 else order[::-1]):
            r = run(checkout, a.workload, seed, seconds)
            if r is None or not r.get("correct"):
                ok = False
                print(f"[perf_ab] {side} seed {seed}: incorrect run", file=sys.stderr)
            results[side].append(r)
        print(f"[perf_ab] seed {seed} done ({'base first' if i % 2 == 0 else 'change first'})",
              file=sys.stderr)
    pairs = [(b, c) for b, c in zip(results["base"], results["change"]) if b and c]

    print(f"# {a.workload}: {len(pairs)} of {len(seeds)} seed pairs, {seconds:g} s each")
    print(f"# {'metric':14s} {'base':>11s} {'change':>11s} {'delta':>8s} "
          f"{'iqr/med b':>9s} {'iqr/med c':>9s} {'wins':>6s} {'bound':>6s} {'claim':>5s}")
    for m in spec["end_to_end"]:
        name, bound, higher = m["name"], m["bound"], m["better"] == "higher"
        got = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
               for b, c in pairs if name in b["metrics"] and name in c["metrics"]]
        if not got:
            print(f"  {name:14s} (not reported)")
            continue
        bv, cv = [g[0] for g in got], [g[1] for g in got]
        mb, mc = statistics.median(bv), statistics.median(cv)
        gain = (mc - mb) / mb if mb else 0.0
        if not higher:
            gain = -gain
        wins = sum((c > b) if higher else (c < b) for b, c in got)
        worse = gain < -bound
        ok = ok and not worse
        claim = "gain" if claimable(wins, len(seeds), bv, cv) else "-"
        print(f"  {name:14s} {mb:11.4g} {mc:11.4g} {100 * gain:+7.1f}% "
              f"{spread(bv):9.3f} {spread(cv):9.3f} {wins:>3d}/{len(got):<2d} "
              f"{bound:6.2f} {claim:>5s}{'  WORSE' if worse else ''}")
    names = sorted(set().union(*(b["report"].keys() & c["report"].keys() for b, c in pairs)))
    for name in names:
        got = [(b["report"][name], c["report"][name]) for b, c in pairs
               if name in b["report"] and name in c["report"]]
        diffs = [c - b for b, c in got]
        print(f"  {name:14s} {statistics.median(g[0] for g in got):11.4g} "
              f"{statistics.median(g[1] for g in got):11.4g}  change-base per pair "
              f"{min(diffs):+.4g}..{max(diffs):+.4g} (report line)")
    fb, fc = failed_share([r for r, _ in pairs]), failed_share([r for _, r in pairs])
    print(f"  failed share   {fb:11.4g} {fc:11.4g}")
    if fc > fb or len(pairs) < len(seeds):
        ok = False
    print(f"# {'ok' if ok else 'FAIL'} (delta > 0 is better)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
