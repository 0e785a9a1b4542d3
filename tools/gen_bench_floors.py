#!/usr/bin/env python3
"""Regenerate tools/bench_floors.json — the recorded quiet-band minima
that Bench.scala uses to attribute per-row readings in its "attr" block.

Floor = the minimum recorded timing for the row across the rounds whose
timing SEMANTICS match the current code (see OVERRIDES for rows whose
semantics changed later than the scan window starts). Two source kinds:
the committed BENCH_r{N}.json driver artifacts, and the committed
quiet-band release-gate bench lines under tools/bench_gate_refs/
(r{N}_gate_*.json — full-precision copies of the gate's
target/release_check/bench_*.json; the gate box is quieter than the
driver box for the high-job-count rows, e.g. embed_nearest_dup_lsh
reads 2.1 s at the r18 gate vs 8.27 s in the same round's driver run).

Usage: python3 tools/gen_bench_floors.py   (from the repo root)
"""
import json
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Rounds with the CURRENT timing semantics for most rows: r16 staged the
# IVF/PQ training (ann_stage_cents), which was the last bench-wide
# restructure. r17 is excluded (the round shipped a compile break; its
# bench ran pre-break code).
# r20 added per the r20 verdict's ask #4: its committed BENCH_r20.json
# and the four quiet release-gate lines extend the quiet band.
# r21 added per the round-closing convention: its committed artifacts
# (BENCH_r21.json ran under documented ambient load, but the r21 gate
# refs under tools/bench_gate_refs/ are quiet pairs) join the scan.
# r22 joins the same way: BENCH_r22.json plus its four gate refs.
SCAN_ROUNDS = (16, 18, 19, 20, 21, 22)

# Rows whose semantics changed AFTER r16 — floor must come only from
# rounds at-or-after the change:
#   distinct_users_approx: r19 reshaped it to exact count + HLL error
#     bound + join (0.36 -> 0.53 s, deliberate; see BASELINE.md r19).
#   media_phash_dup / embed_nearest_dup_lsh: r18 checkpoint-before-
#     self-join halved them; pre-r18 readings time the old double-encode.
MIN_ROUND = {
    "distinct_users_approx": 19,
    "media_phash_dup": 18,
    "embed_nearest_dup_lsh": 18,
}


def load_queries(path):
    with open(path) as f:
        d = json.load(f)
    p = d.get("parsed") or {}
    if not p.get("queries"):
        m = re.search(r'\{"metric".*\}\}', d.get("tail", ""))
        p = json.loads(m.group(0)) if m else {}
    # a run with errors is not quiet-band evidence, whichever channel
    # (parsed or tail) it was recovered from
    if p.get("errors"):
        return {}
    return p.get("queries") or {}


def gate_refs():
    """(round, path) for committed quiet-gate bench lines."""
    out = []
    for p in sorted(glob.glob(os.path.join(ROOT, "tools", "bench_gate_refs",
                                           "r*_gate_*.json"))):
        m = re.match(r"r(\d+)_gate_", os.path.basename(p))
        if m:
            out.append((int(m.group(1)), p))
    return out


def main():
    floors = {}
    sources = []
    scan = []
    for n in SCAN_ROUNDS:
        path = os.path.join(ROOT, "BENCH_r%02d.json" % n)
        if not os.path.exists(path):
            path = os.path.join(ROOT, "BENCH_r%d.json" % n)
        if os.path.exists(path):
            scan.append((n, path))
    scan += [(n, p) for (n, p) in gate_refs() if n >= min(SCAN_ROUNDS)]
    for n, path in scan:
        if "bench_gate_refs" in path:
            with open(path) as f:
                d = json.load(f)
            q = {} if d.get("errors") else d.get("queries", {})
        else:
            q = load_queries(path)
        if not q:
            continue
        sources.append(os.path.relpath(path, ROOT))
        for name, t in q.items():
            if n < MIN_ROUND.get(name, 0):
                continue
            if name not in floors or t < floors[name]:
                floors[name] = round(t, 4)
    out = {
        "_meta": {
            "what": "per-row quiet-band minimum driver-bench seconds; "
                    "Bench.scala flags rows over AttrRatio (1.4) x floor "
                    "in the compact line's attr block",
            "sf": "/root/testdata/sf0.1",
            "cpus": 32,
            "reps": "best-of-3",
            "sources": sources,
            "semantics_overrides": MIN_ROUND,
            "regen": "python3 tools/gen_bench_floors.py",
        },
        "floors": {k: floors[k] for k in sorted(floors)},
    }
    dst = os.path.join(ROOT, "tools", "bench_floors.json")
    with open(dst, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
        f.write("\n")
    print("wrote %s (%d rows) from %s" % (dst, len(floors), sources))


if __name__ == "__main__":
    main()
