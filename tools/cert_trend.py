#!/usr/bin/env python3
"""Cert-metric trend gate: diff a bench run's observed cert metrics
against the prior round's recorded values (tools/cert_baseline.json)
and flag any slide worse than THRESH even when the metric is still
above its in-query floor — the floors only fail on a cliff; this
catches the slow decay before it cliffs.

Direction-aware: every metric is higher-is-better except those listed
in LOWER_BETTER. The pipelines behind these metrics are deterministic
per (code, fixture), so any nonzero delta is signal; the threshold
exists to separate "investigate" from "abort the gate".

Usage: cert_trend.py <bench.json> [baseline.json]
Exit 1 on any slide > THRESH (in the worse direction) or on a metric
missing from the current run; improvements and new metrics are
reported but never fail. Update the baseline intentionally at
round close (copy the gate run's certs) — never mid-round to make a
slide disappear.
"""
import json
import sys

THRESH = 0.02
LOWER_BETTER = {"hll_max_rel_err"}


def main() -> int:
    bench_path = sys.argv[1]
    base_path = sys.argv[2] if len(sys.argv) > 2 else "tools/cert_baseline.json"
    bench = json.load(open(bench_path))
    base = json.load(open(base_path))
    sf = bench.get("sf", "")
    base_sf = base.get("sf", "")
    certs = bench.get("certs", {})
    ref = base.get("certs", {})
    # exact basename match on both sides (a bench.json baseline stores
    # the full path, tools/cert_baseline.json the basename): substring
    # tests would let sf0.15 or sf0.1_regen masquerade as sf0.1
    def sf_name(p):
        return p.rstrip("/").rsplit("/", 1)[-1]
    if base_sf and sf_name(base_sf) != sf_name(sf):
        print(f"[certs] baseline recorded at {sf_name(base_sf)}, bench ran "
              f"{sf_name(sf)} — trend not comparable, skipping")
        return 0
    bad = []
    print(f"[certs] trend vs {base_path} ({base.get('round', '?')}):")
    print(f"  {'metric':<24} {'prior':>8} {'now':>8} {'delta':>8}  status")
    for k in sorted(set(ref) | set(certs)):
        if k not in certs:
            print(f"  {k:<24} {ref[k]:>8.4f} {'-':>8} {'-':>8}  MISSING")
            bad.append(k)
            continue
        if k not in ref:
            print(f"  {k:<24} {'-':>8} {certs[k]:>8.4f} {'-':>8}  new")
            continue
        delta = certs[k] - ref[k]
        worse = -delta if k not in LOWER_BETTER else delta
        status = "SLIDE" if worse > THRESH else (
            "drift" if worse > 0 else "ok")
        print(f"  {k:<24} {ref[k]:>8.4f} {certs[k]:>8.4f} {delta:>+8.4f}  {status}")
        if worse > THRESH:
            bad.append(k)
    if bad:
        print(f"[certs] FAIL: {len(bad)} metric(s) slid > {THRESH} or went "
              f"missing: {', '.join(bad)}")
        return 1
    print("[certs] all metrics within trend band")
    return 0


if __name__ == "__main__":
    sys.exit(main())
