#!/usr/bin/env python3
"""Driver-board drift protocol, automated (VERDICT r15 #4).

Compares a driver bench board (BENCH_r{N}.json — either the raw driver
dict with a 'parsed' payload, or a bare {'queries': {...}} board) against
the same-code local board (BENCH_local.json). If the median per-line
ratio driver/local exceeds the threshold (default 1.15), prints the
top-10 inflated lines as a ready-to-run `graft.Bench` target list — the A-last
A/B protocol from SCALE.md (measure the suspect lines in fresh isolated
JVMs, old tree LAST, so JIT/page-cache warmth favors the null
hypothesis). Exit code 1 when the threshold trips, 0 otherwise.

Usage: python3 tools/drift_check.py BENCH_r16.json BENCH_local.json [threshold]
"""
import json
import statistics
import sys


def load_queries(path):
    d = json.load(open(path))
    if 'parsed' in d and isinstance(d['parsed'], dict):
        d = d['parsed']
    q = d.get('queries')
    if not isinstance(q, dict) or not q:
        raise SystemExit(f"{path}: no per-query board found")
    return {k: float(v) for k, v in q.items()}


def main():
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    driver = load_queries(sys.argv[1])
    local = load_queries(sys.argv[2])
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.15
    common = sorted(set(driver) & set(local))
    if not common:
        raise SystemExit("no common query lines between the two boards")
    ratios = {n: driver[n] / local[n] for n in common if local[n] > 0}
    med = statistics.median(ratios.values())
    td = sum(driver[n] for n in common)
    tl = sum(local[n] for n in common)
    print(f"common lines: {len(common)}  total driver/local: "
          f"{td:.1f}s/{tl:.1f}s = {td / tl:.3f}x  median per-line: {med:.3f}x")
    if med <= threshold:
        print(f"OK: median {med:.3f}x <= {threshold}x — no drift protocol needed")
        return 0
    # rank by absolute seconds lost, not ratio: sub-0.1s lines at 3x are
    # noise-scale; the A/B budget should go where the seconds went
    lost = sorted(common, key=lambda n: driver[n] - local[n], reverse=True)[:10]
    print(f"DRIFT: median {med:.3f}x > {threshold}x — top-10 lines by seconds "
          "lost (driver-local, ratio):")
    for n in lost:
        print(f"  {n}: {driver[n]:.2f}s vs {local[n]:.2f}s "
              f"(+{driver[n] - local[n]:.2f}s, {ratios[n]:.2f}x)")
    print("\nready-to-run A-last A/B (isolated JVM per line, old tree last):")
    print("  sbt -batch 'runMain graft.Bench " + " ".join(lost) + "'")
    return 1


if __name__ == '__main__':
    sys.exit(main())
