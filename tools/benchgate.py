#!/usr/bin/env python3
"""Replay the judge's per-query bench adjudication locally.

Compares a bench artifact (default: bench_full.json, i.e. the last
full `graft.Bench` run) against the NEWEST frozen per-query baseline
(`BASELINE_queries_r{N}.json`, highest N), host-adjusted:

    adjusted_ratio = (t_run / t_floor) / host_factor_of_the_run

where host_factor is the median headline ratio the Bench main stamps
into its own artifact (1.0 on a host as quiet as the freeze host).
Queries with adjusted_ratio > THRESHOLD (default 2.0, the judge's
perf-weak line) are flagged; queries present in the run but missing
from the floor file are listed so the next freeze covers them.
Queries the artifact lists under `failed` (they threw, and their time
is only a time-to-failure) fail the gate outright.

Usage:
    python3 tools/benchgate.py [bench.json] [--threshold 2.0]
    # exit 0 = clean, exit 1 = flags raised or a query failed
    # (usable as a round gate)

Run it right after any full bench so excursions are caught the day
they land, not at round end (round-10 verdict stretch item).
"""
import glob
import json
import re
import sys


def newest_baseline(repo="."):
    best, best_n = None, -1
    for p in glob.glob(f"{repo}/BASELINE_queries_r*.json"):
        m = re.search(r"_r(\d+)\.json$", p)
        if m and int(m.group(1)) > best_n:
            best, best_n = p, int(m.group(1))
    if best is None:
        sys.exit("no BASELINE_queries_r*.json found")
    return best, best_n


def main():
    args, thr = [], 2.0
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--threshold":
            nxt = next(it, None)
            if nxt is None:
                sys.exit("--threshold needs a value")
            thr = float(nxt)
        elif a.startswith("--threshold="):
            thr = float(a.split("=", 1)[1])
        else:
            args.append(a)
    bench_path = args[0] if args else "bench_full.json"
    bench = json.load(open(bench_path))
    base_path, base_n = newest_baseline()
    base = json.load(open(base_path))
    floors = base["queries"]
    run = bench["queries"]
    hf = bench.get("host_factor") or 1.0
    failed = bench.get("failed") or []
    flagged, watch, missing = [], [], []
    for name, t in sorted(run.items()):
        floor = floors.get(name)
        if floor is None:
            missing.append(name)
            continue
        if floor <= 0:
            continue
        raw = t / floor
        adj = raw / hf
        if adj > thr:
            flagged.append((name, t, floor, raw, adj))
        elif adj > thr * 0.75:
            watch.append((name, t, floor, raw, adj))
    print(f"benchgate: {bench_path} ({len(run)} queries, "
          f"host_factor {hf:.3f}) vs {base_path} "
          f"({len(floors)} floors), threshold {thr}x adjusted")
    for name, t, floor, raw, adj in flagged:
        print(f"  FLAG  {name:<32} {t:7.2f}s vs {floor:7.2f}s "
              f"floor  ({raw:.2f}x raw, {adj:.2f}x adjusted)")
    for name, t, floor, raw, adj in watch:
        print(f"  watch {name:<32} {t:7.2f}s vs {floor:7.2f}s "
              f"floor  ({raw:.2f}x raw, {adj:.2f}x adjusted)")
    for name in failed:
        print(f"  FAILED {name} (threw; its time is a time-to-failure)")
    if missing:
        print(f"  no floor (freeze these next): {', '.join(missing)}")
    if not flagged and not watch and not missing and not failed:
        print("  clean: every query within budget")
    sys.exit(1 if flagged or failed else 0)


if __name__ == "__main__":
    main()
