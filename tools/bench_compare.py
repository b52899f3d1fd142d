#!/usr/bin/env python3
"""Compare two graft bench JSON outputs per query.

Usage: bench_compare.py OLD.json NEW.json [--threshold 1.5]

Flags queries slower than threshold× the old time (ignoring sub-100ms
noise) and queries that failed in NEW, lists new/removed queries, prints
totals, and prints each memoized asset's first-touch build seconds
(`assets_s`) old -> new, the assets only one side built, and
`value_plus_assets` (the total plus every asset build).
"""
import argparse
import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        text = f.read()
    # tolerate sbt-wrapped output: find the metric line
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("[info]"):
            line = line[len("[info]"):].strip()
        if line.startswith("{") and '"metric"' in line:
            return json.loads(line)
    d = json.loads(text)
    if "queries" not in d and isinstance(d.get("tail"), str):
        # driver BENCH_r{N}.json wrapper: the metric line is embedded in the
        # captured sbt tail as an escaped substring
        import re
        m = re.search(r'\{"metric".*?"queries":\{.*?\}.*?\}', d["tail"])
        if m:
            return json.loads(m.group(0))
    return d


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--min-sec", type=float, default=0.1,
                    help="ignore regressions where both times are under this")
    args = ap.parse_args()

    old, new = load(args.old), load(args.new)
    # a failed query is recorded as {"failed": cause}, not a time
    failed = {q: v["failed"] for q, v in new["queries"].items()
              if isinstance(v, dict)}
    oq = {q: v for q, v in old["queries"].items() if not isinstance(v, dict)}
    nq = {q: v for q, v in new["queries"].items() if not isinstance(v, dict)}

    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq) - set(failed))
    regressions = []
    for name in sorted(set(oq) & set(nq)):
        o, n = oq[name], nq[name]
        if max(o, n) < args.min_sec:
            continue
        if n > o * args.threshold:
            regressions.append((name, o, n, n / o))

    print(f"old total {old['value']:.2f}s ({len(oq)} queries)  "
          f"new total {new['value']:.2f}s ({len(nq)} queries)")
    if added:
        print(f"added ({len(added)}): " +
              ", ".join(f"{q}={nq[q]:.2f}s" for q in added))
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    if failed:
        print(f"FAILED ({len(failed)}):")
        for name in sorted(failed):
            print(f"  {name}: {failed[name]}")
    if regressions:
        print(f"REGRESSIONS (> {args.threshold}x):")
        for name, o, n, r in sorted(regressions, key=lambda x: -x[3]):
            print(f"  {name}: {o:.2f}s -> {n:.2f}s ({r:.2f}x)")
    else:
        print(f"no per-query regressions > {args.threshold}x")
    comparable = [q for q in set(oq) & set(nq)]
    if comparable:
        ot = sum(oq[q] for q in comparable)
        nt = sum(nq[q] for q in comparable)
        print(f"comparable-set total: {ot:.2f}s -> {nt:.2f}s ({nt/ot:.2f}x)")
    oa, na = old.get("assets_s", {}), new.get("assets_s", {})
    for name in sorted(set(oa) & set(na)):
        print(f"asset {name}: {oa[name]:.2f}s -> {na[name]:.2f}s")
    if set(na) - set(oa):
        print("new assets: " +
              ", ".join(f"{a}={na[a]:.2f}s" for a in sorted(set(na) - set(oa))))
    if set(oa) - set(na):
        print(f"removed assets: {', '.join(sorted(set(oa) - set(na)))}")
    if "value_plus_assets" in old and "value_plus_assets" in new:
        print(f"value_plus_assets: {old['value_plus_assets']:.2f}s -> "
              f"{new['value_plus_assets']:.2f}s")
    return 1 if regressions or failed else 0


if __name__ == "__main__":
    sys.exit(main())
