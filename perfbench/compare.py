"""Compare two sets of benchmark results, one workload at a time.

    python3 perfbench/compare.py BASE.json [BASE.json ...] --against NEW.json [...]

Each file is a result written by run.py to
``.bench_build/perfbench/results/``. For every workload and metric it prints
the median and quartiles of each side and the change of the medians.
Results whose host fingerprints differ (cores, memory, Spark, Python, Java
or the session sizing) are refused: numbers from different hosts are not a
comparison.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            out.append(json.load(f))
    return out


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", nargs="+")
    ap.add_argument("--against", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = _load(args.base), _load(args.against)
    hosts = {json.dumps(r["fingerprint"]["host"], sort_keys=True) for r in base + new}
    if len(hosts) != 1:
        print("refusing to compare: host fingerprints differ:", file=sys.stderr)
        for h in sorted(hosts):
            print(f"  {h}", file=sys.stderr)
        return 2
    for side, rs in (("base", base), ("new", new)):
        codes = {json.dumps(r["fingerprint"]["code"], sort_keys=True) for r in rs}
        print(f"{side}: {len(rs)} results, code {', '.join(sorted(codes))}")
    workloads = sorted({r["fingerprint"]["workload"] for r in base + new})
    for w in workloads:
        b = [r for r in base if r["fingerprint"]["workload"] == w]
        n = [r for r in new if r["fingerprint"]["workload"] == w]
        if not b or not n:
            print(f"\n{w}: missing on one side, skipped")
            continue
        print(f"\n{w} (base seeds {sorted(r['fingerprint']['seed'] for r in b)}, "
              f"new seeds {sorted(r['fingerprint']['seed'] for r in n)})")
        print(f"  {'metric':32s} {'base q1/med/q3':>30s} {'new q1/med/q3':>30s} {'change':>8s}")
        for m in b[0]["metrics"]:
            bv = [r["metrics"][m]["value"] for r in b if m in r.get("metrics", {})]
            nv = [r["metrics"][m]["value"] for r in n if m in r.get("metrics", {})]
            if not bv or not nv:
                continue
            bq, nq = _quartiles(bv), _quartiles(nv)
            change = (nq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
            print(f"  {m:32s} {'%9.4g %9.4g %9.4g' % bq:>30s} {'%9.4g %9.4g %9.4g' % nq:>30s} "
                  f"{change:+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
