#!/usr/bin/env python3
"""Compare two sets of benchmark records, per workload and per metric.

    python3 perfbench/diff.py BASE.jsonl NEW.jsonl

Each file holds result lines written by `perfbench/run.py --out FILE`
(one JSON object per run, tagged with workload, seed and trace mode).
For every workload and metric it prints the median and quartile spread of
both sides and the relative change of the medians.

End-to-end metrics are judged against their bound in BENCHMARK.json:
  REGRESSED   the new median is worse than the base median by more than
              the bound;
  UNRESOLVED  the base runs spread wider than the bound (quartile distance
              over median) and not every new run beats every base run;
  ok          otherwise.
Per-layer metrics have no bound of their own: a count (unit "count") is
flagged MOVED on any change of its median, since counts should repeat
exactly; any other layer metric is flagged MOVED when its median changes
by more than LAYER_BOUND (25%) in either direction.

Exit status: 1 if any end-to-end metric REGRESSED, else 0.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
LAYER_BOUND = 0.25


def load(path):
    runs = {}
    for line in Path(path).read_text().splitlines():
        if line.strip():
            r = json.loads(line)
            runs.setdefault((r["workload"], int(r.get("trace", 0))), []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args()

    spec = json.loads(SPEC.read_text())
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    base, new = load(a.base), load(a.new)
    regressed = False
    for key in sorted(set(base) & set(new)):
        workload, trace = key
        print(f"== {workload} ({'traced' if trace else 'untraced'}): "
              f"{len(base[key])} base runs, {len(new[key])} new runs")
        names = [n for n in (layer if trace else e2e)
                 if all(n in r["metrics"] for r in base[key] + new[key])]
        for name in names:
            m = (layer if trace else e2e)[name]
            xa = [r["metrics"][name]["value"] for r in base[key]]
            xb = [r["metrics"][name]["value"] for r in new[key]]
            qa, qb = quartiles(xa), quartiles(xb)
            ma, mb = qa[1], qb[1]
            rel = (mb - ma) / abs(ma) if ma else (0.0 if mb == ma else float("inf"))
            worse = rel if m["better"] == "lower" else -rel
            if trace:
                moved = (mb != ma) if m["unit"] == "count" else abs(rel) > LAYER_BOUND
                verdict = "MOVED" if moved else "ok"
            else:
                spread = (qa[2] - qa[0]) / abs(ma) if ma else 0.0
                beats = (max(xb) < min(xa)) if m["better"] == "lower" else (min(xb) > max(xa))
                if worse > m["bound"]:
                    verdict = "REGRESSED"
                    regressed = True
                elif spread > m["bound"] and not beats:
                    verdict = "UNRESOLVED"
                else:
                    verdict = "ok"
            print(f"  {name:32s} {ma:14.4f} [{qa[0]:.4f}, {qa[2]:.4f}] -> "
                  f"{mb:14.4f} [{qb[0]:.4f}, {qb[2]:.4f}] {m['unit']:6s} "
                  f"{rel:+8.1%}  {verdict}")
    for key in sorted(set(base) ^ set(new)):
        print(f"== {key[0]} ({'traced' if key[1] else 'untraced'}): only in "
              f"{'base' if key in base else 'new'}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
