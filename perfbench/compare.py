#!/usr/bin/env python3
"""Spread of a set of runs, and the bound comparison of two sets.

Each file holds the result objects of one workload's runs, one per line
(the last stdout line of `perfbench/run.py`):

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload mabna_ingest --seed $s --seconds 12 \\
        --trace 0 | tail -1 >> first.jsonl
    done
    python3 perfbench/compare.py first.jsonl [second.jsonl]

For each metric it prints the median, the quartiles and the spread (the
distance between the quartiles as a share of the median). With a second
file it also prints how much worse the second median is than the first and
whether that stays within the metric's bound in BENCHMARK.json. The exit
status is non-zero when the spread of a bounded metric, `setup_s` included,
exceeds its bound, or when a second median is worse than the first by more
than the bound.
"""
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load(path):
    with open(path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    values = {}
    for r in runs:
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    return runs, values


def main():
    bench = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    with open(bench) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    sets = [load(p) for p in sys.argv[1:3]]
    ok = True
    for i, (runs, values) in enumerate(sets):
        failed = sum(r["failed"] for r in runs)
        print(f"set {i + 1}: {len(runs)} runs, {failed} failed ops, "
              f"all correct: {all(r['correct'] for r in runs)}")
        for k, vs in values.items():
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            bound = metrics.get(k, {}).get("bound")
            line = (f"  {k:28s} median {stats.median(vs):.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
                    f"spread {stats.spread(vs):.4f}")
            if bound is not None:
                line += f"  (bound {bound})"
                if stats.spread(vs) > bound:
                    ok = False
                    line += "  SPREAD OUT OF BOUND"
            print(line)
    if len(sets) == 2:
        print("second vs first:")
        for k, vs in sets[0][1].items():
            m = metrics.get(k, {})
            if "bound" not in m or k not in sets[1][1]:
                continue
            worse = stats.worse_by(vs, sets[1][1][k], m["better"])
            within = stats.within_bound(vs, sets[1][1][k], m["better"], m["bound"])
            ok &= within
            print(f"  {k:28s} worse by {worse:+.4f} (bound {m['bound']}): "
                  f"{'within' if within else 'OUT OF BOUND'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
