#!/usr/bin/env python3
"""Compare two result sets (JSONL files written by series.py) per workload
and end-to-end metric.

    python3 perfbench/compare.py base.jsonl new.jsonl

For every workload x metric it prints each side's median and quartiles, the
run-to-run spread (interquartile range / median) and a verdict against the
metric's bound in BENCHMARK.json:

  worse       the new median is worse than the base median by more than
              the bound
  unresolved  a spread is wider than the bound, and not every new run reads
              better than every base run
  better      the new side wins at least 9 in 10 seed-paired runs and the
              medians differ by more than the base side's interquartile
              range (or, when a spread exceeds the bound, every new run
              reads better than every base run)
  unchanged   otherwise

A gain does not count when more runs fail. Runs that failed (series.py
records `"result": null` for a run that exited nonzero, which includes a
failed output check) and measured ops that failed are counted per workload
and side and printed beside the verdicts as `fail base/new` (failed runs +
failed ops). Any failure on the new side makes every verdict of that
workload `worse`; failures on the base side alone make them `unresolved`.

Exits 1 if any verdict is `worse` or `unresolved`. With one file, prints the
spreads of that set alone (a steadiness check) and exits 1 if it holds any
failure.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    """-> ({workload: {seed: metrics}}, {workload: failed runs + failed ops})"""
    runs, fails = {}, {}
    for line in open(path):
        r = json.loads(line)
        if r["trace"] != 0:
            continue
        w, res = r["workload"], r["result"]
        fails.setdefault(w, 0)
        if res is None:
            fails[w] += 1
            continue
        fails[w] += res["failed"] + (0 if res["correct"] else 1)
        runs.setdefault(w, {})[r["seed"]] = res["metrics"]
    return runs, fails


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(metric, base, new):
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    bq1, bmed, bq3 = quartiles(list(base.values()))
    nq1, nmed, nq3 = quartiles(list(new.values()))
    spread = max((bq3 - bq1) / bmed, (nq3 - nq1) / nmed)
    worse_by = (nmed - bmed) / bmed if lower else (bmed - nmed) / bmed

    def better(n, b):
        return n < b if lower else n > b

    all_better = all(better(n, b) for n in new.values() for b in base.values())
    pairs = [(new[s], base[s]) for s in new if s in base and new[s] != base[s]]
    wins = sum(better(n, b) for n, b in pairs)
    if spread > bound:
        return "better" if all_better else "unresolved"
    if worse_by > bound:
        return "worse"
    if pairs and wins >= 0.9 * len(pairs) and abs(nmed - bmed) > (bq3 - bq1):
        return "better"
    return "unchanged"


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    metrics = bench["end_to_end"]
    base, base_fails = load(sys.argv[1])
    new, new_fails = load(sys.argv[2]) if len(sys.argv) > 2 else (None, {})
    bad = False
    print("%-8s %-18s %5s %12s %12s %12s %7s %s" % (
        "workload", "metric", "runs", "q1", "median", "q3", "spread",
        "verdict" if new else "bound"))
    for w in sorted(set(base_fails) | set(new_fails)):
        nb, nn = base_fails.get(w, 0), new_fails.get(w, 0)
        print("%-8s fail base/new %d/%d" % (w, nb, nn) if new is not None
              else "%-8s fail %d" % (w, nb))
        bad |= nb > 0 or nn > 0
        if w not in base or (new is not None and w not in new):
            print("%-8s no successful run on one side" % w)
            bad = True
    for w in sorted(base):
        if new is not None and w not in new:
            continue
        forced = ("worse" if new_fails.get(w, 0) else
                  "unresolved" if base_fails.get(w, 0) else None)
        for m in metrics:
            for label, side in (("base", base), ("new", new)):
                if side is None or w not in side:
                    continue
                xs = [r[m["name"]]["value"] for r in side[w].values()]
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med
                tail = m["bound"]
                if new is not None and label == "new":
                    tail = forced or verdict(
                        m, {s: r[m["name"]]["value"] for s, r in base[w].items()},
                        {s: r[m["name"]]["value"] for s, r in new[w].items()})
                    bad |= tail in ("worse", "unresolved")
                print("%-8s %-18s %5d %12.4f %12.4f %12.4f %7.3f %s" % (
                    w if label == "base" else "", m["name"] if label == "base" else
                    "  (new)", len(xs), q1, med, q3, spread, tail))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
