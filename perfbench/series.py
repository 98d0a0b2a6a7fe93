#!/usr/bin/env python3
"""Run the benchmark over several seeds and append each result to a JSONL
file that compare.py reads.

    python3 perfbench/series.py --out base.jsonl --seeds 1-10 \
        [--workloads ingest,serve,curate] [--trace 0]

Each line is {"workload", "seed", "trace", "result", "host"} (host: the
run's steal/loadavg/calibration block). Runs are sequential;
a failed run is recorded with "result": null.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    for seed in seeds(a.seeds):
        for w in a.workloads.split(","):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                   "--trace", str(a.trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            host = [json.loads(l[len("[perfbench] "):])["host"] for l in lines
                    if l.startswith('[perfbench] {"host"')]
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace,
                                    "result": result,
                                    "host": host[0] if host else None}) + "\n")
            print("%s seed=%d %s" % (w, seed, "ok" if result else "FAILED"),
                  flush=True)


if __name__ == "__main__":
    main()
