#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's median and spread.

    python3 perfbench/spread.py --workload web_crawl --seeds 1-10 [--trace 0] [--seconds S]

Spread is the interquartile range over the median, from
statistics.quantiles(values, n=4). Each run's result line is appended to
.bench_build/perfbench/runs.jsonl together with its workload and seed; its
standard error goes to .bench_build/perfbench/logs/.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    log = os.path.join(ROOT, ".bench_build", "perfbench", "runs.jsonl")
    logs = os.path.join(ROOT, ".bench_build", "perfbench", "logs")
    os.makedirs(logs, exist_ok=True)
    for seed in seeds_of(a.seeds):
        t0 = time.time()
        errlog = open(os.path.join(logs, "%s-%d-%s.log" % (a.workload, seed, a.trace)), "w")
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", a.trace],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=errlog, text=True)
        errlog.close()
        took = time.time() - t0
        if r.returncode != 0:
            print("seed %d: exit %d after %.0f s" % (seed, r.returncode, took))
            continue
        lines = r.stdout.strip().split("\n")
        res = json.loads(lines[-1])
        host = json.loads(lines[-2]).get("host", {}) if len(lines) > 1 else {}
        with open(log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed, "trace": a.trace,
                                "wall_s": took, "host": host, "result": res}) + "\n")
        print("seed %d: %.0f s, correct=%s failed=%d/%d steal=%.2f%% %s" % (
            seed, took, res["correct"], res["failed"], res["attempted"], host.get("steal_pct", -1),
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items()
                     if a.trace == "0")))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k)
        print("%-28s median %-12.6g spread %.4f%s" % (
            k, med, spread, "" if b is None else "  (bound %.2f, %s)" % (
                b, "ok" if spread < b / 3 else "TOO WIDE")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
