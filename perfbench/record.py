#!/usr/bin/env python3
"""Record the benchmark's goldens and the fleet's query pool at the current
program version:

    python3 perfbench/record.py [--work DIR]

It runs every registry query once on each corpus. The candidates for the
fleet pool (queries that pass on both corpora within POOL_CAP_S at sf0.1) then
run a second time, in another JVM, in another order and on half the cores; a
candidate whose checksum differs between its two runs is reported as
non-deterministic and left out. Then it records the mart DAG and every read
over it, runs the fleet_sf0.001 workload FRESH_RUNS times to learn what each
pool query costs in a benchmark run (dropping those over RUN_CAP_S), and
writes

  perfbench/goldens/fleet_<sf>.json   query -> "<rows>:<hash sum>"
  perfbench/goldens/marts_<sf>.json   "mart:<name>" and read key -> checksum
  perfbench/fleet_pool.json           the fleet's pool, sorted by that cost

Steps whose output already exists in the work directory are not repeated.
Recording takes about an hour on a 4-core host.
"""
import argparse
import json
import os
import shutil
import statistics

import run

SCALES = ("sf0.001", "sf0.1")
# A query slower than this at sf0.1 would take a large share of one run's
# measured window by itself, so one draw would decide a run's figures.
POOL_CAP_S = 2.0
# Benchmark runs whose per-query latencies order the pool.
FRESH_RUNS = 12
# Pool queries slower than this in those runs are dropped too: they form a
# steep tail that makes p90 and throughput swing with the seed.
RUN_CAP_S = 1.0


def step(work, name, mode_args, cp, stamp, cores=None, out_flag="--out"):
    out = os.path.join(work, name)
    if os.path.exists(out):
        return out
    d = run.scratch_dir("record")
    try:
        code, _ = run.java(mode_args + [out_flag, os.path.abspath(out) + ".part"], d, cp, stamp,
                           timeout=7200, cores=cores)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    if code != 0:
        run.fail(f"recording {name} failed")
    os.replace(out + ".part", out)
    return out


def load_jsonl(p):
    with open(p) as f:
        return {r["name"]: r for r in map(json.loads, f)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--work", default=os.path.join(run.build_root(), "record"))
    a = ap.parse_args()
    os.makedirs(a.work, exist_ok=True)
    cp, stamp = run.build()
    gold_dir = os.path.join(run.BENCH, "goldens")
    os.makedirs(gold_dir, exist_ok=True)

    def record(sf, tag, extra=(), cores=None):
        return load_jsonl(step(a.work, f"fleet_{sf}_{tag}.jsonl", ["--mode", "record", "--sf", sf, *extra],
                               cp, stamp, cores))

    first = {sf: record(sf, "a") for sf in SCALES}
    failing = sorted({n for sf in SCALES for n, r in first[sf].items() if r["error"]})
    for n in failing:
        print(f"FAILS {n}: " + " / ".join(first[sf][n]["error"] for sf in SCALES))
    candidates = sorted(n for n, r in first["sf0.1"].items()
                        if n not in failing and r["latency_s"] <= POOL_CAP_S)
    half = max(1, run.nproc() // 2)
    second = {sf: record(sf, "b", ["--order-seed", "1", "--only", ",".join(candidates)], half) for sf in SCALES}
    unstable = set()
    for sf in SCALES:
        for n in candidates:
            x, y = first[sf][n], second[sf][n]
            if y["error"] or x["checksum"] != y["checksum"]:
                print(f"{sf} NON-DETERMINISTIC {n}: {x['checksum']} vs {y['checksum']} {y['error']}")
                unstable.add(n)
    pool = [n for n in candidates if n not in unstable]
    for sf in SCALES:
        with open(os.path.join(gold_dir, f"fleet_{sf}.json"), "w") as f:
            json.dump({n: first[sf][n]["checksum"] for n in pool}, f, indent=1, sort_keys=True)
            f.write("\n")
        p = step(a.work, f"marts_{sf}.json", ["--mode", "record-marts", "--sf", sf], cp, stamp)
        shutil.copy(p, os.path.join(gold_dir, f"marts_{sf}.json"))

    # The pool is sorted by cost on sf0.001, the corpus of the fleet workload
    # in BENCHMARK.json: first by the recording runs' cost (the lower of the
    # two), then by the median latency the queries show in benchmark runs.
    # The two differ a lot, because a benchmark run's JVM is young and a
    # query pays the JIT warm-up of its own operators; queries no benchmark
    # run drew keep their recorded cost, scaled by the median ratio.
    recorded = {n: min(first["sf0.001"][n]["latency_s"], second["sf0.001"][n]["latency_s"]) for n in pool}
    over = sorted(n for n, r in first["sf0.1"].items() if n not in failing and r["latency_s"] > POOL_CAP_S)

    def write_pool(cost, slow_in_run=()):
        with open(os.path.join(run.BENCH, "fleet_pool.json"), "w") as f:
            json.dump({"cap_s": POOL_CAP_S, "over_cap": over, "run_cap_s": RUN_CAP_S,
                       "over_run_cap": list(slow_in_run), "non_deterministic": sorted(unstable),
                       "failing": failing, "pool": sorted(pool, key=lambda n: (cost[n], n))}, f, indent=1)
            f.write("\n")

    write_pool(recorded)
    seen = {}
    for seed in range(1, FRESH_RUNS + 1):
        p = step(a.work, f"fresh_{seed}.jsonl", ["--mode", "run", "--workload", "fleet_sf0.001", "--seed", str(seed),
                                                 "--seconds", "20", "--trace", "1"], cp, stamp, out_flag="--trace-out")
        with open(p) as f:
            for r in map(json.loads, f):
                if r["type"] == "request":
                    seen.setdefault(r["key"], []).append(r["latency_s"])
    fresh = {n: statistics.median(v) for n, v in seen.items()}
    scale = statistics.median(fresh[n] / recorded[n] for n in fresh)
    cost = {n: fresh.get(n, recorded[n] * scale) for n in pool}
    slow = sorted(n for n in pool if cost[n] > RUN_CAP_S)
    pool = [n for n in pool if cost[n] <= RUN_CAP_S]
    write_pool(cost, slow)
    print(f"pool: {len(pool)} queries ({len(fresh)} seen in benchmark runs); {len(slow)} over {RUN_CAP_S} s "
          f"in a run; {len(over)} over the {POOL_CAP_S} s cap; {len(unstable)} non-deterministic; "
          f"{len(failing)} failing")


if __name__ == "__main__":
    main()
