#!/usr/bin/env python3
"""Measures the benchmark's baseline and writes perfbench/baseline.json.

    python3 perfbench/baseline.py [--seeds 1-10]

For every workload in BENCHMARK.json: one untraced run per seed, then
one traced run (first seed). Records, per end-to-end metric, the
median, quartiles (statistics.quantiles, n=4), n and the spread
(quartile distance over median) next to its bound; and the traced
run's per-layer metrics, per-type count spread and tracing overhead,
and the wall time of each run (median and maximum).
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


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed")
    tagged = {l.split(" ", 1)[0]: json.loads(l.split(" ", 1)[1])
              for l in lines if l.startswith(("run {", "count_spread {"))}
    tagged["wall_s"] = time.monotonic() - t0
    return json.loads(lines[-1]), tagged


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    a, b = ap.parse_args().seeds.split("-")
    seeds = list(range(int(a), int(b) + 1))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = {"seeds": seeds, "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in (x["name"] for x in bench["workloads"]):
        values, attempted, failed, walls = {}, 0, 0, []
        for seed in seeds:
            res, tagged = run(w, seed, bench["run_seconds"], 0)
            out.setdefault("run", tagged["run"])
            walls.append(tagged["wall_s"])
            attempted += res["attempted"]
            failed += res["failed"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(w, seed, res["correct"], f"{walls[-1]:.0f}s",
                  {k: round(v["value"], 4) for k, v in res["metrics"].items()}, flush=True)
        e2e = {}
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            q1, q2, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            e2e[m["name"]] = dict(unit=m["unit"], median=med, q1=q1, q3=q3, n=len(v),
                                  spread=(q3 - q1) / med, bound=m["bound"], values=v)
            print(f"  {m['name']}: median {med:.4g} spread {(q3 - q1) / med:.3f} "
                  f"bound {m['bound']}", flush=True)
        res, tagged = run(w, seeds[0], bench["run_seconds"], 1)
        out["workloads"][w] = dict(
            attempted=attempted, failed=failed, end_to_end=e2e,
            run_wall_s=dict(median=statistics.median(walls), max=max(walls)),
            traced=dict(seed=seeds[0], correct=res["correct"], wall_s=tagged["wall_s"],
                        per_layer={k: v["value"] for k, v in res["metrics"].items()},
                        count_spread=tagged.get("count_spread")))
    # box and build facts only; per-run values stay in the runs
    out["run"] = {k: out["run"][k] for k in
                  ("nproc", "heap", "git_commit", "source_sha1", "spark_version", "spark_conf")}
    with open(os.path.join(HERE, "baseline.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
