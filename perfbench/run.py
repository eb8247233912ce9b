#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload sparql_mix --seed 1 --seconds 10 --trace 0

Builds the benchmark jar from the checkout's sources on first use,
makes the seeded operation stream over the shipped test tables in
`perfbench/data`, runs it in one JVM on local[nproc], checks every
operation's answer, and prints the metrics.
The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(HERE, "target", "perfbench-classpath.txt")
HEAP = "3g"
SETUPS = 2
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_hash():
    h = hashlib.sha1()
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(timeout):
    """Compiles graft plus the benchmark program with sbt, once per source state;
    later runs start the JVM straight from the recorded classpath."""
    src = sources_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp, cp = f.read().split("\n")[:2]
        if stamp == src:
            return src, cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # resolve from the local caches only, as the repository's own build does
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=timeout)
    lines = [l for l in p.stdout.splitlines() if l.endswith(".jar") and "classes" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(f"{src}\n{cp}\n")
    return src, cp


def run_jvm(cp, plan_path, scratch, timeout):
    # no hsperfdata file in the system temp dir; JVM temp files in scratch
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch}/tmp"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", plan_path]
    # Spark's local-dir variables would override spark.local.dir and
    # put shuffle files outside the run's scratch area
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(f"{scratch}/jvm.log", "w") as log:
        try:
            p = subprocess.run(cmd, cwd=scratch, env=env, stdin=subprocess.DEVNULL,
                               stdout=log, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM ran past {timeout:.0f} s")
    if p.returncode != 0:
        with open(f"{scratch}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {p.returncode}")


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


class Checker:
    """Compares each operation's rows with its reference answer, as a
    row count plus an order-independent digest."""

    def __init__(self, data, results, oracle_sql):
        import duckdb
        self.con = duckdb.connect()
        for t in measure.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data}/{t}.parquet')")
        self.results, self.oracle_sql = results, oracle_sql
        self.memo = {}

    def _result(self, name):
        rows = read_jsonl(f"{self.results}/{name}")
        return rows[0], rows[1:]

    def _sql(self, sql):
        tbl = self.con.execute(sql).arrow()
        rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
        return measure.digest(tbl.column_names, rows)

    def ok(self, result, expect):
        key = (result, expect)
        if key not in self.memo:
            self.memo[key] = self._check(result, expect)
        return self.memo[key]

    def _check(self, result, expect):
        cols, rows = self._result(result)
        kind, arg = expect
        sql = arg if kind == "sql" else self.oracle_sql.get(arg)
        if sql is None:
            return False
        return measure.digest(cols, rows) == self._sql(sql)


def end_to_end(records, run, ok):
    # every operation of both workloads leaves the store unchanged
    reads = [r["latency_s"] for r in records]
    m = {
        "setup_s": (statistics.median(b["build_s"] for b in run["builds"])
                    + run["warmup_s"], "s"),
        "read_p50_s": (statistics.median(reads), "s"),
        "ops_per_s": (sum(ok) / run["loop_s"], "1/s"),
    }
    # reported beside the gated metrics
    extra = {
        "fail_ratio": (sum(not o for o in ok) / len(records), "ratio"),
        "held_mb": (run["held_b"] / 1e6, "MB"),
        "n_reads": (len(reads), "count"),
    }
    # a tail percentile is reported only with ten samples beyond it
    if len(reads) >= 100:
        extra["read_p90_s"] = (measure.percentile(reads, 0.9), "s")
    return m, extra


def per_layer(plan, records, run, spans):
    traced = {r["seq"]: r for r in records if r["traced"]}
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    ops = [(traced[k], v) for k, v in by_op.items() if k in traced]

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def named(name, f, where=lambda rec: True):
        return med(f(s) for rec, ss in ops if where(rec) for s in ss if s["name"] == name)

    def per_op(f, where=lambda rec: True):
        return med(f(rec, ss) for rec, ss in ops if where(rec))

    def total(ss, k):
        return sum(s.get(k, 0.0) for s in ss)

    def layer(rec):
        return plan["ops"][rec["op"]].get("layer")

    def setup(k):
        return med(b[k] for b in run["builds"] if k in b)

    gx = lambda rec: layer(rec) == "graphx"
    pl = lambda rec: layer(rec) == "pipeline"
    op_span = lambda ss: next(s for s in ss if s["name"] == "op")
    exec_span = lambda ss, k: sum(s.get(k, 0.0) for s in ss if s["name"] == "exec")
    # tracing overhead: per operation type, median traced latency minus
    # median untraced latency, then the median over types
    both = {}
    for r in records:
        both.setdefault(plan["types"][r["op"]], {}).setdefault(r["traced"], []).append(r["latency_s"])
    overhead = med(med(d[True]) - med(d[False]) for d in both.values() if len(d) == 2)
    # compile: the Graft.query call minus the operation's separate parse
    compile_ms = [1e3 * (dur(q) - dur(pa)) for rec, ss in ops
                  for q in ss if q["name"] == "sparql.query"
                  for pa in ss if pa["name"] == "sparql.parse"]
    m = {
        "setup.session_s": (run["session_s"], "s"),
        "setup.warmup_s": (run["warmup_s"], "s"),
        "rdf.store_build_s": (setup("rdf.store_build_s"), "s"),
        "rdf.store_triples": (setup("rdf.store_triples"), "count"),
        "rdf.store_mb": (setup("rdf.store_mb"), "MB"),
        "rdf.stats_profile_s": (setup("rdf.stats_profile_s"), "s"),
        "sparql.parse_ms": (named("sparql.parse", dur) * 1e3, "ms"),
        "sparql.compile_ms": (med(compile_ms), "ms"),
        "sparql.call_jobs": (named("sparql.query", lambda s: s.get("jobs", 0.0)), "count"),
        "catalyst.plan_ms": (named("catalyst.plan", dur) * 1e3, "ms"),
        "catalyst.plan_nodes": (named("catalyst.plan", lambda s: s["plan_nodes"]), "count"),
        "catalyst.exchanges": (named("catalyst.plan", lambda s: s["exchanges"]), "count"),
        "exec.s": (named("exec", dur), "s"),
        "exec.jobs": (per_op(lambda r, ss: total(ss, "jobs")), "count"),
        "exec.stages": (per_op(lambda r, ss: total(ss, "stages")), "count"),
        "exec.tasks": (per_op(lambda r, ss: total(ss, "tasks")), "count"),
        "exec.task_busy_s": (per_op(lambda r, ss: total(ss, "task_busy_ms") / 1e3), "s"),
        "exec.shuffle_write_mb": (per_op(lambda r, ss: total(ss, "shuffle_write_b") / 1e6), "MB"),
        "exec.shuffle_read_mb": (per_op(lambda r, ss: total(ss, "shuffle_read_b") / 1e6), "MB"),
        "exec.spill_mb": (per_op(lambda r, ss: total(ss, "spill_b") / 1e6), "MB"),
        "exec.gc_s": (per_op(lambda r, ss: total(ss, "gc_ms") / 1e3), "s"),
        "exec.input_mb": (per_op(lambda r, ss: total(ss, "input_b") / 1e6), "MB"),
        "exec.local_dir_mb": (per_op(lambda r, ss: exec_span(ss, "local_dir_b") / 1e6), "MB"),
        "exec.result_rows": (per_op(lambda r, ss: exec_span(ss, "rows")), "count"),
        "inference.reasoner_s": (named("inference.reasoner", dur), "s"),
        "inference.call_jobs": (named("inference.reasoner", lambda s: s.get("jobs", 0.0)), "count"),
        "inference.sameas_s": (named("inference.call", dur), "s"),
        "graphx.call_s": (named("graphx.call", dur), "s"),
        "graphx.call_jobs": (named("graphx.call", lambda s: s.get("jobs", 0.0)), "count"),
        "graphx.result_s": (named("exec", dur, gx), "s"),
        "graphx.held_mb": (per_op(lambda r, ss: op_span(ss).get("held_b", 0.0) / 1e6, gx), "MB"),
        "pipeline.call_s": (named("pipeline.call", dur), "s"),
        "pipeline.call_jobs": (named("pipeline.call", lambda s: s.get("jobs", 0.0)), "count"),
        "pipeline.result_s": (named("exec", dur, pl), "s"),
        "pipeline.pairs_out": (per_op(lambda r, ss: exec_span(ss, "rows"), pl), "count"),
        "trace.overhead_ms": (overhead * 1e3, "ms"),
        "trace.unmatched_jobs": (sum(1 for s in spans if s.get("jobs", 0) != s.get("jobs_ended", 0)), "count"),
    }
    for k in ["cosine_sim", "dot_int", "hyperplane_code", "bloom_contains"]:
        m[f"functions.{k}_rows_per_s"] = (run["kernels"].get(k, 0.0), "1/s")
    return m


def count_spread(plan, records, spans):
    """Per operation type: min/median/max of the listener counts over
    traced operations, warm-up included; a count that repeats exactly
    has min == max."""
    traced = {r["seq"]: plan["types"][r["op"]] for r in records if r["traced"]}
    traced.update({-1000 - k: plan["types"][i] for k, i in enumerate(plan["warmup"])})
    per = {}
    for s in spans:
        if s["op"] in traced:
            d = per.setdefault(traced[s["op"]], {}).setdefault(s["op"], {})
            for k in ("jobs", "stages", "tasks"):
                d[k] = d.get(k, 0) + s.get(k, 0)
    out = {}
    for typ, by_op in sorted(per.items()):
        out[typ] = {k: [min(v[k] for v in by_op.values()),
                        statistics.median(v[k] for v in by_op.values()),
                        max(v[k] for v in by_op.values())]
                    for k in ("jobs", "stages", "tasks")}
    return out


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    src, cp = build(timeout=800)
    # the run's own budget starts after the one-time build
    start = time.monotonic()
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        for d in ("tmp", "out"):
            os.makedirs(os.path.join(scratch, d))
        make_plan, round_s = workloads.WORKLOADS[args.workload]
        # a fixed number of whole rounds, set by --seconds alone: the
        # traced run makes two (each type traced in one, untraced in the other)
        n_rounds = 2 if args.trace else max(1, round(args.seconds / round_s))
        p, warmup = make_plan(args.seed, n_rounds)
        plan = dict(workload=args.workload, data=DATA, scratch=scratch,
                    out=os.path.join(scratch, "out"),
                    trace=bool(args.trace), cpus=cpus, setups=SETUPS,
                    ops=p.ops, rounds=p.rounds, warmup=warmup)
        plan_path = os.path.join(scratch, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        plan["types"] = p.types
        t_plan = time.monotonic() - start
        run_jvm(cp, plan_path, scratch, timeout=max(30, 175 - (time.monotonic() - start)))
        t_jvm = time.monotonic() - start - t_plan

        out = plan["out"]
        records = read_jsonl(f"{out}/ops.jsonl")
        with open(f"{out}/run.json") as f:
            run = json.load(f)
        with open(f"{out}/oracle_sql.json") as f:
            oracle_sql = json.load(f)
        checker = Checker(DATA, f"{out}/results", oracle_sql)
        ok = [not r["error"] and checker.ok(r["result"], p.expect[r["op"]]) for r in records]
        for r, good in zip(records, ok):
            if not good:
                print(f"FAIL op {r['seq']} {p.types[r['op']]}: {r['error'] or 'wrong answer'}")

        print(f"phases plan={t_plan:.1f}s jvm={t_jvm:.1f}s "
              f"check={time.monotonic() - start - t_plan - t_jvm:.1f}s", file=sys.stderr)
        info = dict(workload=args.workload, seed=args.seed, rounds=n_rounds,
                    nproc=cpus, heap=HEAP,
                    git_commit=git_commit(), source_sha1=src,
                    spark_version=run["spark_version"],
                    spark_conf={k: v.replace(ROOT, "<checkout>") for k, v in run["conf"].items()},
                    builds=run["builds"], warmup_s=run["warmup_s"])
        print("run " + json.dumps(info, sort_keys=True))
        by_type = {}
        for r in records:
            by_type.setdefault(p.types[r["op"]], []).append(round(r["latency_s"], 3))
        print("latency_s_by_type " + json.dumps(by_type, sort_keys=True))
        e2e, extra_m = end_to_end(records, run, ok)
        if args.trace:
            spans = read_jsonl(f"{out}/spans.jsonl")
            selfs = measure.self_times(spans)
            for s in spans:
                s["self_ns"] = selfs[s["id"]]
            os.makedirs(WORK, exist_ok=True)
            with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl"), "w") as f:
                f.writelines(json.dumps(s) + "\n" for s in spans)
            print("count_spread " + json.dumps(count_spread(plan, records, spans), sort_keys=True))
            metrics = per_layer(plan, records, run, spans)
        else:
            metrics = e2e
        for k, (v, u) in {**e2e, **extra_m, **metrics}.items():
            print(f"{k:36s} {v:>16.6g} {u}")
        # the result line carries exactly the metrics BENCHMARK.json
        # names; the rest stay in the table above
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
        print(json.dumps({
            "correct": all(ok), "attempted": len(records),
            "failed": sum(not o for o in ok),
            "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names}}))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    if not (os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Graft.scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        fail("graft's sources (src/main/scala, tools/) are not beside perfbench/")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail("the test tables (perfbench/data) are missing")
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    import measure
    import workloads
    main()
