#!/usr/bin/env python3
"""Repository benchmark: batch DAG jobs from the graft registry, run the way
a warm Tez session runs them (one long-lived engine, one DAG at a time).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/harness/build.py); later runs reuse the build. The input
tables are the repository's sf0.1 and sf0.001 test fixtures, kept under
perfbench/data/. Each run starts one JVM with an empty java.io.tmpdir of its
own, so the program's stored-artifact cache never leaks between runs.

Workloads (closed loop, one client; the seed shuffles the job order of each
pass):
  tez-relational   the Tez example DAG shapes (word count, joins, unions,
                   secondary sort, group-by + order-by): planning, scheduling
                   and table resolution dominate, kernels do little.
  stored-artifacts index and model jobs, each run cold (after the harness
                   empties the artifact cache, untimed) and then twice
                   warm, so builds run beside probe reads.

Every job is forced with a `noop` write. Each job's result is checked once
per run, untimed, against the DuckDB oracle of `SparkEntry.oracleSql`, with
the comparison rules of tools/check_correctness.py. With --trace 0 the last
stdout line carries the end-to-end metrics; with --trace 1 the per-layer
metrics of a traced run. Human-readable lines (run context, every metric
with its unit, fail ratio) come first.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
DATA = os.path.join(HERE, "data")
# A fixed heap and young generation: otherwise peak RSS follows G1's
# heap-resizing decisions, which vary from run to run (IQR 27 % of the
# median over five runs). With them, peak RSS moves with native memory and
# with the old generation's high-water mark.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
RUN_LIMIT_S = 170  # the JVM is killed past this; a run must end in 180 s

# Each workload: (mode, timed passes, jobs). Jobs name registry entries by
# `qNN` prefix. Job sets are small so that one run (session start, one
# warm-up pass, the timed passes, oracle check) takes under a minute at
# sf0.1 on 4 cores: the benchmark's whole schedule of runs has a fixed time
# budget. Passes keep getting faster for several passes after the warm-up
# pass (JIT), so every run times the same number of passes, whatever the
# program's speed, and --seconds only caps them: a faster program does not
# get extra, warmer passes into its medians.
WORKLOADS = {
    # Tez example DAG shapes: word count, ordered word count, broadcast hash
    # join, sort-merge join, semi join, anti join, union, group-by +
    # order-by, secondary sort.
    # 5 passes give 45 calls, so job_s.tail is p77.
    "tez-relational": ("plain", 5, [
        "q02", "q03", "q04", "q06", "q07", "q08", "q09", "q10", "q11"]),
    # IVF ANN index (build + probe) and unigram tokenizer model (train +
    # apply): each job runs cold (artifacts built), then twice warm
    # (probed). 6 passes give 36 calls, so job_s.tail is p72: while cold
    # calls are the slowest, the 10 calls above it are cold ones and
    # job_s.p50 lies among the warm ones.
    "stored-artifacts": ("coldwarm", 6, ["q145", "q204"]),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_module(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_results(data_dir, results_dir, oracle_sql, outputs):
    """Compare each output dir (job or job@cold) with its DuckDB oracle.

    Oracle answers are computed once per (data, SQL) and kept, normalized,
    under the cache. Returns {output: "OK" | failure reason}.
    """
    cc = load_module("check_correctness", os.path.join(ROOT, "tools", "check_correctness.py"))
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    con = None
    verdicts = {}
    for out in outputs:
        job = out.split("@")[0]
        sql = oracle_sql.get(job)
        if sql is None:
            verdicts[out] = "no oracle SQL"
            continue
        key = hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(CACHE, "oracle", f"{job}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                cols, types, exp = pickle.load(fh)
        else:
            if con is None:
                con = duckdb.connect()
                for t in cc.TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            rel = con.sql(sql)
            cols, types = list(rel.columns), [str(t) for t in rel.types]
            exp = cc.normalize(rel.df())
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "wb") as fh:
                pickle.dump((cols, types, exp), fh)
            os.replace(path + ".tmp", path)
        rdir = os.path.join(results_dir, out)
        parts = sorted(glob.glob(f"{rdir}/*.parquet"))
        if not parts:
            verdicts[out] = "no result written"
            continue
        fails, _ = cc.type_gate(job, pq.read_schema(parts[0]), cols, types)
        if fails:
            verdicts[out] = "; ".join(fails)
            continue
        verdicts[out] = cc.eq(cc.normalize(pd.read_parquet(rdir)), exp)
    return verdicts


def tail_percentile(n):
    """Highest integer percentile with at least 10 of `n` samples above it."""
    for q in range(99, 0, -1):
        if n - -(-q * n // 100) >= 10:  # nearest rank = ceil(q n / 100)
            return q
    return 100


def percentile(xs, q):
    xs = sorted(xs)
    return xs[max(-(-q * len(xs) // 100), 1) - 1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1", choices=("0.1", "0.001"),
                    help="scale factor of the measured tables")
    ap.add_argument("--jobs", help="comma-separated job list replacing the workload's own")
    ap.add_argument("--passes", type=int, help="timed passes, replacing the workload's own")
    args = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: the program's sources are not beside perfbench/")
    mode, passes, jobs = WORKLOADS[args.workload]
    jobs = args.jobs.split(",") if args.jobs else jobs
    passes = args.passes or passes
    data = os.path.join(DATA, f"sf{args.sf}")
    if not os.path.isdir(data):
        raise SystemExit(f"perfbench: no input tables at {os.path.relpath(data, ROOT)}")

    classpath, jvm_opts = load_module("build", os.path.join(HERE, "harness", "build.py")).build()

    work = os.path.join(CACHE, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir: keep Spark's
    # shuffle and block files in the run's own directory either way
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    hargs = {"mode": mode, "jobs": ",".join(jobs), "data": data,
             "seconds": args.seconds, "passes": passes, "seed": args.seed,
             "trace": args.trace, "out": work, "job_timeout": 60,
             "launch_ms": int(time.time() * 1000)}
    cmd = (["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData"] + jvm_opts
           + ["-cp", classpath, "perfbench.Harness"] + [f"{k}={v}" for k, v in hargs.items()])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "killed after %d s" % RUN_LIMIT_S
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    res = json.load(open(os.path.join(work, "result.json")))

    outputs = sorted(os.listdir(os.path.join(work, "results"))) if os.path.isdir(
        os.path.join(work, "results")) else []
    expected = [j + s for j in res["jobs"] for s in (["@cold", ""] if mode == "coldwarm" else [""])]
    verdicts = check_results(data, os.path.join(work, "results"), res["oracle_sql"],
                             sorted(set(outputs) | set(expected)))
    wrong = {o.split("@")[0] for o, v in verdicts.items() if v != "OK"}
    for o, v in sorted(verdicts.items()):
        if v != "OK":
            log(f"check FAIL {o}: {v}")
    for s in res["samples"]:
        if s.get("error") and s["pass"] < 0:
            log(f"warm-up call failed {s['job']} ({s['kind']}): {s['error']}")

    timed = [s for s in res["samples"] if s["pass"] >= 0]
    failed = [s for s in timed if s.get("error") or s["job"] in wrong]
    good = [s for s in timed if not (s.get("error") or s["job"] in wrong)]
    traced = {int(p) for p in res["traced_passes"]}

    pass_sums = {}
    for s in good:
        pass_sums[s["pass"]] = pass_sums.get(s["pass"], 0.0) + s["s"]
    log("pass sums: " + " ".join(f"{p}:{v:.3f}" for p, v in sorted(pass_sums.items())))

    per_job = {}
    for s in good:
        per_job.setdefault((s["job"], s["kind"]), []).append(s["s"])
    for (job, kind), xs in sorted(per_job.items(), key=lambda kv: -statistics.median(kv[1])):
        log(f"job {job} {kind}: median {statistics.median(xs):.3f} s over {len(xs)} calls")

    times = [s["s"] for s in good if s["pass"] not in traced]
    notes = {}
    if args.trace:
        metrics = {k: (v["value"], v["unit"]) for k, v in res["layers"].items()}
        # passes still speed up through a run, so each traced pass is set
        # against the mean of the untraced passes on either side of it
        diffs = [pass_sums[p] - (pass_sums[p - 1] + pass_sums[p + 1]) / 2
                 for p in sorted(traced) if p - 1 in pass_sums and p + 1 in pass_sums]
        metrics["trace.overhead_s"] = (statistics.median(diffs) if diffs else float("nan"), "s")
    elif times:
        tail_q = tail_percentile(len(times))
        tail_v = percentile(times, tail_q)
        notes["job_s.tail"] = f"p{tail_q} of {len(times)} job samples"
        kinds = {}
        for s in good:
            kinds.setdefault(s["kind"], []).append(s["s"])
        p50 = statistics.median(times)
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "pass_s": (statistics.median(pass_sums.values()), "s"),
            "job_s.p50": (p50, "s"),
            "job_s.tail": (tail_v, "s"),
            # without stored artifacts every call is both first and repeat
            "cold_job_s.p50": (statistics.median(kinds["cold"]) if "cold" in kinds else p50, "s"),
            "warm_job_s.p50": (statistics.median(kinds["warm"]) if "warm" in kinds else p50, "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
        if mode != "coldwarm":
            notes["cold_job_s.p50"] = notes["warm_job_s.p50"] = "no stored artifacts: equals job_s.p50"
    else:
        metrics = {}

    commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, text=True,
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL).stdout.strip()
    print(f"context: workload={args.workload} seed={args.seed} sf={args.sf} "
          f"nproc={os.cpu_count()} SPARK_GRAFT_CPUS={cores} driver_heap_mb={res['heap_mb']:.0f} "
          f"load1_start={res['load_start']:.2f} load1_end={res['load_end']:.2f} "
          f"commit={commit or 'unknown'} passes={len({s['pass'] for s in timed})} "
          f"session_s={res['session_s']:.2f} warm_s={res['warm_s']:.2f}")
    for name, (v, unit) in metrics.items():
        extra = f"  ({notes[name]})" if name in notes else ""
        print(f"metric {name} = {v:.6g} {unit}{extra}")
    n_att = len(timed)
    print(f"fail_ratio = {len(failed) / max(n_att, 1):.4f} ({len(failed)}/{n_att} job calls)")
    if args.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        kept = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.move(os.path.join(work, "spans.jsonl"), kept)
        print(f"spans: {os.path.relpath(kept, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not wrong and n_att > 0,
        "attempted": max(n_att, 1),
        "failed": len(failed) if n_att else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
