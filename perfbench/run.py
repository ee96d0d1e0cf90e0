#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
from source (build.py), derives the seed's inputs (inputs.py), runs the
workload's queries as closed-loop passes on `local[nproc]` in a fresh JVM
(scala/Harness.scala), checks every query's result against its DuckDB
oracle, and prints one JSON object as the last line of standard output:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Everything it writes stays under `.bench_build`,
`.bench_work` and `.bench_out` in the checkout; the full record of each
run (stamps, per-query times, the trace) goes to `.bench_out`.

See README.md in this directory for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# Why each workload exists is in README.md. Order within a list does not
# matter: the seed permutes it.
WORKLOADS = {
    # Short relational queries: TPC-H, a TPC-DS shape and the relational
    # core. Planning and per-query fixed cost are a large share.
    "sql_batch": [
        "q01_tpch1", "q60_tpch3", "q68_tpch6", "q83_tpch22", "q109_tpcds88",
        "q02_agg_distinct", "q04_cube", "q16_running_sum", "q23_intersect",
        "q30_json_props",
    ],
    # Bounded streaming replays, one per operator family: each is a few
    # micro-batches, so the micro-batch floor (offset log, state commits,
    # query start/stop) dominates.
    "stream_replay": ["q179_stream_dedup", "q178_stream_tumble"],
}

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "peak_heap_mb": "MB",
}
SETUP_SAMPLES = 2          # fresh JVMs whose set-up is timed per run
JVM_HEAP = "2g"
RUN_BUDGET_S = 165         # a run must end within 180 s of its build


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def jvm(root, args, log, deadline):
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={args['work']}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *build.JDK17_ADD_OPENS, "-cp", build.classpath(root),
           "perfbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    proc = subprocess.Popen(cmd, stdout=log, stderr=log)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_BUDGET_S} s")
    if proc.returncode != 0:
        fail(f"harness JVM exited with {proc.returncode}; see {log.name}")
    with open(args["out"]) as f:
        return json.load(f)


def end_to_end(setups, res):
    passes = res["passes"]
    measured = [p for p in passes if p["kind"] == "measured"]
    by_query = {}
    for p in measured:
        for q in p["queries"]:
            if q["ok"]:
                by_query.setdefault(q["name"], []).append(q["wall_s"])
    samples = [t for ts in by_query.values() for t in ts]
    # Harrell-Davis estimates: the samples come from a handful of distinct
    # queries, and a single order statistic jumps from one query's times to
    # the next when two samples trade ranks
    _, tail_p, tail_n = stats.tail(samples)
    tail_v = stats.hd_quantile(samples, tail_p)
    values = {
        "setup_s": stats.median(s["setup_s"] for s in setups),
        "cold_pass_s": passes[0]["wall_s"],
        # the median pass, built query by query: a burst of host noise
        # slows a few queries of one pass, not every query of a pass
        "pass_s": sum(stats.median(ts) for ts in by_query.values()),
        "query_p50_s": stats.hd_quantile(samples, 50),
        "query_tail_s": tail_v,
        "peak_heap_mb": stats.median(p["peak_heap_mb"] for p in measured),
    }
    detail = {"query_tail_percentile": tail_p, "query_samples": tail_n,
              "measured_passes": len(measured),
              "setup_samples_s": [s["setup_s"] for s in setups]}
    return values, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("no program sources under src/main/scala; run from the root of a checkout")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "nproc": nproc(),
             "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
             "loadavg_start": loadavg(), "started": time.time()}

    with open(os.path.join(out_dir, f"{tag}.log"), "w") as log:
        try:
            stamp["build_s"] = build.build(root, log)
        except subprocess.CalledProcessError:
            fail(f"build failed; see {log.name}")

        deadline = time.monotonic() + RUN_BUDGET_S
        work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        data = os.path.join(work, "data")
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(work, d))
        try:
            t = time.monotonic()
            stamp["input_rows"] = inputs.derive(os.path.join(HERE, "base"), data, a.seed)
            stamp["derive_s"] = time.monotonic() - t
            queries = inputs.permute(WORKLOADS[a.workload], a.seed)
            common = {"cores": nproc(), "work": work, "data": data}
            setups = []
            t = time.monotonic()
            # set-up samples in JVMs of their own, before the measured JVM
            if a.trace == 0:
                for i in range(SETUP_SAMPLES - 1):
                    r = jvm(root, dict(common, mode="setup",
                                       out=f"{work}/setup{i}.json"), log, deadline)
                    setups.append(r["setup"])
            stamp["setup_jvms_s"] = time.monotonic() - t
            t = time.monotonic()
            res = jvm(root, dict(common, mode="run", queries=",".join(queries),
                                 seconds=a.seconds, trace=a.trace,
                                 out=f"{work}/run.json", dump=f"{work}/dump"),
                      log, deadline)
            setups.append(res["setup"])
            stamp["run_jvm_s"] = time.monotonic() - t
            t = time.monotonic()
            checks = oracle.check(data, f"{work}/dump", queries,
                                  res["oracle_sql"], res["dumped"])
            stamp["oracle_s"] = time.monotonic() - t
        finally:
            stamp["loadavg_end"] = loadavg()
            shutil.rmtree(work, ignore_errors=True)

    failures = list(res["failures"]) + [f"{q}: {msg}" for q, ok, msg in checks if not ok]
    attempted = res["attempted"] + len(checks)
    failed = sum(1 for q in res["passes"] for r in q["queries"] if not r["ok"]) \
        + sum(1 for _, ok, _ in checks if not ok)
    if a.trace == 0:
        values, detail = end_to_end(setups, res)
        units = END_TO_END_UNITS
    else:
        values, units, detail = layers.per_layer(res, nproc())
    record = {"stamp": stamp, "attempted": attempted, "failed": failed,
              "failures": failures, "metrics": values, "detail": detail,
              "queries": {p["pass"]: p["queries"] for p in res["passes"]},
              "passes": [{k: p[k] for k in ("pass", "kind", "wall_s", "gc_ms",
                                            "jit_ms", "peak_heap_mb")}
                         for p in res["passes"]],
              "oracle": {q: msg for q, _, msg in checks}}
    if a.trace == 1:
        record["trace"] = detail.pop("per_query")
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    with open(os.path.join(out_dir, "results.jsonl"), "a") as f:
        f.write(json.dumps({"stamp": stamp, "metrics": values,
                            "failed": failed, "attempted": attempted}) + "\n")

    for msg in failures:
        print(f"FAILED {msg}")
    print(json.dumps({"stamp": stamp, "detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
