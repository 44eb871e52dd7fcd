#!/usr/bin/env python3
"""SCD engine benchmark: one workload, one seed, one timed window.

Usage (from the repository root):
  python3 perfbench/run.py --workload scd2_ingest|asof_read|driver_mix \
      --seed N --seconds S --trace 0|1

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one local[4] JVM (perfbench/scala/perfbench/Main.scala), checks every
result, and prints as the last stdout line one JSON object: the
end-to-end metrics (--trace 0) or the per-layer metrics of a traced run
(--trace 1). The line before it is a summary with sample counts and the
failed ratio. A traced run also writes its spans, with self times, to
.bench_build/run/<workload>/spans.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("scd2_ingest", "asof_read", "driver_mix")
STAR_SF = 0.005  # driver_mix table scale (lineitem 30k rows)
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 20
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
UNITS = {"setup_s": "s", "ops_per_s": "1/s"}


def finite(v):
    """JSON has no infinity: a latency made infinite by a failed op is
    reported as the largest float."""
    return v if v != float("inf") else sys.float_info.max


def generate(workload, seed, work):
    """Write the workload's seeded inputs under ``work``; return seconds."""
    t = time.perf_counter()
    if workload == "scd2_ingest":
        initial, batches = gen.ingest_tables(seed, **gen.INGEST)
        os.makedirs(f"{work}/in")
        gen.write(initial, f"{work}/in/initial.parquet")
        gen.write(batches, f"{work}/in/batches", partition="batch")
    elif workload == "asof_read":
        dim, facts = gen.asof_tables(seed, **gen.ASOF)
        os.makedirs(f"{work}/in")
        gen.write(dim, f"{work}/in/dim_stream", partition="batch")
        gen.write(facts, f"{work}/in/facts.parquet")
    else:
        os.makedirs(f"{work}/data")
        for name, table in gen.star_tables(seed, STAR_SF).items():
            gen.write(table, f"{work}/data/{name}.parquet")
    return time.perf_counter() - t


def oracle_failures(work, panel):
    """Panel queries whose Spark result differs from its DuckDB oracle, as
    tools/check_oracle.py judges them (its FAIL lines). If the compare
    crashes without naming a query, every panel query fails."""
    r = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check_oracle.py"),
                        f"{work}/data", f"{work}/oracle_out"],
                       capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S)
    failed = dict(line[len("FAIL "):].split(": ", 1)
                  for line in r.stdout.splitlines() if line.startswith("FAIL "))
    if r.returncode != 0 and not failed:
        failed = {q: "oracle compare crashed: " + r.stderr[-200:] for q in panel}
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0, t0_epoch = time.perf_counter(), time.time()
    classpath = build.build()
    build_s = time.perf_counter() - t0
    work = os.path.join(build.OUT, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    gen_s = generate(args.workload, args.seed, work)

    cmd = (["java", "-Xmx3g", "-Xss16m", "-XX:+UseG1GC", "-XX:-UsePerfData"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work])
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"benchmark JVM timed out; see {work}/jvm.log")
    if code != 0 or not os.path.exists(f"{work}/result.json"):
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        sys.exit(f"benchmark JVM failed with code {code}")
    res = json.load(open(f"{work}/result.json"))

    if args.workload == "driver_mix":
        wrong = {**oracle_failures(work, res["start_state"]["panel"]),
                 **res["check"].get("dump_errors", {})}
        res["check"]["oracle_failed"] = wrong
        for o in res["ops"]:
            if o["name"] in wrong:
                o["ok"] = False
                o["error"] = "wrong result: " + wrong[o["name"]]
    if not res["check_ok"]:
        # the check covers the whole sequence: no op's result is trusted
        for o in res["ops"]:
            o["ok"] = False

    metrics, aux = stats.end_to_end(res, gen_s)
    failed = sum(1 for o in res["ops"] if not o["ok"])
    summary = {"workload": args.workload, "seed": args.seed, **aux,
               "wall_s": time.perf_counter() - t0, "build_s": build_s,
               "setup_wall_s": res["first_op_epoch_s"] - t0_epoch,
               "setup_parts_s": {"generate": gen_s, "session": res["session_s"],
                                 "reps": res["setup_reps_s"], "warmup": res["warmup_s"]},
               "check": res["check"], "start_state": res["start_state"],
               "errors": sorted({o["error"] for o in res["ops"] if o["error"]})[:5]}
    if args.trace:
        layer = stats.per_layer(res)
        selfs = stats.self_times(res["spans"])
        with open(f"{work}/spans.json", "w") as fh:
            json.dump([dict(s, self_s=selfs[s["id"]]) for s in res["spans"]], fh)
        layer.update({"e2e.op_s_p50": aux["op_s_p50"],
                      "e2e.ops_per_s": metrics["ops_per_s"]})
        out = {k: {"value": finite(layer[k]), "unit": u} for k, u in stats.LAYER_UNITS.items()}
        summary["span_file"] = os.path.relpath(f"{work}/spans.json")
    else:
        out = {k: {"value": finite(v), "unit": UNITS[k]} for k, v in metrics.items()}
    print(json.dumps(summary, default=str))
    print(json.dumps({"correct": bool(res["check_ok"]) and failed == 0,
                      "attempted": len(res["ops"]), "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
