#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <route_batch|query_mix>
        --seed <n> --seconds <s> --trace <0|1> [--fault-scale <x>]

Run it from the root of a checkout. It builds the engine and the harness
from source (perfbench/build.py), runs the workload in a fresh JVM, checks
every output, prints a report and, as the last line of stdout, one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics; the traced run also writes its spans to
.bench_build/trace/<workload>-<seed>.jsonl. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("route_batch", "query_mix")
JVM_TIMEOUT_S = 160
TABLES = os.path.join(HERE, "data", "sf0.01")
# generated records per workload, in wire files of REPLAY_RECORDS each;
# the streaming replay reads the first file
RECORDS = {"route_batch": 240000}
REPLAY_RECORDS = 15000
# per-layer metrics of layers a workload does not use; reported as 0
IDLE_LAYERS = {
    "route_batch": ("query.", "memo."),
    "query_mix": ("routing.", "route.", "stream.", "sources.", "streaming."),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpus():
    return len(os.sched_getaffinity(0))


def git_commit():
    """HEAD when the checkout is the top of a git repository, else None."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def run_jvm(classpath, bdir, workload, seed, seconds, trace, fault_scale):
    """One fresh JVM run; returns the harness's result dict."""
    work = os.path.join(bdir, "work", f"{workload}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(bdir, "trace"), exist_ok=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(bdir, "trace", f"{workload}-{seed}.jsonl")
    try:
        n = cpus()
        gen_dir, gen_s = os.path.join(work, "gen"), 0.0
        if workload in RECORDS:
            import wiregen
            events = wiregen.load_events(os.path.join(TABLES, "events.parquet"))
            t0 = time.perf_counter()
            wiregen.write(events, seed, RECORDS[workload], gen_dir,
                          files=RECORDS[workload] // REPLAY_RECORDS,
                          fault_scale=fault_scale)
            gen_s = time.perf_counter() - t0
        cmd = (["java", "-Xmx3g", "-Xss16m"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={tmp}",
                  f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
                  "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                  f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                  "-cp", classpath, "perfbench.Main", workload, str(seed),
                  str(seconds), str(trace), str(n), TABLES, gen_dir, repr(gen_s),
                  work, out, spans])
        log(f"starting the {workload} JVM")
        try:
            r = subprocess.run(cmd, stdout=sys.stderr, timeout=JVM_TIMEOUT_S,
                               cwd=work)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: the {workload} JVM ran past {JVM_TIMEOUT_S} s")
        if r.returncode != 0:
            raise SystemExit(f"run: the {workload} JVM failed with code {r.returncode}")
        log("JVM done")
        with open(out) as f:
            res = json.load(f)
        if workload == "query_mix":
            import oracle
            con = oracle.connect(TABLES, os.path.join(work, "duckdb"))
            for q in res["oracle"]:
                err = oracle.compare(con, q["dir"], q["sql"], os.path.join(bdir, "oracle"))
                if err:
                    res["failures"].setdefault(q["op"], f"oracle: {err}")
                res["report"].append([f"oracle {q['name']}", err or "pass"])
            con.close()
            log("oracle checks done")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["pins"]["git_commit"] = git_commit()
    with open(os.path.join(bdir, "classes.stamp")) as f:
        res["pins"]["source_sha256"] = f.read()
    res["pins"]["trace"] = trace
    if workload in RECORDS:
        res["pins"]["fault_scale"] = fault_scale
    if trace:
        res["pins"]["span_file"] = os.path.relpath(spans, ROOT)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # multiplies every injected fault share of route_batch (0: all records
    # valid); only for measuring how the figures depend on the mix
    ap.add_argument("--fault-scale", type=float, default=1.0)
    a = ap.parse_args()
    bench = spec()
    bdir = os.path.join(ROOT, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    log("build")
    classpath = build.build(bdir)
    res = run_jvm(classpath, bdir, a.workload, a.seed, a.seconds, a.trace, a.fault_scale)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    last_untraced = os.path.join(results, f"{a.workload}.json")
    if a.trace:
        # tracing overhead: the traced run's end-to-end metrics against the
        # latest untraced run of the workload in this checkout (made now
        # when there is none)
        if not os.path.exists(last_untraced):
            base = run_jvm(classpath, bdir, a.workload, a.seed, a.seconds, 0, a.fault_scale)
            with open(last_untraced, "w") as f:
                json.dump(base, f)
        with open(last_untraced) as f:
            base = json.load(f)
        for m in e2e:
            b, t = base["e2e"].get(m), res["e2e"].get(m)
            res["layer"][f"trace.overhead.{m}"] = (t / b - 1) if b and t else 0.0
        for m in layer:
            if m.startswith(IDLE_LAYERS[a.workload]):
                res["layer"].setdefault(m, 0.0)
    else:
        with open(last_untraced, "w") as f:
            json.dump(res, f)
    values = res["layer"] if a.trace else res["e2e"]
    units = layer if a.trace else e2e
    missing = [m for m in units if m not in values]
    if missing:
        raise SystemExit(f"run: the harness reported no {', '.join(missing)}")
    failed = len(res["failures"])
    attempted = max(1, res["attempted"])

    print(f"== {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    for k, v in sorted(res["pins"].items()):
        print(f"  pin {k} = {v}")
    for k, v in res["report"]:
        print(f"  {k}: {v}")
    for m in units:
        print(f"  {m} = {values[m]:.6g} {units[m]}")
    print(f"  failed_frac = {failed / attempted:.6g} ratio "
          f"({failed} failed of {attempted} attempted)")
    for op, why in res["failures"].items():
        print(f"  FAILED {op}: {why}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": values[m], "unit": units[m]} for m in units},
    }))


if __name__ == "__main__":
    main()
