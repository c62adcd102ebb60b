#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload, one client, one seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and
the benchmark's runner from source with sbt (into target/ and .bench_build/) and
generates the query tables; later runs reuse both while the sources are
unchanged. Prints a few report lines, then one JSON line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits 1 when an output is wrong or an operation threw, 2 when the
benchmark cannot run.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_bls  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

# The `queries` workload: oracle-checked, non-streaming SparkEntry
# queries whose wall at the close config was under 0.8 s. Eight are one
# per family (top-k, text, events, windows, dedup, vectors, TPC-H
# aggregation, text ranking); their wall is mostly the per-query fixed
# floor: construction, planning, codegen, job launch. q_hierarchy runs
# iterative graph rounds with checkpointed state.
QUERIES = (
    "q_topk", "q_term_freq", "q_events_hourly", "q_window", "q_dedup_exact",
    "q_knn_brute", "q_tpch_q1", "q_bm25", "q_hierarchy")
WORKLOADS = ("queries", "daily_pipeline")
DAILY_CYCLES = 40      # cycles generated; a run stops early if it uses all
BUILD_TIMEOUT_S = 780
JVM_TIMEOUT_S = 150
UNITS = {"setup_s": "s", "op_s.p50": "s", "op_s.tail": "s", "ops_per_s": "1/s",
         "cpu_s_per_op": "s", "mem_live_mb": "MB", "success_rate": "ratio"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            for f in fs if "target" not in os.path.relpath(d, ROOT).split(os.sep))
        for f in paths:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the runner; returns (classpath, JVM flags)."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "launch.stamp")
    stamp = source_stamp()
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(BUILD, exist_ok=True)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            try:
                code = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                    cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                code = -1
        if code != 0:
            fail(f"build failed, see {log}:\n" + open(log).read()[-2000:])
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def tables():
    """The query tables, generated once per version of their generator."""
    out = os.path.join(BUILD, "tables")
    done = os.path.join(out, "_DONE")
    with open(gen_tables.__file__, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    if not (os.path.exists(done) and open(done).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        gen_tables.write(out)
        with open(done, "w") as f:
            f.write(stamp)
    return out


def jvm(cp, flags, args, log):
    """Run the runner JVM; returns its exit code (-1 on timeout)."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    cmd = (["java"] + flags + [f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
                               "-cp", cp, "graft.perfbench.Runner"] + args)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    with open(log, "a") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def measure(cp, flags, workload, seed, seconds, trace, data, work, input_dir):
    os.makedirs(work, exist_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--work", work]
    if workload == "queries":
        args += ["--queries", ",".join(QUERIES)]
    else:
        args += ["--input", input_dir]
    log = os.path.join(work, "jvm.log")
    code = jvm(cp, flags, args, log)
    out = os.path.join(work, "run.json")
    if code != 0 or not os.path.exists(out):
        fail(f"runner exited with {code}, see {log}:\n" + open(log).read()[-3000:])
    return json.load(open(out))


def check(workload, run, work, data, input_dir):
    """Wrong outputs, keyed by op id or (for queries) op name."""
    if workload != "daily_pipeline":
        return checks.oracle(data, work, sorted({o["name"] for o in run["ops"]}))
    wrong = {}
    ids = {o["id"] for o in run["ops"]}
    last = max(ids)
    log = json.load(open(os.path.join(input_dir, "log.json")))
    cdc = json.load(open(os.path.join(work, "cdc.json")))
    for cycle, err in checks.cdc(cdc, log).items():
        wrong[int(cycle) - 1] = err
    errs = {}
    errs.update(checks.mirror(os.path.join(input_dir, "src"), run["mirror"]))
    errs.update(checks.reports(run["mirror"], os.path.join(input_dir, "landing"),
                               run["reports"]))
    if errs:
        wrong[last] = "; ".join(f"{k}: {v}" for k, v in errs.items())
    return wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources beside {HERE}: run it from a graft checkout")

    cp, flags = build()
    data = tables()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    if a.workload == "daily_pipeline":
        gen_bls.generate(input_dir, a.seed, DAILY_CYCLES)

    work = os.path.join(run_dir, "work")
    t0 = time.time()
    run = measure(cp, flags, a.workload, a.seed, a.seconds, a.trace, data,
                     work, input_dir)
    t1 = time.time()
    wrong = check(a.workload, run, work, data, input_dir)
    print(f"timing: jvm {t1 - t0:.1f} s (session {run['session_s']:.1f} s, "
          f"prep {run['prep_s']:.1f} s), checks {time.time() - t1:.1f} s")
    ops = run["ops"]
    failed = metrics.failed_ops(ops, wrong)
    for o in ops:
        if o["err"]:
            print(f"op {o['id']} {o['name']} threw: {o['err']}")
    for k, v in wrong.items():
        print(f"wrong result {k}: {v}")

    if a.trace == 0:
        values, tail_pct = metrics.end_to_end(run, wrong)
        print(f"{a.workload}: {len(ops)} ops, tail = p{tail_pct:.1f}, "
              f"error_rate {len(failed) / len(ops):.4f}, "
              f"peak RSS {run['rss_peak_mb']:.0f} MB, live heap "
              f"{run['heap_live_mb']:.0f} MB, non-heap {run['non_heap_mb']:.0f} MB")
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    else:
        cdc, changed = None, None
        if a.workload == "daily_pipeline":
            cdc = json.load(open(os.path.join(work, "cdc.json")))
            log = json.load(open(os.path.join(input_dir, "log.json")))
            changed = sum(log[c]["insert"] + log[c]["update"] for c in cdc)
        values = metrics.per_layer(run, cdc, changed)
        top = metrics.top_self(run)
        print(f"{a.workload}: top spans by self time (total ms, runs, op, span):")
        for ms, n, op, span in top:
            print(f"  {ms:10.1f} {n:4d}  {op:24s} {span}")
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"per_layer": values, "top_self": top, "ops": ops,
                       "spans": run["spans"], "layers": run["layers"]}, f)
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}

    # a thrown operation fails the run as a wrong result does
    correct = not wrong and not failed
    shutil.copy(os.path.join(work, "run.json"),
                os.path.join(BUILD, f"last-{a.workload}-{a.trace}.json"))
    if correct:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(failed), "metrics": out}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_share", "_ratio")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
