#!/usr/bin/env python3
"""EmoStream benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first run builds the program and the
benchmark from source into .bench_build/ (see build.sh); every run then
starts one JVM on local[<cores>] that drives the workload through the
program's public entry points and checks its outputs. batch_mix answers are
also checked here against the program's own DuckDB oracle SQL.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1. Spans of a traced run go to .bench_build/traces/.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no jars directory under Spark home {home}")
    return jars


def run_child(cmd, deadline, **kw):
    """Runs cmd in its own process group; kills the group at the deadline."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{os.path.basename(cmd[0])} did not finish before the deadline")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build(deadline):
    code, _ = run_child(["bash", os.path.join(HERE, "build.sh")], deadline + 900)
    if code != 0:
        fail(f"build failed (exit {code})")


def jvm(args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cp = os.pathsep.join([os.path.join(BUILD, "classes"), os.path.join(spark_jars(), "*")])
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={work}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        code, out = run_child(cmd, deadline, stdout=subprocess.PIPE, stderr=log, text=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if code != 0 or not lines:
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM exited {code} without a result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    start = time.time()
    # a TERM unwinds like an exception, so the child JVM is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}; run from a checkout of the repository")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    names = {w["name"] for w in spec["workloads"]}
    if not a.self_test and a.workload not in names:
        fail(f"unknown workload {a.workload!r}; one of {sorted(names)}")
    build(start + DEADLINE_S)

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            # the arithmetic self-tests run at every JVM start; this adds
            # the dashboard checker's probe on an Update-mode serve table
            res = jvm(["--workload", "update_mode_probe", "--seed", "1", "--seconds", "1",
                       "--trace", "0"], work, start + DEADLINE_S)
            doubled = res["layers"]["update_mode.double_counts"] == 1
            print(f"self-test {'passed' if res['correct'] else 'FAILED'}: the Update-mode serve "
                  f"table {'double-counts' if doubled else 'counts each event once'}, and the "
                  f"dashboard checker {'flags' if doubled else 'passes'} it")
            sys.exit(0 if res["correct"] else 1)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
        if a.workload == "batch_mix":
            import tables
            data = tables.ensure(os.path.join(BUILD, "data"), a.seed)
            args += ["--data", data]
        res = jvm(args, work, start + DEADLINE_S)
        attempted, failed, correct = res["attempted"], res["failed"], res["correct"]
        if a.workload == "batch_mix":
            import oracle
            mismatched = oracle.check(data, os.path.join(work, "answers"))
            failed += len(mismatched)
            correct = correct and not mismatched
        if a.trace:
            # a layer the workload does not run did no work: it reports 0
            metrics_spec = spec["per_layer"]
            values = {m["name"]: res["layers"].get(m["name"], 0.0) for m in metrics_spec}
        else:
            metrics_spec = spec["end_to_end"]
            values = res["e2e"]
            missing = [m["name"] for m in metrics_spec if m["name"] not in values]
            if missing:
                fail(f"the run did not measure {missing}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics_spec}
        for t in res["tally"]:
            print(f"{t['kind']}: {t['failed']} failed of {t['attempted']}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
