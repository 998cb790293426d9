#!/usr/bin/env python3
"""GraftLake benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <query_catalog|lake_churn|erase_sql>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the JVM driver in
perfbench/ with sbt (once per source tree; the classpath is cached under
.bench_build/), generates the seeded inputs, runs one untimed warm-up
round and then whole timed rounds for about --seconds, checks every output
against a model computed apart from the engine, and prints one JSON
object as the last line of stdout. With --trace 0 it carries the
end-to-end metrics, with --trace 1 the per-layer metrics. Every run also
saves its full metric set to .bench_build/results/ for compare.py.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

BUILD = ".bench_build"
DEADLINE_S = 170  # a run must end within 180 s once the build is done
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Extra set-ups after the timed rounds, so setup_s is a median.
SETUP_REPEATS = 2
# Nominal length of one round of each workload's script (4 vCPUs, quiet
# host). A run measures ceil(--seconds / nominal) whole rounds, so every
# run with the same --seconds does the same operations whatever the
# speed of the machine at the time.
ROUND_S = {"query_catalog": 4.0, "lake_churn": 16.0, "erase_sql": 7.0}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the driver; return the runtime classpath."""
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")
            and os.path.isdir("perfbench/src")):
        fail("run from the repository root: the engine sources are missing")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd="perfbench", stdout=f, stderr=subprocess.STDOUT, env=env,
            timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1] + "\n")
    return lines[-1]


def make_inputs(workload, seed, work):
    src = os.path.join(work, "inputs")
    ops, warm = inputs.make(workload, seed, src)
    for name, script in (("script", ops), ("warmup", warm)):
        inputs.write_script(os.path.join(work, f"{name}.tsv"), script)
    return src, ops, warm


def run_jvm(cp, conf, log, deadline):
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={os.path.abspath(conf['work'])}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", conf["conf_file"]])
    os.makedirs(os.path.join(conf["work"], "tmp"), exist_ok=True)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("the JVM driver overran the run deadline")
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the JVM driver exited with {rc}; see {log}")


def declared(values, section):
    """The metrics in BENCHMARK.json's order; refuse any drift between
    what is computed and what is declared."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)[section]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in values.items()}
    if want != got:
        fail(f"computed {section} metrics differ from BENCHMARK.json: "
             f"{sorted(set(want.items()) ^ set(got.items()))}")
    return {m["name"]: values[m["name"]] for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["query_catalog", "lake_churn", "erase_sql"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))

    cp = build()
    deadline = time.time() + DEADLINE_S
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.abspath(os.path.join(BUILD, "runs", tag))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        src, ops, warm = make_inputs(a.workload, a.seed, work)
        t1 = time.time()
        conf = {
            "workload": a.workload, "inputs": src,
            "script": os.path.join(work, "script.tsv"),
            "warmup_script": os.path.join(work, "warmup.tsv"),
            "setup_repeats": SETUP_REPEATS,
            "work": work, "out": os.path.join(work, "records.jsonl"),
            "rounds": max(1, math.ceil(a.seconds / ROUND_S[a.workload])),
            "trace": a.trace,
            "cores": min(4, os.cpu_count() or 1),
            "delete_file_rows": inputs.DELETE_FILE_ROWS,
            "conf_file": os.path.join(work, "driver.conf")}
        with open(conf["conf_file"], "w") as f:
            f.write("".join(f"{k}={v}\n" for k, v in conf.items()))
        run_jvm(cp, conf, os.path.join(work, "driver.log"), deadline)
        t2 = time.time()
        recs = metrics.load(conf["out"])
        problems = checks.check(a.workload, src, ops, warm, recs)
        print(f"perfbench: inputs {t1 - t0:.1f} s, driver {t2 - t1:.1f} s, "
              f"checks {time.time() - t2:.1f} s", file=sys.stderr)
        for p in problems[:20]:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        e2e, layers, env, trace = metrics.compute(a.workload, recs, a.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    timed = [r for r in recs if r["type"] == "op" and r["round"] >= 1]
    result = {"correct": not problems, "attempted": len(timed),
              "failed": sum(1 for r in timed if not r["ok"]),
              "metrics": declared(layers if a.trace else e2e,
                                  "per_layer" if a.trace else "end_to_end")}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "seconds": a.seconds, "result": result, "end_to_end": e2e,
                   "per_layer": layers, "env": env, **trace},
                  f, indent=1)
    print(json.dumps({"env": env}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
