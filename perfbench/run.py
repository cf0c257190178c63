"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <migrate|ivm_cdc|query_mix> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Builds graft and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed, runs
one JVM (perfbench.Main) that sets the workload up and times its passes,
checks the outputs, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The line
before it carries the run's stamp (nproc, JVM, Spark version, source
revision) and the raw per-pass figures. A traced run also leaves its spans,
jobs and samples in .bench_work/<workload>-<seed>-<pid>.trace.json. Exits
non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK = ".bench_work"
DEADLINE_S = 170  # generation, JVM and checks; the build is not counted
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def revision(source_hash):
    """The git commit when the checkout is a repository, else the hash of
    the sources the build compiled."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "src-sha256:" + source_hash[:16]


def run_jvm(workload, inputs, work, seconds, trace, deadline):
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", build.classpath(), "perfbench.Main",
        workload, inputs, work, str(seconds), str(trace)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit("perfbench: the run exceeded its time limit")
    if code != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-8000:])
        sys.exit(f"perfbench: the JVM exited with code {code}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    source_hash = build.build()
    deadline = time.time() + DEADLINE_S

    root = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    inputs, work = os.path.abspath(f"{root}/in"), os.path.abspath(f"{root}/work")
    try:
        g0 = time.time()
        injected = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - g0
        os.makedirs(work)
        result = run_jvm(a.workload, inputs, work, a.seconds, a.trace, deadline)
        attempted, failed, problems = checks.check(
            a.workload, work, result["facts"], inputs, injected)
        if a.trace:  # spans, jobs and samples outlive the run's scratch
            with open(f"{root}.trace.json", "w") as f:
                json.dump(result["trace"], f)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    for p in problems:
        log(f"CHECK FAILED: {p}")
    ms = metrics.per_layer(result) if a.trace else metrics.end_to_end(result)
    stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
             "nproc": result["cpus"], "jvm": result["jvm"],
             "spark": result["spark_version"], "revision": revision(source_hash),
             "generate_s": gen_s, "setup_s": result["setup_s"],
             "warmup_s": result["warmup_s"],
             "passes": result["passes"], "ops": result["ops"], "problems": problems}
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
