#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client, one JVM, local[N]
with N = nproc.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. It builds the project with the
benchmark's sources (perfbench/build.py), generates the seeded inputs
(perfbench/gen.py; the ingest backlog is generated in the JVM), runs the measuring JVM (graft.perfbench.Main) for
--seconds of passes after a warm-up pass, checks the outputs (gates in
the JVM, DuckDB oracles through scripts/check_oracle.py) and prints as
its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The line before it is the run record:
host context, seed and the raw per-workload numbers. It exits 1 when a
correctness gate fails and 2 on a usage or build error.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("ingest", "prepare_stream")
# Input sizes per workload: generated documents and ingest frames.
SIZES = {
    "ingest": dict(docs=0, frames=1000000),
    "prepare_stream": dict(docs=500, frames=0),
}
JVM_TIMEOUT_S = 170
XMX = "3g"  # heap of the measuring JVM, recorded in the run record
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def source_id(root):
    """git sha when the tree is a checkout, else a hash of src/."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    import hashlib
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(os.path.join(root, "src"))):
        for f in sorted(fs):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def oracle_check(root, data, check_dir, oracles):
    """Run scripts/check_oracle.py over the checked outputs; return
    (checked, failed names)."""
    if not oracles:
        return 0, []
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    r = subprocess.run([sys.executable,
                        os.path.join(root, "scripts", "check_oracle.py"),
                        data, check_dir],
                       capture_output=True, text=True, timeout=120)
    passed = set(re.findall(r"^PASS (\S+)", r.stdout, re.M))
    bad = [n for n in oracles if n not in passed]
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            sys.stderr.write(f"perfbench: oracle {line}\n")
    return len(oracles), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    for need in ("src/main/scala", "scripts/check_oracle.py",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the repository root")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    t_begin = time.time()
    load_before = loadavg()
    import build
    try:
        classes = build.build(root)
    except SystemExit as e:
        fail(str(e))
    build_s = time.time() - t_begin

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(data)
    size = SIZES[a.workload]

    t_setup = time.time()
    import gen
    if size["docs"]:
        gen.generate(data, a.seed, size["docs"])
    gen_s = time.time() - t_setup

    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{XMX}", f"-Xms{XMX}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{build.spark_jars(root)}/*",
              "graft.perfbench.Main",
              f"workload={a.workload}", f"seed={a.seed}",
              f"seconds={a.seconds}", f"trace={a.trace}", f"data={data}",
              f"work={work}", f"cpus={cpus}", f"out={out}",
              f"frames={size['frames']}",
              f"plant={os.environ.get('PERFBENCH_PLANT_DELAY', '')}",
              f"corrupt={os.environ.get('PERFBENCH_CORRUPT', '0')}"])
    t_launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch space inside the run directory either way
        env = dict(os.environ,
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=root, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"measuring JVM ended with {rc}", code=1)
    with open(out) as f:
        res = json.load(f)

    checked, bad = oracle_check(root, data, res["check_dir"], res["oracles"])
    attempted = res["attempted"] + checked
    failed = res["failed"] + len(bad)
    correct = failed == 0

    # set-up: input generation, JVM and session start, staging, the
    # warm-up pass, plus the median per-pass staging of fresh inputs
    setup_s = (gen_s + (res["setup_end_ms"] / 1000.0 - t_launch)
               + (res["stage_s"] or 0.0))
    metrics = {}
    if a.trace == 0:
        values = dict(res["e2e"], setup_s=setup_s)
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": values.get(m["name"]),
                                  "unit": m["unit"]}
    else:
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": res["layers"].get(m["name"], 0.0),
                                  "unit": m["unit"]}
    if any(v["value"] is None for v in metrics.values()):
        correct = False

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "master": f"local[{cpus}]", "nproc": cpus,
        "xmx": XMX, "loadavg_before": load_before, "loadavg_after": loadavg(),
        "source": source_id(root), "build_s": round(build_s, 3),
        "gen_s": round(gen_s, 3),
        # set-up phases, seconds: JVM start to main, session start,
        # in-JVM inputs, warm-up pass, median per-pass staging
        "setup_phases": {
            "jvm": round(res["main_start_ms"] / 1000.0 - t_launch, 3),
            "session": round((res["session_ms"] - res["main_start_ms"])
                             / 1000.0, 3),
            "inputs": round(res["inputs_s"], 3),
            "warmup": round(res["warmup_s"], 3),
            "stage": round(res["stage_s"] or 0.0, 3)},
        "passes": res["passes"],
        "pass_s": res["pass_s"], "ops": res["ops"],
        "traced_passes": res["traced_passes"],
        "window_s": round(res["window_s"], 3),
        "probes_s": round(res["probes_s"], 3), "sizes": size,
        "gates_failed": [g for g in res["gates"] if not g[1]],
        "oracle_failed": bad, "oracle_checked": checked,
        "layers": res["layers"], "e2e": res["e2e"],
    }
    with open(os.path.join(root, ".bench_work", "last_run.json"), "w") as f:
        json.dump(record, f)
    # keep the run record and spans; the inputs and outputs can go
    for name in os.listdir(work):
        if name not in ("result.json", "spans.jsonl", "jvm.log"):
            path = os.path.join(work, name)
            shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) \
                else os.remove(path)
    print(json.dumps(record))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
