#!/usr/bin/env python3
"""Benchmark of graft: one workload, one JVM, one result line.

    python3 perfbench/run.py --workload <suite|etl_serve> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and the
harness with sbt and generates the input corpus; both are kept under
`.bench_build/perfbench/` for later runs. The last line of standard output is
the result; the line before it holds the run record and the detail.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("suite", "etl_serve")
SCALE = "0.01"          # graft.GenData scale factor of the input corpus
HEAP = "-Xmx4g"
JVM_TIMEOUT_S = 165     # the whole run must end within 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def tree_digest(paths):
    """sha256 over the contents of every file under `paths`."""
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(ROOT, base)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    digest = tree_digest(BUILD_INPUTS)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep) if not e.endswith(".jar")):
            return cp
    log("building the program and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        die("build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def java(cp, args, work, env_extra=None, log_path=None, timeout=JVM_TIMEOUT_S):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(env_extra or {})
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", cp] + args)
    with open(log_path or os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def corpus(cp):
    """The input corpus: graft.GenData at SCALE, generated once per checkout."""
    gen = tree_digest(["src/main/scala/graft/GenData.scala"]) + SCALE
    data = os.path.join(STATE, f"data-sf{SCALE}")
    stamp = data + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == gen:
        return data
    log(f"generating the sf{SCALE} corpus with graft.GenData")
    work = os.path.join(STATE, "gendata")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(work)
    rc = java(cp, ["graft.GenData", SCALE, data], work, timeout=600)
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        die("corpus generation failed")
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(gen)
    return data


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------------ run record

def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return None


def commit():
    """HEAD when the checkout is itself a git work tree, else None (the
    source digest in the run record identifies the code either way)."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
        return out[1]
    return None


def run_record(raw, load_start, load_end):
    env = raw["env"]
    return {"commit": commit(), "source_digest": tree_digest(["build.sbt", "src/main"]),
            "seed": raw["seed"], "nproc": os.cpu_count(),
            "cpus_effective": env["cpus_effective"],
            "cgroup_quota_cores": env["cgroup_quota_cores"],
            "xmx": HEAP, "max_heap_mb": env["max_heap_mb"],
            "spark_version": env["spark_version"], "java_version": env["java_version"],
            "kernel": platform.release(), "load1_start": load_start, "load1_end": load_end,
            "session_conf": env["session_conf"], "scale_factor": SCALE}


# ------------------------------------------------------------------ one run

def names(listing):
    with open(os.path.join(HERE, "workloads", listing)) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def portable(x):
    """`x` with the checkout's absolute path cut from every string, so that
    kept records name only paths inside the checkout."""
    if isinstance(x, str):
        return x.replace(ROOT + os.sep, "")
    if isinstance(x, dict):
        return {k: portable(v) for k, v in x.items()}
    if isinstance(x, list):
        return [portable(v) for v in x]
    return x


def measure(cp, data, workload, seed, seconds, trace):
    """Run the harness JVM once; return the raw record (None on failure)."""
    work = os.path.join(STATE, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    args = ["perfbench.Main", "run", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--data", data, "--out", out]
    if workload == "suite":
        args += ["--names", os.path.join(HERE, "workloads", "suite.txt"),
                 "--build", os.path.join(HERE, "workloads", "index_build.txt")]
    if trace:
        args += ["--spans", os.path.join(work, "spans.jsonl")]
    # an empty, run-owned artifact root
    artifacts = os.path.join(work, "artifacts")
    rc = java(cp, args, work, {"SPARK_GRAFT_ARTIFACTS_DIR": artifacts})
    raw = None
    if rc == 0 and os.path.exists(out):
        raw = portable(json.load(open(out)))
    else:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        log(f"harness JVM exited with {rc}")
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{workload}-trace{int(trace)}-seed{seed}-{int(time.time() * 1000)}"
    if raw is not None:
        with open(os.path.join(results, stem + ".json"), "w") as f:
            json.dump(raw, f)
    if trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.move(os.path.join(work, "spans.jsonl"), os.path.join(results, stem + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return raw


def load_expected(workload):
    if workload == "etl_serve":
        return json.load(open(os.path.join(HERE, "expected", "etl_serve.json")))
    return json.load(open(os.path.join(HERE, "expected", "queries.json")))["queries"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources here: run from the root of a graft checkout")
    cp = build()
    data = corpus(cp)
    expected = load_expected(a.workload)
    committed = []
    if a.workload == "suite":
        committed = names("suite.txt")
        if a.trace:
            committed += ["build:" + q for q in names("index_build.txt")]

    load_start = loadavg()
    raw = measure(cp, data, a.workload, a.seed, a.seconds, bool(a.trace))
    load_end = loadavg()
    if raw is None:
        die("run failed", 1)

    attempted, failed, failures = metrics.verdict(a.workload, raw, expected, committed)
    cores = raw["env"]["cpus_effective"]
    if a.trace:
        values = metrics.per_layer(a.workload, raw, dir_bytes(data), cores)
        units = metrics.per_layer_units()
    else:
        values = metrics.end_to_end(a.workload, raw)
        units = metrics.E2E_UNITS
    detail = {"workload": a.workload, "trace": a.trace,
              "run_record": run_record(raw, load_start, load_end),
              "detail": metrics.detail(a.workload, raw, attempted, failed),
              "failures": dict(list(failures.items())[:20])}
    if a.trace:
        detail["construct_jobs_by_query"] = {
            o["name"]: o["construct_counters"]["jobs"] for o in raw.get("ops", [])
            if o.get("construct_counters", {}).get("jobs", 0) > 0}
        detail["index_build_jobs_by_query"] = {
            o["name"]: o["build_counters"]["jobs"] for o in raw.get("index_build", [])
            if o.get("build_counters", {}).get("jobs", 0) > 0}
    print(json.dumps(detail))
    result = metrics.result(values, units, attempted, failed)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
