#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source on first use (sbt, offline),
checks the committed input tables (`perfbench/data/`) against their
content digests, and runs the harness (`perfbench.Main`) in a fresh JVM. The harness's result
is the last line printed: `{"correct", "attempted", "failed", "metrics"}`.

Everything it writes stays under `.bench_build/` in the repository root:
the classpath, scratch space, logs, run records and traces.
"""
import argparse
import glob
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
WORK = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
BASE_SF = "0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "8g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout kills the whole
    group and waits for it. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
              os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += sorted(f for f in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                        if os.path.isfile(f) and "/target/" not in f)
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    tmp = os.path.join(WORK, "tmp", "sbt")
    os.makedirs(tmp, exist_ok=True)
    opts += ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and not any("sbt.repository.config" in o for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # also reaches the launcher script's own java version probe
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    log("building graft and the harness (sbt)")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as errf:
        rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                           cwd=HERE, env=env, stderr=errf)
        errf.write(out)
    lines = [l for l in out.splitlines() if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not lines:
        sys.exit(f"[perfbench] build failed (exit {rc}); see .bench_build/build.log")
    log(f"built in {time.time() - t0:.1f} s")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, tmp):
    """The harness JVM, with the JVM options of graft's own `run` (heap,
    module opens, UI off, UTC) and the default JIT."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"]


def launch(cp, args, tag, timeout):
    """Runs the harness JVM with `args`, passing it the launch time so it
    can time its start-up from process start. Returns (returncode, stdout)."""
    tmp = os.path.join(WORK, "tmp", f"{tag}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    try:
        with open(os.path.join(WORK, "logs", f"{tag}.log"), "w") as errf:
            cmd = java_cmd(cp, tmp) + args + ["--launched-ms", str(int(time.time() * 1000))]
            return run_proc(cmd, timeout, stderr=errf, env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def input_digests():
    """The sha256 of every input table's file."""
    out = {}
    for t in TABLES:
        path = os.path.join(DATA, f"{t}.parquet")
        if os.path.isfile(path):
            with open(path, "rb") as f:
                out[t] = hashlib.sha256(f.read()).hexdigest()
    return out


def meminfo_kb():
    try:
        with open("/proc/meminfo") as f:
            return int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return 0


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_proc kills it on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("[perfbench] graft sources not found next to the benchmark; nothing to run")
    os.makedirs(WORK, exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cp = build()

    with open(os.path.join(HERE, "inputs.json")) as f:
        want = json.load(f)
    have = input_digests()
    bad = sorted(k for k in set(want) | set(have) if want.get(k) != have.get(k))
    if bad:
        sys.exit(f"[perfbench] input digest mismatch for {', '.join(bad)}")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    context = {"nproc": cores, "mem_total_kb": meminfo_kb(), "heap": HEAP,
               "git_commit": git_commit(), "base_sf": BASE_SF, "inputs": have}
    rc, out = launch(cp, [
        "run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", DATA,
        "--reference", os.path.join(HERE, "reference.tsv"),
        "--record", os.path.join(WORK, "runs", f"{tag}.json"),
        "--spans", os.path.join(WORK, "traces", f"{tag}.jsonl"),
        "--context", json.dumps(context, separators=(",", ":"))], tag, RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if rc != 0 or not lines:
        sys.exit(f"[perfbench] run failed (exit {rc}); see .bench_build/logs/{tag}.log")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
