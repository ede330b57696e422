#!/usr/bin/env python3
"""Run one benchmark workload against the checkout this file sits in.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. The first call compiles the program and the
benchmark with sbt (offline, toolchain caches) into `.bench_build/`; later
calls reuse that build while the sources hash the same. The workload runs in
one JVM (`perfbench.Main`) whose last stdout line is the result JSON. All
scratch data lives under `.bench_work/` in the checkout and is removed when
the run ends.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
WORKLOADS = [w["name"] for w in json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]]
CLASS_ARCHIVE = BUILD / "classes.jsa"
RUN_TIMEOUT_S = 170

def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def add_opens():
    """The JDK 17 --add-opens flags Spark needs, as the program's build lists them."""
    m = re.search(r"jdk17AddOpens\s*=\s*Seq\((.*?)\)", (ROOT / "build.sbt").read_text(), re.S)
    if m is None:
        die("the program's build.sbt lists no jdk17AddOpens")
    return [a for p in re.findall(r'"([^"]+)"', m.group(1)) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def source_stamp():
    """Hash of every input the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (PROGRAM_SRC, HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build():
    if not PROGRAM_SRC.is_dir() or not (ROOT / "build.sbt").is_file():
        die(f"program sources not found at {PROGRAM_SRC.relative_to(ROOT)}; "
            "run from the root of a full checkout")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cp = next((l for l in reversed(lines)
               if ".jar" in l and not l.startswith("[")), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    # Class-data sharing: one JVM sets up every workload and archives the
    # classes it loaded, so each run maps them instead of loading them.
    CLASS_ARCHIVE.unlink(missing_ok=True)
    rc = run_jvm(cp, "train", "perfbench.Train", [f"-XX:ArchiveClassesAtExit={CLASS_ARCHIVE}"],
                 ["--workload", "all", "--seed", "0", "--seconds", "0", "--trace", "0"],
                 timeout=600, stdout=subprocess.DEVNULL)
    if rc != 0 or not CLASS_ARCHIVE.is_file():
        print("perfbench: no class archive; runs load every class", file=sys.stderr)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def cpu_ticks():
    """`busy,steal` CPU ticks of this VM, as `CpuTicks` in Main.scala reads them."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
        return f"{t[0] + t[1] + t[2] + t[5] + t[6]},{t[7]}"
    except (OSError, ValueError, IndexError):
        return "0,0"


def run_jvm(cp, name, main_class, jvm_args, args, timeout, stdout=None):
    """Runs one benchmark JVM with its scratch data under `.bench_work/`,
    which is removed when the JVM has ended. Returns its exit code."""
    threads = max(1, min(4, len(os.sched_getaffinity(0))))
    work = WORK / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(threads),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = (["java"] + add_opens() + jvm_args
           + ["-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
              "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", cp, main_class]
           + args + ["--threads", str(threads), "--work", str(work), "--data", str(HERE / "data")])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=stdout)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK.rmdir()
        except OSError:
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = ensure_build()
    # The set-up clock starts once the build is in place.
    t0 = [f"-Dperfbench.t0={int(time.time() * 1000)}", f"-Dperfbench.cpu0={cpu_ticks()}"]
    cds = [f"-XX:SharedArchiveFile={CLASS_ARCHIVE}"] if CLASS_ARCHIVE.is_file() else []
    sys.exit(run_jvm(cp, args.workload, "perfbench.Main", cds + t0,
                     ["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace)],
                     timeout=RUN_TIMEOUT_S))


if __name__ == "__main__":
    main()
