#!/usr/bin/env python3
"""Four-track benchmark entry point. BENCHMARK.json lists two workloads:
serving (the filter, OOD and sparse tracks in one loop) and streaming_runbook;
filter_planner, ood_interactive and sparse_mips run one serving track alone.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into graftbench/target, records the
classpath under .bench_build/, and makes a class-data archive there with one
short training run; later runs reuse both while the sources are unchanged.
The run itself is one JVM: local[nproc] Spark, a heap sized from
/proc/meminfo as the tier-1 test command sizes it, and a scratch directory
under .bench_build/ that is removed afterwards. The last line of stdout is
the result JSON.

For re-measuring the frozen knobs only (see README.md):
    --sweep knob=v1,v2  a setup and one checked pass per value of one search
                        knob (track.knob on serving); prints recall per value
                        and no result line
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ARCHIVE = BUILD / "classes.jsa"
# the two listed in BENCHMARK.json, then serving's three tracks on their own
WORKLOADS = ["serving", "streaming_runbook", "filter_planner", "ood_interactive", "sparse_mips"]
RUN_LIMIT_S = 175      # every run must end within 180 s
BUILD_LIMIT_S = 880    # the first run in a checkout may take 900 s
TRAIN_LIMIT_S = 240    # the class-data archive's training run, within those

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=3):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = sorted(p for d in (ROOT / "src" / "main", HERE / "src", HERE / "project")
                   if d.is_dir() for p in d.rglob("*") if p.is_file()
                   and "target" not in p.relative_to(ROOT).parts)
    for p in files + [HERE / "build.sbt"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, cwd, env, limit, capture):
    """Run a child in its own process group; kill the group past `limit`."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def classpath():
    """Build when the sources changed since the recorded classpath."""
    stamp, cpfile = BUILD / "source.sha256", BUILD / "classpath.txt"
    digest = source_hash()
    if cpfile.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cpfile.read_text().strip(), False
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    BUILD.mkdir(exist_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    # jars only: a class-data archive cannot record classes from directories
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
         "export Runtime/fullClasspathAsJars"],
        HERE, sbt_env(), BUILD_LIMIT_S - 360, capture=True)
    lines = [l for l in (out or "").splitlines() if "graftbench" in l and ":" in l
             and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        fail(f"build failed (sbt exit {code})")
    cpfile.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1], True


def jvm(java, cp, work, extra, args):
    """The JVM command line of one run of graftbench.Main."""
    mem = heap()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # six compiler threads instead of the JVM's three on 4 cores: the JIT
    # backlog from setup then clears sooner, so the warm-up reaches the
    # compiled steady state before the timed loop
    cmd = [str(java), f"-Xms{mem}", f"-Xmx{mem}", "-XX:+UseG1GC", "-XX:CICompilerCount=6",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + extra
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main", "--work", str(work),
                  "--cores", str(len(os.sched_getaffinity(0)))] + args


def train_archive(java, cp, limit):
    """Record the classes one short run loads (Spark's ~20k among them) in a
    class-data archive. Later runs map it instead of loading and verifying
    those classes from jars, which takes several seconds of every run. The
    short run is a one-value sweep of serving: the inputs, one setup and one
    checked pass of its three tracks."""
    part = ARCHIVE.with_name(f"{ARCHIVE.name}.{os.getpid()}")
    work = BUILD / f"train-{os.getpid()}"
    cmd = jvm(java, cp, work, [f"-XX:ArchiveClassesAtExit={part}"],
              ["--workload", "serving", "--seed", "0", "--seconds", "0",
               "--trace", "0", "--sweep", "ood_interactive.ef=10"])
    try:
        code, _ = run_bounded(cmd, ROOT, dict(os.environ), limit, capture=True)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code == 0 and part.is_file():
        part.replace(ARCHIVE)
    else:
        part.unlink(missing_ok=True)
        print(f"graftbench: class-data archive not made (exit {code})", file=sys.stderr)


def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--sweep")
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_bounded kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.monotonic()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src/main/scala/graft'}")
    cp, built = classpath()
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    if not java:
        fail("java not found")
    if built:
        train_archive(java, cp, TRAIN_LIMIT_S)
    work = BUILD / f"work-{a.workload}-{os.getpid()}"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace] + (["--sweep", a.sweep] if a.sweep else [])
    extra = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.is_file() else []
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    try:
        code, _ = run_bounded(jvm(java, cp, work, extra, args), ROOT, dict(os.environ),
                              limit, capture=False)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {limit:.0f} s", code=4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
