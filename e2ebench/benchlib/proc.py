"""Building the engine and the harness, and launching their JVMs.

The build runs sbt once per checkout and source state: the harness build
(`e2ebench/harness/build.sbt`) compiles the engine two directories up and
itself, then writes the run classpath and the engine's JVM options from the
root `build.sbt`. A stamp over every build input lets later runs skip sbt.
"""
import hashlib
import os
import re
import shutil
import signal
import subprocess
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
WORK = BENCH / "work"
BUILD_INPUTS = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
                ROOT / "src" / "main", HARNESS / "build.sbt",
                HARNESS / "project" / "build.properties", HARNESS / "src"]


def heap():
    """Tier-1 heap formula: half the machine's memory in GiB, within 2..8 g."""
    kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
              if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def cpus():
    return str(len(os.sched_getaffinity(0)))


def stamp():
    h = hashlib.sha256()
    for p in BUILD_INPUTS:
        for f in sorted(p.rglob("*")) if p.is_dir() else [p]:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile if needed; return the launch spec (classpath, JVM options)."""
    missing = [p for p in BUILD_INPUTS if not p.exists()]
    if missing:
        raise SystemExit(f"not a checkout of the engine: missing {missing[0]}")
    out = WORK / "build"
    s = stamp()
    if not ((out / "stamp").is_file() and (out / "stamp").read_text() == s):
        out.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=heap(),
                   SBT_OPTS="-Dsbt.override.build.repos=true "
                            "-Dsbt.repository.config=" + str(Path.home() / ".sbt/repositories") +
                            " -Dsbt.offline=true -Xmx2g")
        code, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                      out / "sbt.log", timeout=840, cwd=HARNESS, env=env)
        if code != 0:
            raise SystemExit(f"build failed (exit {code}); see {out / 'sbt.log'}")
        launch = HARNESS / "target" / "launch"
        for name in ("classpath.txt", "jvm_options.txt"):
            (out / name).write_text((launch / name).read_text())
        (out / "stamp").write_text(s)
    classpath = (out / "classpath.txt").read_text().strip()
    # the engine's options minus its heap, which the tier-1 formula sets
    opts = [o for o in (out / "jvm_options.txt").read_text().split("\n")
            if o and not o.startswith("-Xmx")]
    return classpath, opts + [f"-Xmx{heap()}"]


def versions(spec):
    """JDK, Spark and Scala versions of the launch spec."""
    jars = spec[0]
    def jar(prefix):
        m = re.search(rf"{prefix}(\d[\w.]*)\.jar", jars)
        return m.group(1) if m else None
    jdk = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"jdk": jdk.splitlines()[0] if jdk else None,
            "spark": jar("spark-core_2.13-"), "scala": jar("scala-library-")}


def clear_scratch():
    """Drop the JVMs' temp, warehouse, checkpoint and Spark local dirs left
    by the run before, so the work dir stays small. This is done before
    anything is timed: the halted catalog JVM leaves ~60 MB of shuffle
    files, and deleting them takes ~10 s on an ext4 disk mounted with
    discard (4-core VM); left to pile up, one deletion took 150 s."""
    for d in ("tmp", "warehouse", "derby", "ckpt", "spark-local"):
        shutil.rmtree(WORK / d, ignore_errors=True)


def java(spec, main, args, log, timeout, env=None):
    """Run one JVM with the engine's options, temp and warehouse dirs kept
    inside the work dir. Returns (exit code, wall s, peak RSS MB)."""
    classpath, opts = spec
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *opts, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
           f"-Dderby.system.home={WORK / 'derby'}",
           "-cp", classpath, main, *args]
    (WORK / "ckpt").mkdir(exist_ok=True)
    # the engine's stream replays checkpoint to /dev/shm unless told otherwise
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
               SPARK_GRAFT_REPLAY_CKPT_DIR=str(WORK / "ckpt"), **(env or {}))
    t0 = time.perf_counter()
    code, rss = run(cmd, log, timeout, cwd=WORK, env=env)
    return code, time.perf_counter() - t0, rss


def run(cmd, log, timeout, cwd, env):
    """Run `cmd` with stdout+stderr to `log`; kill its whole process group
    on timeout; always reap it. Returns (exit code, peak RSS MB)."""
    with open(log, "wb") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=cwd,
                             env=env, start_new_session=True)
        timer = threading.Timer(timeout, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
        try:  # nothing of the group may outlive the run
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, usage.ru_maxrss / 1024
