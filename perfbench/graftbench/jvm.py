"""Building the benchmark's sbt project and launching its JVM.

The build also records an application class-data sharing archive: one
training JVM sets up and primes the warehouse workload with
``-XX:ArchiveClassesAtExit``, and every measured JVM maps the archive with
``-XX:SharedArchiveFile``. Spark loads some ten thousand classes on start;
without the archive that class loading costs several seconds per run. A JVM
that cannot use the archive (wrong JDK, changed jars) loads classes as
usual, so the archive changes only how fast a run starts.
"""
import hashlib
import os
import shutil
import subprocess
import sys

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"
BUILD_TIMEOUT_S = 840


class BenchError(Exception):
    """A failure that stops the run before any result is printed."""


def _sources(root, bench):
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(bench, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(bench, "build.sbt")
    yield os.path.join(bench, "project", "build.properties")


def build(root, bench, work, train):
    """Compiles graft plus the benchmark client with sbt and records the class-data
    archive, unless the sources are unchanged since the last build; returns
    the runtime classpath. ``train(classpath, archive)`` runs the training
    JVM."""
    graft = os.path.join(root, "src", "main", "scala", "graft")
    if not os.path.isdir(graft):
        raise BenchError(f"graft sources not found under {graft}")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set")
    if shutil.which("sbt") is None:
        raise BenchError("sbt is not on PATH")
    h = hashlib.sha256(os.environ["SPARK_HOME"].encode())
    for path in sorted(_sources(root, bench)):
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    target = os.path.join(work, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        try:
            # resolve from the local caches only; a build never downloads
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "-Dsbt.offline=true", "compile", "writeClasspath"],
                cwd=bench, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                env={**os.environ, "COURSIER_MODE": "offline"},
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"build failed (exit {rc}); log tail:\n{tail}")
    with open(cp_file) as c:
        classpath = c.read()
    archive = os.path.join(work, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    train(classpath, archive)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def run(classpath, run_dir, in_dir, seconds, trace, setups, timeout_s, archive,
        record=False):
    """Runs perfbench.Main over the generated inputs; its JSON record lands
    in ``in_dir/result.json``. With ``record`` the JVM only sets up and
    primes, and writes the class-data archive when it exits."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        raise BenchError("java not found")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if record:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    elif os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--dir", in_dir, "--seconds", str(seconds), "--trace", str(trace),
            "--setups", str(setups), "--train", "1" if record else "0"]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM or Ctrl-C: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"benchmark JVM failed ({rc}); log tail:\n{tail}")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)
