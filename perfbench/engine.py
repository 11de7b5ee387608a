"""Builds the benchmark's JVM package and launches one run of it.

The package (`build.sbt` here) compiles the engine's main sources together
with the benchmark program under `src/`. A build is reused while a hash of
every source and build file it depends on is unchanged.

Each build also records a class-data-sharing archive from one short
training run, and every run maps it: a fresh Spark JVM otherwise spends
most of its first seconds loading and verifying the same classes.
"""
import glob
import hashlib
import os
import subprocess
import shutil

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")

# Spark on JDK 17 outside spark-submit (matches the engine's own build).
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log_path, train_ops):
    """Compiles the package unless the stamp matches; returns the classpath.
    Raises RuntimeError when the engine sources are missing or sbt fails."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError(f"no engine sources under {ROOT}/src/main/scala")
    digest = source_hash() + ":" + ",".join(train_ops)
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=400)
        log.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "[error]" in proc.stdout:
        raise RuntimeError(f"sbt build failed (exit {proc.returncode}); see {log_path}")
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    record_archive(classpath, train_ops, log_path)
    with open(CLASSPATH, "w") as fh:
        fh.write(classpath)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return classpath


def record_archive(classpath, ops, log_path):
    """Runs every op once on a tiny input with the JVM recording the
    classes it loads into ARCHIVE. A failed recording leaves no archive;
    runs then start without one."""
    work = os.path.join(TARGET, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "input")
    gen.write_dir(data, 0, {"sf": 0.001, "docs": 300, "dup_share": 0.1, "vecs": 300})
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    rc = run_jvm(classpath, [
        "--ops", ",".join(ops), "--dir", data, "--seconds", "0", "--min-passes", "2",
        "--warm-passes", "0",
        "--hard-stop", "300", "--trace", "1", "--cores", "4", "--work", work,
        "--seed", "0", "--out", os.path.join(work, "records.jsonl"),
        "--check-dir", os.path.join(work, "check"),
    ], work, log_path + ".archive", timeout_s=300, archive_out=ARCHIVE)
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    shutil.rmtree(work, ignore_errors=True)


def run_jvm(classpath, args, work, log_path, timeout_s, archive_out=None):
    """Runs `perfbench.Main` with `args` in a fresh JVM; returns its exit
    code (None on timeout, after the JVM has been killed and reaped). With
    `archive_out` the JVM records its class-data-sharing archive there;
    otherwise it maps ARCHIVE when one exists."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation: how much of the heap gets touched
    # (and so the process's peak RSS) then follows live data, not GC sizing.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if archive_out:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive_out}")
    elif os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None
        except BaseException:
            proc.kill()
            proc.wait()
            raise
