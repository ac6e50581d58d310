"""Builds the program and the refresh benchmark from source.

The program's Scala sources (src/main/scala) and the benchmark's own
(refreshbench/src) are compiled together with the Scala compiler that
ships with Spark into .bench_build/<source hash>/bench.jar at the checkout
root. The build then runs the registered workloads once in a training JVM
and dumps the classes it loaded into a class-data-sharing archive
(app.jsa), which every run maps at start-up: a cold Spark JVM otherwise
spends most of its first seconds loading classes. A build is reused while
no source changes.

    python3 refreshbench/build.py      # build, print the build directory
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# the workloads BENCHMARK.json registers; the training run loads their classes
TRAIN_WORKLOADS = ["microbatch_cdc", "analyst_reads"]
TRAIN_TIMEOUT_S = 600
HEAP = "3g"
# the serial collector grows the old generation only when a full collection
# leaves too little free, so peak RSS follows the live set rather than when
# concurrent marking happened to run; a fixed young generation keeps it from
# following adaptive sizing. On a 4-CPU host this cut the spread of peak RSS
# across seeds from ~0.2 to ~0.05 of its median, and of op_ms from ~0.15 to
# ~0.07, with no operation slower
GC = ["-XX:+UseSerialGC", "-Xmn256m"]
# Spark on JDK 17 outside spark-submit needs these module opens
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


_children = set()


def run_child(cmd, timeout=None, **kw):
    """Runs `cmd` in its own process group, killed on timeout or by
    `kill_children`; returns (exit code, stdout, stderr)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.add(proc)
    try:
        out, err = proc.communicate(timeout=timeout)
        return proc.returncode, out, err
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _children.discard(proc)


def kill_children():
    for proc in list(_children):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; the build needs Spark's jars")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError("no jars directory under SPARK_HOME=%s" % home)
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable found")
    return exe


def sources(base):
    found = []
    for d, _, files in os.walk(base):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def module_of(path):
    """The program module of a source file: its directory under graft/."""
    parts = os.path.relpath(path, os.path.join(PROGRAM_SRC, "graft")).split(os.sep)
    return parts[0] if len(parts) > 1 else "graft"


def jvm(out, main, *args, archive_flag=None):
    """The java command line of a benchmark JVM over build directory `out`.
    The class path lists jars only, in a fixed order, as class-data sharing
    requires."""
    jars = spark_jars()
    cp = [os.path.join(out, "bench.jar")] + sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    cmd = [java(), "-Xmx" + HEAP, "-XX:-UsePerfData"] + GC + [
        "-Xlog:disable", "-Xlog:all=error:stderr"]
    if archive_flag:
        cmd.append(archive_flag)
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(cp), main] + list(args)


def archive_flag(out):
    jsa = os.path.join(out, "app.jsa")
    return "-XX:SharedArchiveFile=" + jsa if os.path.exists(jsa) else None


def compile_into(out, program, bench):
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(program + bench) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    sys.stderr.write("refreshbench: compiling %d sources\n" % len(program + bench))
    code, log, _ = run_child(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(log.decode(errors="replace")[-4000:])
        raise BuildError("compilation failed")
    with zipfile.ZipFile(os.path.join(out, "bench.jar"), "w", zipfile.ZIP_STORED) as jar:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(d, f)
                jar.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    os.remove(argfile)
    with open(os.path.join(out, "modules.tsv"), "w") as fh:
        for f in program:
            fh.write("%s\t%s\n" % (os.path.basename(f), module_of(f)))
        for f in bench:
            fh.write("%s\tbench\n" % os.path.basename(f))


def train(out):
    """Dumps the class-data archive from a training run; a failed training
    leaves the build without one, which only makes runs start slower."""
    work = os.path.join(out, "train")
    os.makedirs(work)
    cmd = jvm(out, "refreshbench.Train", work, os.path.join(out, "modules.tsv"),
              *TRAIN_WORKLOADS,
              archive_flag="-XX:ArchiveClassesAtExit=" + os.path.join(out, "app.jsa"))
    cmd.insert(1, "-Djava.io.tmpdir=" + work)
    sys.stderr.write("refreshbench: training run for the class-data archive\n")
    try:
        code, _, err = run_child(cmd, timeout=TRAIN_TIMEOUT_S, stdout=subprocess.DEVNULL,
                                 stderr=subprocess.PIPE, cwd=work)
        if code != 0:
            sys.stderr.write(err.decode(errors="replace")[-2000:])
            sys.stderr.write("refreshbench: training run failed\n")
    except subprocess.TimeoutExpired:
        sys.stderr.write("refreshbench: training run timed out\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ensure_built():
    """Returns (build dir, source hash), building if needed."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError("program sources not found under %s" % PROGRAM_SRC)
    program = sources(PROGRAM_SRC)
    bench = sources(BENCH_SRC)
    # this file's flags shape the class-data archive, so it is part of the key
    digest = source_hash(program + bench + [os.path.abspath(__file__)])
    out = os.path.join(BUILD_DIR, digest)
    if os.path.exists(os.path.join(out, "complete")):
        return out, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        compile_into(out, program, bench)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    train(out)
    open(os.path.join(out, "complete"), "w").close()
    return out, digest


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        sys.stderr.write("refreshbench: build failed: %s\n" % e)
        sys.exit(2)
