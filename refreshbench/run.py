#!/usr/bin/env python3
"""Runs one workload of the refresh benchmark.

    python3 refreshbench/run.py --workload microbatch_cdc --seed 1 --seconds 10 --trace 0
    python3 refreshbench/run.py --self-test

Builds the program and the benchmark from source when needed (see
build.py), then runs the workload in one JVM. Every file the run writes
lives under one temporary directory in .bench_build/ that is deleted when
the run ends. The last line of standard output is the result object; the
exit code is 0 only when every operation and check passed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["microbatch_cdc", "analyst_reads"]
JVM_TIMEOUT_S = 170


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.decode().strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own unit tests instead of a workload")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")

    tmp = os.path.join(build.BUILD_DIR, "runs", "%d" % os.getpid())
    proc = None

    def stop(*_):
        build.kill_children()
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        build_dir, digest = build.ensure_built()
        if args.self_test:
            main_args = ["refreshbench.SelfTest"]
        else:
            main_args = ["refreshbench.Main", "--workload", args.workload,
                         "--seed", str(args.seed), "--seconds", str(args.seconds),
                         "--trace", str(args.trace), "--root", tmp,
                         "--modules", os.path.join(build_dir, "modules.tsv"),
                         "--commit", git_commit(), "--source-hash", digest]
        cmd = build.jvm(build_dir, *main_args, archive_flag=build.archive_flag(build_dir))
    except build.BuildError as e:
        sys.stderr.write("refreshbench: build failed: %s\n" % e)
        return 2
    cmd.insert(1, "-Djava.io.tmpdir=" + os.path.join(tmp, "jtmp"))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "jtmp"))

    log_path = os.path.join(tmp, "jvm.log")
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=tmp,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write("refreshbench: run exceeded %d s\n" % JVM_TIMEOUT_S)
                return 4
        text = out.decode(errors="replace")
        if args.self_test:
            sys.stdout.write(text)
            return proc.returncode
        lines = [l for l in text.splitlines() if l.strip()]
        if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith('{"correct"'):
            with open(log_path, "rb") as fh:
                tail = fh.read().decode(errors="replace").splitlines()[-40:]
            sys.stderr.write("\n".join(tail) + "\n")
            sys.stderr.write(text)
            sys.stderr.write("refreshbench: run failed (exit %s)\n" % proc.returncode)
            return proc.returncode or 5
        if proc.returncode != 0:
            with open(log_path, "rb") as fh:
                sys.stderr.write("\n".join(fh.read().decode(errors="replace")
                                           .splitlines()[-20:]) + "\n")
        sys.stdout.write("\n".join(lines) + "\n")
        return proc.returncode
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
