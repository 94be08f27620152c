#!/usr/bin/env python3
"""Converter + curation benchmark launcher.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload migrate|wide|curate --seed N \
        --seconds S --trace 0|1

Builds the program from source with its own sbt build, builds the benchmark
(perfbench/build.sbt) against the program's classpath, then runs
`perfbench.Main` in one JVM. Builds are skipped when no source or build file
changed since the last build in this checkout. Everything the run writes
lands under `.bench_build/perfbench/` in the checkout.

The last line of standard output is the result JSON. The exit code is 0 only
when the run completed and every correctness check passed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# JDK 17 module opens Spark needs outside spark-submit (the same list the
# program's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file that feeds either build."""
    h = hashlib.sha256()
    files = []
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        base = os.path.join(root, top)
        for d, dirs, names in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(root, "build.sbt"),
              os.path.join(root, "perfbench", "build.sbt")]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(cwd, args, log, extra_env=None):
    """Run sbt offline in batch mode; return its stdout lines."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    env.update(extra_env or {})
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"] + args
    with open(log, "a") as lf:
        lf.write(f"$ (cd {cwd}) {' '.join(cmd)}\n")
        lf.flush()
        p = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                           stderr=lf, stdin=subprocess.DEVNULL, text=True,
                           timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    if p.returncode != 0:
        fail(f"sbt {' '.join(args)} failed in {cwd} (see {log})", 4)
    return p.stdout.splitlines()


def exported(lines):
    """The value lines sbt's `export`/`print` emit, in order."""
    return [ln.strip() for ln in lines
            if ln.strip() and not ln.startswith("[") and " " not in ln.strip()]


def build(root, work):
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    log = os.path.join(work, "build.log")
    prog = exported(sbt(root, ["compile", "export Runtime/fullClasspath",
                               "print scalaVersion"], log))
    if len(prog) < 2:
        fail(f"could not read the program's classpath (see {log})", 4)
    prog_cp, scala_version = prog[-2], prog[-1]
    bench = exported(sbt(os.path.join(root, "perfbench"),
                         ["compile", "export Runtime/fullClasspath"], log,
                         {"PERFBENCH_PROGRAM_CP": prog_cp,
                          "PERFBENCH_SCALA_VERSION": scala_version}))
    if not bench:
        fail(f"could not read the benchmark's classpath (see {log})", 4)
    cp = bench[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["migrate", "wide", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: the self-test's small inputs")
    ap.add_argument("--inject", choices=["dest-row", "query-hash"],
                    help="self-test only: corrupt one output so the gate trips")
    ap.add_argument("--write-expected", action="store_true",
                    help="record curate's row counts and hashes instead of checking")
    ap.add_argument("--dump-dir",
                    help="curate: also write each query's result as parquet "
                         "plus oracle_sql.json (input of tools/check_oracle.py)")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout: build.sbt and src/main/scala "
             "are missing here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = build(root, work)

    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", a.scale, "--work", work]
    if a.inject:
        cmd += ["--inject", a.inject]
    if a.write_expected:
        cmd += ["--write-expected",
                os.path.join(HERE, "expected", "curate.json")]
    if a.dump_dir:
        cmd += ["--dump-dir", os.path.abspath(a.dump_dir)]
    p = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL)
    try:
        code = p.wait(timeout=BENCH_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"benchmark exceeded {BENCH_TIMEOUT_S} s", 3)
    sys.exit(code)


if __name__ == "__main__":
    main()
