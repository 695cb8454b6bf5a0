#!/usr/bin/env python3
"""Build the program from source and run one benchmark workload.

    python3 perfbench/run.py --workload <handler|queries|media|corpus|stats> \
        --seed <n> --seconds <s> --trace <0|1> [--out FILE] [--spans FILE]
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles `src/main/scala`
and the harness in `perfbench/scala` with the Scala compiler that ships
in the build's Spark jar directory (the `unmanagedBase` of build.sbt),
into `.bench_build/`; later runs reuse the classes while the sources are
unchanged. The last line of stdout is the harness's result object; the
exit code is non-zero when the build fails or an output check fails.
Any other `--key value` pair is passed to the harness.
"""
import hashlib
import os
import re
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "work")
RUN_TIMEOUT_S = 170

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jars_dir():
    """The Spark jar directory the sbt build compiles against."""
    if os.environ.get("PERFBENCH_SPARK_JARS"):
        return os.environ["PERFBENCH_SPARK_JARS"]
    try:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
    except OSError:
        fail("no build.sbt here: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no Spark jar directory (unmanagedBase)")
    return m.group(1)


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, jars):
    """Compile `srcs` into .bench_build/<name> unless the stamp matches."""
    out = os.path.join(BUILD, name)
    stamp_file = os.path.join(BUILD, f"{name}.stamp")
    stamp = digest(srcs) + classpath
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, f"{name}.sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} files ({name})", file=sys.stderr)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
         "-d", out, "-classpath", classpath, f"@{argfile}"])
    if r.returncode != 0:
        fail(f"compilation of {name} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("no src/main/scala here: run from the repository root")
    jars = jars_dir()
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    main_classes = compile_tree("main", scala_files(main_src), spark_cp, jars)
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for base, _, files in os.walk(res_root):
        for f in files:
            dst = os.path.join(main_classes, os.path.relpath(os.path.join(base, f), res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            with open(os.path.join(base, f), "rb") as a, open(dst, "wb") as b:
                b.write(a.read())
    bench_classes = compile_tree("bench", scala_files(os.path.join(HERE, "scala")),
                                 os.pathsep.join([main_classes, spark_cp]), jars)
    return os.pathsep.join([bench_classes, main_classes, spark_cp])


def version():
    """Benchmark version: a digest of the harness and this driver."""
    return digest(scala_files(os.path.join(HERE, "scala")) + [os.path.abspath(__file__)])[:12]


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              cwd=ROOT, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    args = sys.argv[1:]
    if args == ["--self-test"]:
        main_class, args = "perfbench.SelfTest", []
    elif "--workload" in args:
        main_class = "perfbench.Harness"
        args = ["--data", os.path.join("perfbench", "data"), "--work", WORK] + args
    else:
        fail("usage: " + " ".join(__doc__.strip().splitlines()[2:4]))
    if not os.path.isdir(os.path.join(HERE, "data")):
        fail("perfbench/data is missing")
    classpath = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PERFBENCH_COMMIT=commit(), PERFBENCH_VERSION=version())
    cmd = (["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-Duser.timezone=UTC",
            "-Duser.language=en", "-Duser.country=US", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + JVM_OPENS + ["-cp", classpath, main_class] + args)
    proc = subprocess.Popen(cmd, env=env)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    subprocess.run(["rm", "-rf", WORK, tmp])
    sys.exit(code)


if __name__ == "__main__":
    main()
