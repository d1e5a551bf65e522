"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources (`perfbench/src`) with the Scala compiler
that ships in Spark's jars, into `.bench_build/` under the checkout.

    python3 perfbench/build.py            # build (or reuse) and print the classpath

A build is keyed by a hash of every source file it compiles, so an
unchanged tree reuses its classes and a changed one rebuilds.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")

# what the Spark launcher passes to a JDK 17 driver (the repo's build.sbt
# uses the same list)
JVM_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: Spark not found (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler among {jars}")
    return os.path.join(jars, "*")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("build: no graft sources (src/main/scala) in this checkout")
    prog = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    res = os.path.join(ROOT, "src", "main", "resources")
    return prog, bench, res


def _hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _scalac(jars, cp, srcs, out, log):
    os.makedirs(out, exist_ok=True)
    args_file = out + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + args_file]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    os.remove(args_file)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"build: scalac failed (exit {rc})")


def build():
    """Compile what changed; return the run classpath (a list)."""
    jars = spark_jars()
    prog, bench, res = sources()
    ph = _hash(prog + sorted(f for f in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                             if os.path.isfile(f)))
    bh = _hash(prog + bench)
    prog_out = os.path.join(OUT, f"program-{ph}")
    bench_out = os.path.join(OUT, f"bench-{bh}")
    if not os.path.isdir(prog_out):
        tmp = prog_out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _scalac(jars, jars, prog, tmp, os.path.join(OUT, "program.log"))
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        os.rename(tmp, prog_out)
    if not os.path.isdir(bench_out):
        tmp = bench_out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _scalac(jars, os.pathsep.join([prog_out, jars]), bench, tmp,
                os.path.join(OUT, "bench.log"))
        os.rename(tmp, bench_out)
    # drop the classes of earlier trees
    for d in glob.glob(os.path.join(OUT, "program-*")) + glob.glob(os.path.join(OUT, "bench-*")):
        if d not in (prog_out, bench_out):
            shutil.rmtree(d, ignore_errors=True) if os.path.isdir(d) else os.remove(d)
    return [bench_out, prog_out, jars]


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(os.pathsep.join(build()))
