"""Build file of the benchmark: compiles graft's sources and the harness.

graft is compiled from `src/main/scala` of the checkout, the harness from
`perfbench/harness`, each with the Scala compiler that ships in Spark's jars,
into `.bench_build/` keyed by a hash of the sources, so an unchanged tree is
compiled once. Spark is found through SPARK_HOME, else through `spark-submit`
on PATH.
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources(top):
    found = sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"perfbench: no Scala sources under {top}")
    return found


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_to(name, srcs, classpath, jars):
    dest = os.path.join(OUT, name)
    if os.path.exists(os.path.join(dest, ".done")):
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    args_file = os.path.join(dest, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", dest, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: compiling {name} failed")
    open(os.path.join(dest, ".done"), "w").close()
    return dest


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    graft_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness_src = sources(os.path.join(HERE, "harness"))
    graft_key = digest(graft_src)
    graft = compile_to(f"graft-{graft_key}", graft_src, [jar_cp], jars)
    harness = compile_to(f"harness-{digest(harness_src, graft_key)}",
                         harness_src, [graft, jar_cp], jars)
    return os.pathsep.join([harness, graft, jar_cp])


if __name__ == "__main__":
    print(build())
