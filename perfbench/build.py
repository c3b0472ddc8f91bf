"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own harness (perfbench/scala) with the Scala compiler
that ships in the Spark distribution, into `<build>/classes`.

The Spark distribution is found through SPARK_HOME, else through
`spark-submit` on PATH. The build is skipped when the sources have not
changed since the last one (a digest of every source file is kept next
to the classes).

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark distribution with a Scala compiler "
                         "(set SPARK_HOME)")
    return home


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                                   recursive=True))


def classpath(build_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + \
        os.path.join(spark_home(), "jars", "*")


def build(build_dir):
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(build_dir, "classes.sha256")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_home(), "jars", "*")
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(out))
