"""Build file of the benchmark's JVM runner: compiles the engine
(`src/main/scala`) together with `perfbench/runner` into
`<build>/classes` with the Scala compiler that ships in the Spark
distribution, and skips the compile when no source changed.

    python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

SCALA = "2.13.17"
RUNNER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "runner")


def spark_jars(root):
    """`$SPARK_HOME/jars`, else the jar directory the sbt build compiles
    against (`unmanagedBase` in `build.sbt`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(root, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.exists(sbt) else None
        if not m:
            sys.exit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = m.group(1)
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        sys.exit(f"perfbench: no Scala {SCALA} compiler under {jars}")
    return jars


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"perfbench: engine sources not found at {engine}; "
                 "run from the root of a checkout")
    return sorted(glob.glob(os.path.join(engine, "**", "*.scala"),
                            recursive=True) +
                  glob.glob(os.path.join(RUNNER_DIR, "*.scala")))


def build(root, build_dir):
    """Returns the runtime classpath of the compiled runner."""
    srcs = sources(root)
    jars = spark_jars(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    compiler = ":".join(f"{jars}/scala-{m}-{SCALA}.jar"
                        for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={build_dir}", "-cp", compiler,
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-cp", f"{jars}/*", "-d", classes, "@" + argfile],
                       stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return cp


if __name__ == "__main__":
    print(build(os.getcwd(), sys.argv[1] if len(sys.argv) > 1
                else os.path.join(os.getcwd(), ".bench_build")))
