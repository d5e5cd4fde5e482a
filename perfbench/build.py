"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's JVM side (`perfbench/scala`) with the Scala compiler that
ships in Spark's jars, and returns the run classpath. The compiled classes
are reused while the sources are unchanged.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: graft sources (src/main/scala) not found")
    found = []
    for top in (main, os.path.join(BENCH, "scala")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Returns (classpath, whether this call compiled)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(WORK, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, False
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for n in ("compiler", "library", "reflect")
                for j in glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))]
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr)
    r = subprocess.run(["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", f"{jars}/*", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


if __name__ == "__main__":
    print(build()[0])
