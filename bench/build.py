"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (bench/scala) with the Scala compiler that ships in Spark's jars
directory, into .bench_build/ at the repository root.

    python3 bench/build.py        # build if sources changed, print classpath

A build is keyed by a hash of every source file, so an unchanged tree is
never recompiled and a changed one always is.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the first Spark
    distribution whose spark-submit is on PATH.
    """
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    raise SystemExit("no Spark jars found: set SPARK_HOME")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "bench/scala/**/*.scala"), recursive=True))
    res = sorted(glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True))
    return main + harness, [r for r in res if os.path.isfile(r)]


def ensure_built(root):
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    srcs, res = sources(root)
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    top = os.path.join(root, ".bench_build")
    out = os.path.join(top, "classes-" + h.hexdigest()[:16])
    cp = os.pathsep.join(jars)
    if not os.path.exists(os.path.join(out, ".ok")):
        shutil.rmtree(top, ignore_errors=True)
        os.makedirs(out)
        print(f"[bench] compiling {len(srcs)} sources into {out}", file=sys.stderr, flush=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={top}",
               "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-d", out, "-cp", cp] + srcs
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(top, ignore_errors=True)
            raise SystemExit(f"compile failed (exit {r.returncode})")
        base = os.path.join(root, "src/main/resources")
        for f in res:
            dst = os.path.join(out, os.path.relpath(f, base))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(f, dst)
        open(os.path.join(out, ".ok"), "w").close()
    return out + os.pathsep + os.path.join(os.path.dirname(jars[0]), "*")


if __name__ == "__main__":
    print(ensure_built(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
