"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own harness (perfbench/scala) with the Scala compiler that ships
in Spark's jars, into .bench_build/classes-<source hash>.

Run directly (`python3 perfbench/build.py`) or through run.py, which calls
`ensure` before every run and reuses a build whose sources are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main + own


def classpath(prog_jar):
    """The program jar then Spark's jars, listed one by one: a class-data
    archive is only valid for the exact classpath it was dumped with."""
    return os.pathsep.join([prog_jar] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def ensure(root, log):
    """Return the build dir for the current sources, compiling if needed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "build-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    tmp = out + ".partial-{}".format(os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-cp", cp, "-d", classes] + srcs
    with open(log, "wb") as f:
        rc = subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=root)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: scalac failed (exit {}), see {}".format(rc, log))
    with zipfile.ZipFile(os.path.join(tmp, "prog.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    root = os.getcwd()
    os.makedirs(os.path.join(root, ".bench_build"), exist_ok=True)
    print(ensure(root, os.path.join(root, ".bench_build", "build.log")))
    sys.exit(0)
