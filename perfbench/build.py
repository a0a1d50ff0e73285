"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark harness (perfbench/harness) with the Scala compiler that ships
in the Spark jars directory named by build.sbt's `unmanagedBase`.

Outputs go under .bench_build/perfbench/, keyed by a hash of the sources,
so an unchanged tree is built once and a changed one is rebuilt.

Usage: python3 perfbench/build.py   (from the repository root; prints the
classpath)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")


def jars_dir(root="."):
    """The Spark jars directory the sbt build compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars directory (build.sbt "
                     "unmanagedBase or SPARK_HOME)")


def sources(root="."):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    resources = sorted(p for p in glob.glob(
        os.path.join(root, "src/main/resources/**"), recursive=True)
        if os.path.isfile(p))
    return main, harness, resources


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({out})")


def build(root="."):
    """Returns the runtime classpath, compiling first if needed."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src/main/scala"))):
        raise SystemExit("perfbench: run from the repository root "
                         "(build.sbt and src/main/scala not found)")
    jars = jars_dir(root)
    main, harness, resources = sources(root)
    key = digest(main + resources + [os.path.join(root, "build.sbt")])
    classes = os.path.join(root, OUT, "engine-" + key)
    hclasses = os.path.join(root, OUT, "harness-" + digest(harness) + "-" + key)
    os.makedirs(os.path.join(root, OUT), exist_ok=True)
    with open(os.path.join(root, OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(classes, ".ok")):
            shutil.rmtree(classes, ignore_errors=True)
            scalac(jars, os.path.join(jars, "*"), classes, main)
            res_root = os.path.join(root, "src/main/resources")
            for p in resources:
                dst = os.path.join(classes, os.path.relpath(p, res_root))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(p, dst)
            open(os.path.join(classes, ".ok"), "w").close()
        if not os.path.exists(os.path.join(hclasses, ".ok")):
            shutil.rmtree(hclasses, ignore_errors=True)
            scalac(jars, os.pathsep.join([classes, os.path.join(jars, "*")]),
                   hclasses, harness)
            open(os.path.join(hclasses, ".ok"), "w").close()
    return os.pathsep.join([hclasses, classes, os.path.join(jars, "*")])

if __name__ == "__main__":
    print(build())
