"""Build file of the benchmark: compiles the project's main sources
together with the benchmark's own Scala sources into one class
directory under `.bench_build/` (or `$CARGO_TARGET_DIR`), using the
Scala compiler among the Spark jars the project's build.sbt compiles
against. A build is reused while no source file changes.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_ROOT = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
SCALA = "2.13.17"


def sources(root):
    main = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala",
                            recursive=True))
    own = sorted(glob.glob(f"{root}/perfbench/scala/*.scala"))
    return main, own


def spark_jars(root="."):
    """The jar directory build.sbt names as `unmanagedBase`, else
    $SPARK_HOME/jars."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build(root="."):
    """Return the class directory, compiling if the sources changed."""
    main, own = sources(root)
    if not main:
        raise SystemExit("perfbench: no src/main/scala here; run from the "
                         "repository root")
    h = hashlib.sha256(SCALA.encode())
    for f in main + own:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    out = os.path.join(root, BUILD_ROOT, f"perfbench-{key}")
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    jars_dir = spark_jars(root)
    jars = sorted(glob.glob(f"{jars_dir}/*.jar"))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars under {jars_dir}")
    for old in glob.glob(os.path.join(root, BUILD_ROOT, "perfbench-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    compiler = [f"{jars_dir}/scala-{n}-{SCALA}.jar"
                for n in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(jars), "-d", classes] + main + own
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("perfbench: compilation failed")
    # the main resources (META-INF service registrations) ride along
    res = os.path.join(root, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    open(os.path.join(out, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
