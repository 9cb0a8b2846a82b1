"""Build file of the benchmark: compiles graft's sources and the harness.

Both are plain Scala 2.13 compiled with the scalac that ships in the Spark
distribution, so a build needs no network, no sbt and writes only under the
build directory. Outputs are keyed by a hash of every input file, so an
unchanged checkout reuses its classes.

    python3 perfbench/build.py            # build into .bench_build/
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Jars of the Spark distribution at $SPARK_HOME, else of the installed
    pyspark package, which ships the same jars."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        spec = importlib.util.find_spec("pyspark")
        home = os.path.dirname(spec.origin) if spec and spec.origin else ""
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars: set SPARK_HOME (now {home!r})")
    return jars


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise FileNotFoundError(f"no graft sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    res = os.path.join(root, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    return main + harness, res, resources


def build(root, out_dir):
    """Returns (classes_dir, built_now)."""
    sources, res_root, resources = _sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in sources + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    dest = os.path.join(out_dir, "classes-" + h.hexdigest()[:20])
    if os.path.exists(os.path.join(dest, ".built")):
        return dest, False

    os.makedirs(out_dir, exist_ok=True)
    tmp = dest + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    finally:
        os.remove(argfile)
    for p in resources:
        target = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copyfile(p, target)
    open(os.path.join(tmp, ".built"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest, True


if __name__ == "__main__":
    root = os.getcwd()
    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(build(root, os.path.join(root, out))[0])
