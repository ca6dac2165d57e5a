"""Build file of the benchmark package.

Compiles graft's sources (`src/main/scala` at the repository root) and
the benchmark harness (`linkbench/src`) into `.bench_build/classes` with the
Scala compiler that ships in Spark's jar directory, so the build needs
neither sbt nor a network. A content stamp skips the compile when no
source changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable (set JAVA_HOME)")
    return exe


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        raise BuildError(f"no graft sources under {root}/src/main/scala")
    return graft + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                                    recursive=True))


def stamp(classes):
    """Short form of the source stamp the classes were compiled from."""
    with open(os.path.join(classes, ".stamp")) as f:
        return f.read()[:16]


def build(root, build_dir):
    """Returns the classes directory, compiling first if a source changed."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp] + srcs
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes
