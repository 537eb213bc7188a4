"""Build file of the benchmark.

Compiles the engine's sources (`src/main/scala`) together with this
package's Scala sources (`perfbench/scala`) with the Scala compiler that
ships in Spark's jars, into `.bench_build/classes`. A stamp of every source's
path and content skips the compile when nothing changed.

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """`$SPARK_HOME/jars`, else the jar directory `build.sbt` names as its
    `unmanagedBase`; None when neither is known."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    return main, bench


def build_dir(root):
    return os.path.join(root, ".bench_build")


def build(root):
    """Compile if needed; returns the classes directory. Raises
    FileNotFoundError when the engine's sources are missing."""
    main, bench = sources(root)
    if not main:
        raise FileNotFoundError(f"no engine sources under {root}/src/main/scala")
    jars = spark_jars(root)
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise FileNotFoundError(f"no Spark jars in {jars}")
    digest = hashlib.sha256()
    for p in main + bench:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(root), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir(root)}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + main + bench
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
