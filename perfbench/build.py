"""Build file of the benchmark: compiles the library from src/main/scala
into a jar, compiles the benchmark program against it, and records a JVM
class-data archive so every run starts from the same warm class cache.

Everything is written under the build directory (default `.bench_build`
at the repository root). A stamp of the sources makes repeat calls free.

    python3 perfbench/build.py          # build if the sources changed
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def out_dir():
    return ROOT / ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not glob.glob(os.path.join(home, "jars", "*.jar")):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))


def sources(base):
    return sorted(str(p) for p in Path(base).rglob("*.scala"))


def stamp(files):
    h = hashlib.sha256()
    for f in files + [__file__]:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def jvm_opts(heap="3g"):
    opts = [f"-Xmx{heap}", "-Xss4m"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def classpath(out, jars):
    return os.pathsep.join([str(out / "perfbench.jar"), str(out / "lucy.jar")] + jars)


def java_cmd(out, work, main, args, jvm=()):
    """The JVM command for a benchmark main, with its temp dir in `work`."""
    return (["java"] + jvm_opts() + list(jvm) + [f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", classpath(out, spark_jars()), main] + list(args))


def scalac(jars, extra_cp, dest, files, log):
    cp = os.pathsep.join(extra_cp + jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(dest), "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {dest.name}; see {log.name}")


def build():
    """Returns the build directory; raises BuildError."""
    lib_src = sources(ROOT / "src" / "main" / "scala")
    bench_src = sources(BENCH / "src")
    if not lib_src:
        raise BuildError("no library sources under src/main/scala")
    if not bench_src:
        raise BuildError("no benchmark sources under perfbench/src")
    out = out_dir()
    want = stamp(lib_src + bench_src)
    stamp_file = out / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return out
    jars = spark_jars()
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    with open(out / "build.log", "w") as log:
        scalac(jars, [], out / "lucy.jar", lib_src, log)
        scalac(jars, [str(out / "lucy.jar")], out / "perfbench.jar", bench_src, log)
        # Class-data archive from one short training run: later runs load
        # the library's, Spark's and Scala's classes from it.
        train = out / "train"
        cmd = java_cmd(out, train, "perfbench.Train", ["--work", str(train)],
                       [f"-XX:ArchiveClassesAtExit={out / 'classes.jsa'}"])
        (train / "tmp").mkdir(parents=True)
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
        shutil.rmtree(train, ignore_errors=True)
    stamp_file.write_text(want)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
