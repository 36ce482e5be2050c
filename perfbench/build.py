"""Build file of the benchmark: compiles graft and the harness from source.

    python3 perfbench/build.py        # from the root of a checkout

graft's own build (sbt) is not used: the benchmark compiles
``src/main/scala`` and ``perfbench/scala`` in one scalac run with the Scala
compiler that ships in the Spark distribution's jars (the same 2.13 release
``build.sbt`` pins), packs the classes into one jar, and records a
class-data-sharing archive of a training run so every benchmark JVM starts
from pre-parsed classes; a build whose training run fails is a failed
build. Everything lands in ``.bench_build/``; a
build whose sources have not changed is skipped.
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

OUT = ".bench_build"
ARCHIVE = "classes.jsa"

# the module opens Spark needs on JDK 17 outside spark-submit (the list
# build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Sorted jar paths of the Spark distribution: $SPARK_HOME/jars, else the
    jars next to the ``spark-submit`` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars_dir = os.path.join(home, "jars") if home else None
    if not jars_dir or not os.path.isdir(jars_dir):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def sources(root):
    """Every .scala file of graft's main sources and of the harness."""
    found = []
    for base in ("src/main/scala", "perfbench/scala"):
        top = os.path.join(root, base)
        if not os.path.isdir(top):
            raise BuildError(f"missing {base}: run from the root of a graft checkout")
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def java_options(work):
    """JVM options of every benchmark JVM (training run included) whose run
    dir is ``work``: its temp, Spark local and warehouse dirs go there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation, so collections fall alike in
    # identical runs. Under adaptive young sizing, short-lived garbage got
    # promoted and doubled the peak post-collection heap (peak_heap_mb)
    opts = ["-Xss8m", "-Xms3g", "-Xmx3g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def classpath(root):
    return os.pathsep.join([os.path.join(root, OUT, "perfbench", "perfbench.jar")] + spark_jars())


def build(root):
    """Build into ``<root>/.bench_build/perfbench`` unless up to date; return
    that directory."""
    out_dir = os.path.join(root, OUT, "perfbench")
    srcs = sources(root)
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(jars).encode())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(out_dir, "STAMP")
    if os.path.exists(stamp_file) and os.path.exists(os.path.join(out_dir, ARCHIVE)):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out_dir

    shutil.rmtree(out_dir, ignore_errors=True)
    classes = os.path.join(out_dir, "classes")
    os.makedirs(classes)
    compiler = os.pathsep.join(jars)
    # scalac reads its arguments from a file: the lists are long. An explicit
    # classpath also keeps scalac's default "." (the checkout) off it.
    args_file = os.path.join(out_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-classpath", compiler, "-nowarn", "-d", classes] + srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "@" + args_file], cwd=root)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    with zipfile.ZipFile(os.path.join(out_dir, "perfbench.jar"), "w") as jar:
        for d, _, files in os.walk(classes):
            for f in files:
                full = os.path.join(d, f)
                jar.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    train(root, out_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out_dir


def main_command(root, work, args, record_archive=False):
    """The command of one benchmark JVM: ``perfbench.Main`` with ``args`` in
    the run dir ``work``, started from the class-data-sharing archive (or
    recording it)."""
    archive = os.path.join(root, OUT, "perfbench", ARCHIVE)
    share = (f"-XX:ArchiveClassesAtExit={archive}" if record_archive
             else f"-XX:SharedArchiveFile={archive}")
    return (["java"] + java_options(work) + [share, "-cp", classpath(root), "perfbench.Main"]
            + args + ["--work", work, "--out", os.path.join(work, "raw.json")])


def train(root, out_dir):
    """Record the class-data-sharing archive: the classes a run of the
    ``crawl_pipeline`` set-up and warm-up loads, invoked as every run is."""
    work = os.path.join(out_dir, "training")
    archive = os.path.join(out_dir, ARCHIVE)
    cmd = main_command(root, work, ["--workload", "crawl_pipeline", "--seconds", "0"],
                       record_archive=True)
    try:
        with open(work + ".log", "w") as log:
            r = subprocess.run(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT, timeout=600)
        with open(os.path.join(work, "raw.json")) as f:
            fatal = json.load(f).get("fatal")
    except (subprocess.TimeoutExpired, OSError, ValueError) as e:
        raise BuildError(f"the archive training run failed ({e}); see {work}.log")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or fatal or not os.path.exists(archive):
        raise BuildError(f"the archive training run failed (code {r.returncode}"
                         f"{', ' + fatal.splitlines()[0] if fatal else ''}); see {work}.log")


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
