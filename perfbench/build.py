"""Build file of the benchmark: compiles graft's main sources
(`src/main/scala`) together with the benchmark driver (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory, and packs
the classes into one jar.

The output directory is content-addressed by the sources, so a second
call with unchanged sources reuses it. Nothing is fetched.

    python3 perfbench/build.py          # prints the output directory
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: no graft sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no benchmark sources under perfbench/src")
    return main + bench


def jvm_command(out, tmp, args):
    """The driver JVM: JDK 17 module opens Spark needs outside
    spark-submit, a fixed 3 GiB heap, and every scratch path inside
    `tmp`."""
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap size under the parallel collector, so collections
    # fall at the same points in every run; it is not pre-touched, so
    # peak RSS counts only the heap pages the run actually used
    # CompileThresholdScaling=0.1 lets C2 compile after a tenth of the
    # default invocation counts: at these input sizes Spark's driver
    # path otherwise keeps speeding up for ~7 iterations of the loop,
    # longer than a run lasts
    cmd += ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn768m",
            "-XX:CompileThresholdScaling=0.1",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join([os.path.join(out, "graft-perfbench.jar")] + jars),
            "perfbench.Main"] + args
    return cmd


def run_logged(cmd, log, timeout=600):
    """Exit code of cmd, or -1 if it ran past `timeout` s (then it is
    killed and waited for)."""
    with open(log, "w") as fh:
        try:
            return subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT,
                                  timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            return -1


def compile_jar(files, out):
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler in {jars}")
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    log = os.path.join(out, "scalac.log")
    if run_logged(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                   "-d", classes, "-classpath", cp, "@" + argfile], log) != 0:
        with open(log) as fh:
            raise SystemExit("build: scalac failed\n" + fh.read()[-4000:])
    if run_logged(["jar", "cf", os.path.join(out, "graft-perfbench.jar"), "-C", classes, "."],
                  os.path.join(out, "jar.log")) != 0:
        raise SystemExit("build: jar failed")
    shutil.rmtree(classes)


def build():
    """Returns the output directory, building it first if needed."""
    files = sources()
    key = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        key.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            key.update(hashlib.sha256(fh.read()).digest())
    key.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    out = os.path.join(build_dir(), "build-" + key.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    # builds of other sources are stale
    for old in glob.glob(os.path.join(build_dir(), "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    try:
        compile_jar(files, out)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
