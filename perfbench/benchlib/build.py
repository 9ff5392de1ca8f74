"""Builds the Scala harness (harness/) when its inputs changed, and returns
the java command line that runs it.

The harness is compiled with the Scala compiler that ships in the Spark
distribution's jars (the engine's Scala version), against those jars
only. A run therefore needs neither sbt nor its caches, writes nothing
outside its checkout and contacts no repository; harness/build.sbt
declares the same sources and options for building by hand."""
import hashlib
import os
import shutil
import subprocess
import sys

# Module opens Spark 4 needs on JDK 17 outside spark-submit; the same list
# as the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jars():
    return os.path.join(os.environ["SPARK_HOME"], "jars", "*")


def _sources(root, harness):
    out = []
    for d in (os.path.join(root, "src", "main", "scala"), os.path.join(harness, "src")):
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def fingerprint(root, harness):
    h = hashlib.sha256()
    for f in _sources(root, harness) + [os.path.join(harness, "build.sbt")]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(root, harness, timeout_s):
    """Compiles harness + engine sources unless the stamp matches.
    Returns the classes directory and the sources' fingerprint."""
    target = os.path.join(harness, "target")
    classes = os.path.join(target, "classes")
    stamp = os.path.join(target, "perfbench.stamp")
    fp = fingerprint(root, harness)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                return classes, fp
    fresh = os.path.join(target, "classes.new")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    args = os.path.join(target, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(_sources(root, harness)) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={target}",
           "-cp", jars(), "scala.tools.nsc.Main",
           "-deprecation", "-usejavacp", "-d", fresh, "@" + args]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=timeout_s)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as f:
        f.write(fp)
    return classes, fp


# The engine build's JVM settings (build.sbt): the default collector and
# a maximum heap of SPARK_DRIVER_MEM, 8g when unset.
def heap():
    return f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"


def java_command(classes, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, heap(), "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{jars()}", "perfbench.Main"]


def java_env():
    """The harness's environment: Spark binds and names its driver on the
    loopback address, so a run needs no network and no name lookup."""
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    return env
