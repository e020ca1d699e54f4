"""Builds the benchmark's JVM package (the engine's sources plus the
harness) with sbt, and launches its driver.

Every file sbt and the JVM write lands inside `perfbench/` of the
checkout: the compiled classes under the package's own `jvm/target` and
`jvm/project/target`; sbt's global, boot and ivy directories, Spark's
scratch space and the engine's working directory under `perfbench/.work`.
"""
import hashlib
import os
import subprocess
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
JVM = BENCH / "jvm"
WORK = BENCH / ".work"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
CLASSES = JVM / "target" / "scala-2.13" / "classes"
STAMP = WORK / "build.stamp"
HEAP = "2g"

# What spark-submit adds for JDK 17 (JavaModuleOptions); the engine's own
# build passes the same list to its forked mains.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_home():
    if "SPARK_HOME" not in os.environ:
        raise BuildError("SPARK_HOME is not set")
    return Path(os.environ["SPARK_HOME"])


def spark_jars():
    return spark_home() / "jars"


def _sources():
    files = [JVM / "build.sbt", JVM / "project" / "build.properties"]
    for d in (ENGINE_SRC, JVM / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in _sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built(log):
    """Compile unless the classes already match the sources."""
    if not (ENGINE_SRC / "graft").is_dir():
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    if not spark_jars().is_dir():
        raise BuildError(f"Spark jars not found under {spark_jars()}")
    digest = source_hash()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    sbt_dir = WORK / "sbt"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={sbt_dir / 'global'}",
           f"-Dsbt.boot.directory={sbt_dir / 'boot'}",
           f"-Dsbt.ivy.home={sbt_dir / 'ivy'}", "compile"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=JVM, stdout=out, stderr=subprocess.STDOUT,
                           env=env, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"sbt compile failed (exit {r.returncode}); see {log}")
    STAMP.write_text(digest)


def java_command(main, args, tmp):
    cp = os.pathsep.join([str(CLASSES), str(spark_jars() / "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap size: no resizing between runs
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + args)
