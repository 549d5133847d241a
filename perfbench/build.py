"""Compiles the engine (src/main) together with the benchmark
(perfbench/src) with the Scala and Java compilers of the Spark
distribution, into .bench_build/perfbench/perfbench-<digest>.jar.

    python3 perfbench/build.py        # prints the jar

A build whose sources are unchanged is reused.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: under SPARK_HOME, else the
    `unmanagedBase` directory the repository's build.sbt compiles
    against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark jars found (set SPARK_HOME)")
    return jars


def _files(top, exts):
    out = []
    for d, _, names in os.walk(os.path.join(ROOT, top)):
        out.extend(os.path.join(d, n) for n in names if n.endswith(exts))
    return sorted(out)


def build():
    scala = _files("src/main/scala", ".scala")
    java = _files("src/main/java", ".java")
    bench = _files("perfbench/src", ".scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not scala or not bench:
        raise BuildError("engine or benchmark sources missing under %s" % ROOT)
    jars = spark_jars()
    h = hashlib.sha256()
    for f in scala + java + bench + _files("src/main/resources", ""):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    jar = os.path.join(OUT, "perfbench-" + h.hexdigest()[:16] + ".jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(OUT, exist_ok=True)
    tmp = jar + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(tmp, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala + java + bench))
    try:
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-Djava.io.tmpdir=" + OUT, "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       check=True, stdout=sys.stderr)
        if java:
            subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-d", tmp,
                            "-cp", tmp + os.pathsep + cp]
                           + java, check=True, stdout=sys.stderr)
        os.remove(argfile)
        if os.path.isdir(resources):
            shutil.copytree(resources, tmp, dirs_exist_ok=True)
        # a jar, not a directory: the JVM's class-data archive (run.py)
        # accepts no non-empty directory on the class path
        subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", tmp + ".jar", "-C", tmp, "."],
                       check=True, stdout=sys.stderr)
    except (subprocess.CalledProcessError, OSError) as e:
        raise BuildError("compile failed: %s" % e)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for old in os.listdir(OUT):
        if old.startswith("perfbench-") and not old.startswith(os.path.basename(tmp)):
            os.remove(os.path.join(OUT, old))
    os.rename(tmp + ".jar", jar)
    return jar


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    try:
        print(build())
    except BuildError as e:
        sys.exit("build: %s" % e)
