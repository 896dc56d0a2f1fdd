#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into one jar with the Scala compiler that
ships among the Spark distribution's jars, then records a class-data
sharing archive of the classes a short training run loads, so every
measured JVM starts without re-parsing them.

    python3 perfbench/build.py        # prints the jar

The build is skipped when no source changed since the last one.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")
HEAP = "2g"
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
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def _scala_files(top):
    found = []
    for d, _, names in os.walk(top):
        found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def java_command(jars, work, flags, args):
    """The benchmark JVM's command line; `work` holds its temp files."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + flags +
            ["-cp", JAR + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + args +
            ["--work", work])


def _train(jars):
    """Runs the serve workload briefly and archives the classes it loaded."""
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tmp = ARCHIVE + ".tmp"
    cmd = java_command(jars, work, ["-XX:ArchiveClassesAtExit=" + tmp, "-Xlog:cds=off"],
                       ["--workload", "serve", "--seed", "0", "--seconds", "1", "--trace", "0"])
    print("[perfbench] recording the class-data sharing archive", file=sys.stderr, flush=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    done = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, env=env)
    shutil.rmtree(work, ignore_errors=True)
    if done.returncode == 0 and os.path.exists(tmp):
        os.rename(tmp, ARCHIVE)
    else:
        print("[perfbench] no class-data sharing archive; JVMs start cold", file=sys.stderr)


def build():
    """Compiles and trains if needed; returns the Spark jar directory."""
    program = _scala_files(os.path.join(ROOT, "src", "main", "scala"))
    bench = _scala_files(os.path.join(HERE, "src"))
    if not program:
        raise BuildError("program sources (src/main/scala) not found")
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in program + bench:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    digest.update("\n".join(sorted(os.listdir(jars))).encode())
    key = digest.hexdigest()
    stamp = os.path.join(OUT, "perfbench.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp) and open(stamp).read() == key:
        return jars
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    tmp = os.path.join(OUT, "classes")
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(program + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("[perfbench] compiling %d program + %d benchmark sources"
          % (len(program), len(bench)), file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("compilation failed")
    # class-data sharing takes classes from jars only
    with zipfile.ZipFile(JAR + ".tmp", "w") as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
    os.rename(JAR + ".tmp", JAR)
    shutil.rmtree(tmp)
    _train(jars)
    with open(stamp, "w") as fh:
        fh.write(key)
    return jars


if __name__ == "__main__":
    try:
        build()
        print(JAR)
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
