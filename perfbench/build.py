"""Builds what a benchmark run needs, from source, inside the checkout.

Everything lands in `.bench_build/` at the repo root:

    classes/   the program (src/main/scala), compiled by scalac
    harness/   the benchmark's JVM side (perfbench/src)
    data/      the base tables from datagen.py
    oracle_sql.json, oracle_md5.json   DuckDB oracle SQL and cached hashes

The program is compiled with the Scala compiler jar that ships among the
Spark jars build.sbt compiles against (same Scala version, same
classpath, no scalacOptions in build.sbt), so no sbt state outside the
checkout is read or written. Each product records a digest of its inputs
and is rebuilt only when that digest changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_SCALE = 0.03


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = _read(os.path.join(root, "build.sbt"))
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")
    return m.group(1)


def _read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError as e:
        raise BuildError(f"cannot read {path}: {e}") from e


def digest(paths, *extra):
    h = hashlib.sha256()
    for x in extra:
        h.update(x.encode())
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def program_sources(root):
    return sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))


def harness_sources():
    return sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def scala_version(root):
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', _read(os.path.join(root, "build.sbt")))
    if not m:
        raise BuildError("build.sbt names no scalaVersion")
    return m.group(1)


def _fresh(out, want):
    stamp = os.path.join(out, ".digest")
    return os.path.exists(stamp) and _read(stamp) == want


def _stamp(out, want):
    with open(os.path.join(out, ".digest"), "w") as f:
        f.write(want)


def scalac(root, jars, sources, classpath, out, log):
    ver = scala_version(root)
    tool = [os.path.join(jars, f"scala-{n}-{ver}.jar") for n in ("compiler", "library", "reflect")]
    missing = [t for t in tool if not os.path.exists(t)]
    if missing:
        raise BuildError(f"Scala {ver} compiler jars not found: {missing}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(tool), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(classpath), "-d", out, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=800).returncode
    os.remove(argfile)
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log}:\n" + _read(log)[-2000:])


def ensure(root, bench):
    """Build or reuse every product; returns the runtime classpath."""
    srcs = program_sources(root)
    if not srcs:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    jars = spark_jars(root)
    os.makedirs(bench, exist_ok=True)
    classes, harness = os.path.join(bench, "classes"), os.path.join(bench, "harness")
    prog = digest(srcs, scala_version(root))
    if not _fresh(classes, prog):
        log(f"compiling {len(srcs)} program sources")
        scalac(root, jars, srcs, [os.path.join(jars, "*")], classes, os.path.join(bench, "scalac-program.log"))
        _stamp(classes, prog)
    hdig = digest(harness_sources(), prog)
    if not _fresh(harness, hdig):
        log("compiling the benchmark harness")
        scalac(root, jars, harness_sources(), [classes, os.path.join(jars, "*")], harness,
               os.path.join(bench, "scalac-harness.log"))
        _stamp(harness, hdig)
    # refuse to run classes built from other sources than the checkout's
    if _read(os.path.join(classes, ".digest")) != digest(program_sources(root), scala_version(root)):
        raise BuildError("compiled classes are older than the src/main sources")
    cp = [harness, classes, os.path.join(jars, "*")]
    data = os.path.join(bench, "data")
    ddig = digest([os.path.join(HERE, "datagen.py")], str(DATA_SCALE))
    if not _fresh(data, ddig):
        log("generating base tables")
        shutil.rmtree(data, ignore_errors=True)
        import datagen
        datagen.write(data, DATA_SCALE)
        _stamp(data, ddig)
    sql = os.path.join(bench, "oracle_sql.json")
    sdig = digest([], prog)
    if not os.path.exists(sql) or _read(sql + ".digest") != sdig:
        subprocess.run(["java", "-cp", os.pathsep.join(cp), "perfbench.Harness", "oracles", sql],
                       check=True, timeout=120, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(sql + ".digest", "w") as f:
            f.write(sdig)
    return cp, data, ddig


def log(msg):
    print(f"[build] {msg}", file=sys.stderr, flush=True)
