"""Build file of the benchmark: compiles graft's `src/main/scala` and the
benchmark's own Scala sources with the Scala compiler shipped in the
Spark distribution, into `.bench_build/` at the repository root.

A stamp of the source contents skips the build when nothing changed.

    python3 perfbench/build.py      # build (or confirm up to date), print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution named by SPARK_HOME, or else of
    the first spark-submit on PATH that belongs to a full distribution
    (one whose jars include the Scala compiler)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(re.search(r"/scala-compiler-[\d.]+\.jar$", j) for j in jars):
            return jars
    raise BuildError("no Spark distribution found: set SPARK_HOME")


def java():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def _sources(d, exts=(".scala", ".java")):
    out = []
    for base, _, files in os.walk(d):
        out.extend(os.path.join(base, f) for f in files if f.endswith(exts))
    return sorted(out)


def _stamp(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def _scalac(jars, cp, out, srcs, log):
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[\d.]+\.jar$", j)]
    if len(compiler) < 3:
        raise BuildError("scala-compiler/library/reflect jars not found among Spark jars")
    os.makedirs(out)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + srcs
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        raise BuildError("scalac failed (%d):\n%s" % (rc, tail))


def build():
    """Compile if needed; return the runtime classpath list."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise BuildError("graft sources not found at %s" % main_src)
    jars = spark_jars()
    graft_srcs = _sources(main_src)
    bench_srcs = _sources(os.path.join(HERE, "scala"))
    resources = os.path.join(ROOT, "src", "main", "resources")
    res_files = _sources(resources, exts=("",)) if os.path.isdir(resources) else []
    stamp = _stamp(graft_srcs + bench_srcs + res_files, jars)
    graft_out = os.path.join(OUT, "graft")
    bench_out = os.path.join(OUT, "bench")
    stamp_file = os.path.join(OUT, "stamp")
    cp = [graft_out, bench_out] + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    jar_cp = ":".join(jars)
    _scalac(jars, jar_cp, graft_out, graft_srcs, os.path.join(OUT, "graft.log"))
    for p in res_files:
        dst = os.path.join(graft_out, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _scalac(jars, graft_out + ":" + jar_cp, bench_out, bench_srcs,
            os.path.join(OUT, "bench.log"))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        sys.exit("build failed: %s" % e)
