"""Compiles the engine library and the benchmark driver with the Scala
compiler that ships in the Spark distribution, offline and without sbt,
into jars keyed by a hash of their sources: a checkout compiles once and
every later run reuses them.
"""
import hashlib
import os
import shutil
import subprocess
import zipfile

SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.join(os.sep, "opt", "spark")
JARS = os.path.join(SPARK_HOME, "jars")


def jars_glob():
    return os.path.join(JARS, "*")


def _sources(top, ext=".scala"):
    out = []
    for root, _, files in os.walk(top):
        out.extend(os.path.join(root, f) for f in files if f.endswith(ext))
    return sorted(out)


def _digest(paths, base, seed=b""):
    h = hashlib.sha256(seed)
    for p in paths:
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:20]


def _compile(files, classpath, jar, log, resources=None):
    """scalac `files` into the jar `jar` (plus `resources`, if any)."""
    tmp = f"{jar}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars_glob(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(classpath), *files]
    try:
        with open(log, "w") as lf:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=840).returncode
        if rc != 0:
            with open(log) as lf:
                raise RuntimeError(f"scalac failed (rc={rc}):\n{lf.read()[-4000:]}")
        if resources and os.path.isdir(resources):
            shutil.copytree(resources, tmp, dirs_exist_ok=True)
        with zipfile.ZipFile(f"{tmp}.jar", "w", zipfile.ZIP_DEFLATED) as z:
            for root, _, names in sorted(os.walk(tmp)):
                for n in sorted(names):
                    path = os.path.join(root, n)
                    z.write(path, os.path.relpath(path, tmp))
        os.rename(f"{tmp}.jar", jar)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ensure(root, build_root):
    """Compile (if needed) and return the run's classpath: the engine jar,
    the driver jar and the Spark jars, in a fixed order."""
    os.makedirs(build_root, exist_ok=True)
    src_main = os.path.join(root, "src", "main")
    lib_src = _sources(os.path.join(src_main, "scala"))
    if not lib_src:
        raise FileNotFoundError(f"no engine sources under {src_main}/scala")
    spark = sorted(os.path.join(JARS, j) for j in os.listdir(JARS) if j.endswith(".jar"))
    lib_key = _digest(lib_src, root)
    lib = os.path.join(build_root, f"lib-{lib_key}.jar")
    if not os.path.exists(lib):
        _compile(lib_src, spark, lib, os.path.join(build_root, "lib-build.log"),
                 os.path.join(src_main, "resources"))
    here = os.path.dirname(os.path.abspath(__file__))
    bench_src = _sources(os.path.join(here, "scala"))
    bench = os.path.join(build_root, f"bench-{_digest(bench_src, here, lib_key.encode())}.jar")
    if not os.path.exists(bench):
        _compile(bench_src, [lib, *spark], bench, os.path.join(build_root, "bench-build.log"))
    return [lib, bench, *spark]
