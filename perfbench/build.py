#!/usr/bin/env python3
"""Build file of the benchmark. Compiles the program (src/main/scala plus
its resources) and the benchmark harness (perfbench/src) with the Scala
compiler that ships in the Spark distribution, packs each into a jar,
and records a class-data-sharing archive from a short training run (it
halves JVM and Spark session start on a small host). Outputs go under the
build directory (.bench_build, or $CARGO_TARGET_DIR when set); each step
is skipped when the hash of its inputs is unchanged.

    python3 perfbench/build.py            # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
# what spark-submit passes to a JDK 17 JVM (JavaModuleOptions)
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))


def java_opens():
    return [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def jvm_flags(archive):
    """JVM logging to stderr at error level, and the class-data-sharing archive."""
    return ["-Xlog:disable", "-Xlog:all=error:stderr", f"-XX:SharedArchiveFile={archive}"]


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _fresh(stamp, digest):
    return os.path.exists(stamp) and open(stamp).read() == digest


def _mark(stamp, digest):
    with open(stamp, "w") as fh:
        fh.write(digest)


def _compile_jar(name, sources, resources, classpath, jar, digest):
    """Compile `sources` against `classpath` into `jar`, with `resources`
    (path relative to their root -> file) copied in."""
    out = jar + ".classes"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = jar + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    print(f"[build] compiling {name}: {len(sources)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", classpath, "scala.tools.nsc.Main",
                    "-usejavacp", "-nowarn", "-d", out, "@" + argfile],
                   check=True, stdout=sys.stderr)
    for rel, src in resources.items():
        dst = os.path.join(out, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)
    subprocess.run(["jar", "cf", jar, "-C", out, "."], check=True)
    shutil.rmtree(out)
    _mark(jar + ".stamp", digest)


def build():
    """Bring the build up to date; return (classpath, CDS archive)."""
    bd = build_dir()
    main_src = os.path.join(ROOT, "src", "main", "scala")
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise SystemExit(f"perfbench: no program sources at {main_src}")
    os.makedirs(bd, exist_ok=True)

    prog_src = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True))
    resources = {os.path.relpath(f, res_dir): f
                 for f in glob.glob(os.path.join(res_dir, "**", "*"), recursive=True) if os.path.isfile(f)}
    prog_jar = os.path.join(bd, "program.jar")
    prog_digest = _digest(prog_src + list(resources.values()))
    if not _fresh(prog_jar + ".stamp", prog_digest):
        _compile_jar("program", prog_src, resources, SPARK_JARS, prog_jar, prog_digest)

    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    bench_jar = os.path.join(bd, "perfbench.jar")
    bench_digest = _digest(bench_src, extra=prog_digest)
    if not _fresh(bench_jar + ".stamp", bench_digest):
        _compile_jar("benchmark", bench_src, {}, f"{prog_jar}:{SPARK_JARS}", bench_jar, bench_digest)

    classpath = f"{bench_jar}:{prog_jar}:{SPARK_JARS}"
    archive = os.path.join(bd, "classes.jsa")
    if not _fresh(archive + ".stamp", bench_digest):
        print("[build] recording the class-data-sharing archive", file=sys.stderr, flush=True)
        if os.path.exists(archive):
            os.remove(archive)
        train = tempfile.mkdtemp(prefix="train-", dir=bd)
        try:
            subprocess.run(["java", "-Xmx2g", "-Xlog:disable", "-Xlog:all=error:stderr",
                            f"-XX:ArchiveClassesAtExit={archive}",
                            *java_opens(), f"-Djava.io.tmpdir={train}",
                            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
                            "-cp", classpath, "perfbench.Main", "--train", train],
                           check=True, stdout=sys.stderr, stderr=subprocess.DEVNULL)
        finally:
            shutil.rmtree(train, ignore_errors=True)
        _mark(archive + ".stamp", bench_digest)
    return classpath, archive


if __name__ == "__main__":
    print(build()[0])
