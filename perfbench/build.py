#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the benchmark
sources (perfbench/src) into one class directory, with the Scala compiler
that ships in the Spark distribution's jars. No sbt and no network: the
only inputs are the sources and the Spark jars.

    python3 perfbench/build.py          # prints the class directory

Output goes to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench
under the checkout): the classes packed as perfbench.jar, and
perfbench.jsa, a class-data-sharing archive of the classes a short run on
tiny inputs loads, which later JVMs map instead of loading them again from
~300 jars (a third of a run's set-up on a 4-core host). A stamp of the
sources skips rebuilding unchanged code.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the repository's build.sbt takes its jars from (unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        jars = Path(m.group(1)) if m else Path("jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {jars} (set SPARK_HOME)")
    return jars


def build_dir() -> Path:
    base = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (base if base.is_absolute() else ROOT / base) / "perfbench"


def sources() -> list:
    lib = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not lib:
        raise BuildError(f"library sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    return lib + sorted((BENCH / "src").rglob("*.scala"))


def jvm(jar: Path, jars: Path, work: Path, archive_flag: str) -> list:
    """The benchmark JVM's command up to its main class; `work` holds its
    temporary files."""
    # a fixed-size heap: a growing heap made the first measured run after
    # the warm-up ~20% slower than the next ones
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
           archive_flag, f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{jar}{os.pathsep}{jars}/*", "graft.perfbench.Main"]


def archive() -> Path:
    return build_dir() / "perfbench.jsa"


def train_archive(jar: Path, jars: Path) -> None:
    """Dumps perfbench.jsa at the exit of a run on tiny inputs. Without it
    the benchmark still runs, only its set-up is slower."""
    work = build_dir() / "cds-train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    tmp = build_dir() / "perfbench.jsa.tmp"
    cmd = jvm(jar, jars, work, f"-XX:ArchiveClassesAtExit={tmp}") + [
        "--workload", "crawl_e2e", "--seed", "1", "--seconds", "0", "--trace", "0",
        "--size", "tiny", "--work-dir", str(work)]
    print("[perfbench] training the class-data-sharing archive", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=600)
        if r.returncode == 0 and tmp.is_file():
            tmp.replace(archive())
    except subprocess.TimeoutExpired:
        pass
    finally:
        tmp.unlink(missing_ok=True)
        shutil.rmtree(work, ignore_errors=True)


def build() -> Path:
    """Compiles when the sources changed; returns the jar."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    jar = out / "perfbench.jar"
    stamp_file = out / "perfbench.stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return jar
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(p) for p in srcs]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise BuildError(f"scalac exited with {r.returncode}")
    with zipfile.ZipFile(out / "perfbench.jar.tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    (out / "perfbench.jar.tmp").replace(jar)
    archive().unlink(missing_ok=True)
    train_archive(jar, jars)
    stamp_file.write_text(stamp)
    return jar



if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
