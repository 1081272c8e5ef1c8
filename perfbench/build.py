"""Builds the program and the benchmark from source.

The program (`src/main`) and the benchmark (`perfbench/src/main`) are compiled
with the Scala compiler that ships among the Spark jars, against those jars,
into jars under `.bench_build/`. Each jar is keyed by a hash of its sources,
so a later run with unchanged sources reuses it. The build ends with one
short extract_bulk run that dumps a class-data-sharing archive of every class
it loaded; later JVMs map it and start seconds sooner.

    python3 perfbench/build.py          # build, print the classpath
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
BUILD = ROOT / ".bench_build"


# Spark on JDK 17 needs these outside spark-submit (as build.sbt's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


class BuildError(Exception):
    pass


def java_cmd(classpath, work, main, args, cds=None):
    """The command line of a benchmark JVM whose scratch files stay in `work`."""
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Xlog:all=warning:stderr",
            *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            *([cds] if cds else []),
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", classpath, main, *map(str, args)]


def _build_sbt():
    f = ROOT / "build.sbt"
    if not f.is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BuildError(f"no program sources here: {ROOT} lacks build.sbt or src/main/scala")
    return f.read_text()


def spark_jars():
    """The Spark jars the program compiles against: $SPARK_HOME/jars, else
    the `unmanagedBase` that build.sbt names."""
    sbt = _build_sbt()
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(Path(os.environ["SPARK_HOME"]) / "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if m:
        dirs.append(Path(m.group(1)))
    for d in dirs:
        if list(d.glob("spark-core_*.jar")):
            return d
    raise BuildError("Spark jars not found: set SPARK_HOME")


def _compiler_cp(jars):
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', _build_sbt())
    if not m:
        raise BuildError("build.sbt names no scalaVersion")
    cp = [jars / f"scala-{part}-{m.group(1)}.jar" for part in ("compiler", "library", "reflect")]
    missing = [str(p.name) for p in cp if not p.is_file()]
    if missing:
        raise BuildError(f"Scala compiler jars missing: {missing}")
    return os.pathsep.join(map(str, cp))


def _files(*dirs):
    return sorted(p for d in dirs if d.is_dir() for p in d.rglob("*") if p.is_file())


def _key(files, classpath):
    h = hashlib.sha256(classpath.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _compile(name, src_dirs, resources, classpath, jars):
    """Compile `src_dirs` into .bench_build/<name>-<hash>.jar; return it."""
    files = _files(*src_dirs, *resources)
    if not files:
        raise BuildError(f"no sources for {name}")
    out = BUILD / f"{name}-{_key(files, classpath)}.jar"
    if out.is_file():
        return out
    tmp = BUILD / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    scala = [str(p) for p in files if p.suffix == ".scala"]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", _compiler_cp(jars), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath, "-d", str(tmp), *scala]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise BuildError(f"compiling {name} failed")
    for r in resources:
        shutil.copytree(r, tmp, dirs_exist_ok=True)
    for old in BUILD.glob(f"{name}-*.jar"):
        old.unlink()
    part = out.with_suffix(".part")
    with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    part.rename(out)
    shutil.rmtree(tmp)
    return out


def _archive(classpath):
    """A class-data-sharing archive for `classpath`, dumped by one short
    extract_bulk run the first time; None if the JVM cannot make one."""
    jsa = BUILD / f"cds-{hashlib.sha256(classpath.encode()).hexdigest()[:16]}.jsa"
    if jsa.is_file():
        return jsa
    for old in BUILD.glob("cds-*.jsa"):
        old.unlink()
    work = BUILD / "work" / "cds-train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    part = BUILD / "cds.part"
    args = ["--workload", "extract_bulk", "--seed", 0, "--work", work, "--cores",
            len(os.sched_getaffinity(0)), "--seconds", 0, "--trace", 0, "--setup-repeats", 1]
    try:
        proc = subprocess.run(
            java_cmd(classpath, work, "perfbench.BenchMain", args, f"-XX:ArchiveClassesAtExit={part}"),
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not part.is_file():
        return None
    part.rename(jsa)
    return jsa


def build(tests=False):
    """Compile what is stale; return the runtime classpath and the JVM flag
    that maps the class-data-sharing archive (None when there is none)."""
    jars = spark_jars()
    spark_cp = str(jars / "*")
    program = _compile("program", [ROOT / "src" / "main" / "scala"],
                       [ROOT / "src" / "main" / "resources"], spark_cp, jars)
    bench = _compile("bench", [BENCH / "src" / "main" / "scala"], [],
                     os.pathsep.join([str(program), spark_cp]), jars)
    cp = [str(program), str(bench), spark_cp]
    if tests:
        cp.insert(2, str(_compile("tests", [BENCH / "src" / "test" / "scala"], [],
                                  os.pathsep.join(cp), jars)))
        return os.pathsep.join(cp), None
    classpath = os.pathsep.join(cp)
    jsa = _archive(classpath)
    return classpath, (f"-XX:SharedArchiveFile={jsa}" if jsa else None)


if __name__ == "__main__":
    try:
        print(build(tests="--tests" in sys.argv)[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
