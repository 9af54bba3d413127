#!/usr/bin/env python3
"""Build file of the linkage benchmark.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own sources (linkbench/src) with the Scala compiler that ships
in Spark's jars directory, packs them into .bench_build/linkbench/linkbench.jar,
and records a class-data-sharing archive from one tiny benchmark run so
that each benchmark JVM starts without re-loading Spark's classes from the
jars. A stamp over the source contents skips the build when nothing changed.

    python3 linkbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "linkbench"
JAR = BUILD / "linkbench.jar"
CDS = BUILD / "linkbench.jsa"
STAMP = BUILD / "build.stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "linkbench" / "src"]

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would otherwise add.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("linkbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"linkbench: no scala-compiler jar in {jars}")
    return jars


def sources() -> list:
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"linkbench: program sources not found under {ROOT / 'src/main/scala'}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def java_cmd(main_args: list, cds_flag: str = "") -> list:
    """The benchmark JVM's command line; `cds_flag` records or uses the archive.
    JVM log output goes to stderr, so stdout carries only the result."""
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={ROOT / 'linkbench' / 'log4j2.properties'}"]
    if cds_flag:
        cmd.append(cds_flag)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{JAR}{os.pathsep}{spark_jars() / '*'}", "linkbench.Main",
                  "--root", str(ROOT)] + main_args


def compile_jar(jars: Path, srcs: list) -> None:
    classes = BUILD / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes)] + [str(p) for p in srcs]
    print(f"linkbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=600)
    if r.returncode != 0:
        sys.exit(f"linkbench: compilation failed ({r.returncode})")
    with zipfile.ZipFile(JAR, "w") as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)


def record_cds() -> None:
    """One tiny run that dumps the classes it loaded; without an archive the
    benchmark still runs, only its JVM starts slower."""
    tmp = BUILD / "linkbench.jsa.tmp"
    tmp.unlink(missing_ok=True)
    cmd = java_cmd(["--workload", "link-pages", "--seed", "1", "--seconds", "0.1",
                    "--trace", "0", "--size", "tiny"], f"-XX:ArchiveClassesAtExit={tmp}")
    print("linkbench: recording the class-data-sharing archive", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=280)
    if r.returncode == 0 and tmp.is_file():
        tmp.rename(CDS)
    else:
        tmp.unlink(missing_ok=True)
        print("linkbench: no class-data-sharing archive; continuing without", file=sys.stderr)


def build() -> None:
    """Compile and record the archive if the sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs + [ROOT / "linkbench" / "log4j2.properties"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    BUILD.mkdir(parents=True, exist_ok=True)
    STAMP.unlink(missing_ok=True)
    JAR.unlink(missing_ok=True)
    CDS.unlink(missing_ok=True)
    compile_jar(jars, srcs)
    record_cds()
    STAMP.write_text(stamp)


if __name__ == "__main__":
    build()
