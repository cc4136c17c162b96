"""Build file of the benchmark package: compiles graft and the benchmark program.

graft's main sources (``src/main/scala``) and the benchmark (``perfbench/scala``)
are compiled together with the Scala compiler that ships in Spark's jar
directory, so the build needs no sbt, no dependency resolution and no network.
The classes and graft's resources are packed into ``.bench_build/graft-<hash>.jar``,
keyed by a hash of every input file, so an unchanged tree is built once.

The build then makes a class-data-sharing archive (``graft-<hash>.jsa``) from
one toy-scale run of the benchmark. Spark loads tens of thousands of classes at
start-up; mapping them from the archive halves the JVM's start-up time, which
every benchmark run pays outside its measured window.

    python3 perfbench/build.py          # prints the jar path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: ``$SPARK_HOME/jars``, else ``/opt/spark/jars``."""
    for cand in (os.environ.get("SPARK_HOME", ""), "/opt/spark"):
        if cand and (Path(cand) / "jars").is_dir():
            return Path(cand) / "jars"
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources() -> list:
    missing = [str(d.relative_to(ROOT)) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise BuildError("missing source directories: " + ", ".join(missing))
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def input_hash(files: list) -> str:
    h = hashlib.sha256()
    extra = sorted(RESOURCES.rglob("*")) if RESOURCES.is_dir() else []
    for p in files + [p for p in extra if p.is_file()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def java_cmd(jar: Path, archive, work: Path, main_args: list, dump_archive=None) -> list:
    """The benchmark's JVM command line; all temporary files go under ``work``."""
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if dump_archive:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump_archive}")
    elif archive and archive.exists():
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{jar}:{spark_jars()}/*", "graftbench.Main"] + [str(a) for a in main_args]


def java_env(work: Path) -> dict:
    return dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"), TMPDIR=str(work / "tmp"),
                SPARK_LOCAL_IP="127.0.0.1")


def _compile(files: list, jar: Path, log) -> None:
    classes = BUILD_DIR / "classes.partial"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp] + [str(f) for f in files]
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=850)
    if res.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    tmp_jar = jar.with_suffix(".partial")
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())
    shutil.rmtree(classes, ignore_errors=True)
    tmp_jar.rename(jar)


def _archive(jar: Path, archive: Path, log) -> None:
    """Dump the class-data archive from one toy-scale run; on failure the
    runs simply start without it."""
    work = BUILD_DIR / f"train-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    print("[perfbench] dumping the class-data archive (toy run)", file=log, flush=True)
    try:
        cmd = java_cmd(jar, None, work, ["smoke", 1, 1, 1, work, work / "result.json"],
                       dump_archive=archive)
        res = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=600, env=java_env(work))
        if res.returncode != 0 or not archive.exists():
            archive.unlink(missing_ok=True)
            print("[perfbench] no class-data archive:\n" + res.stdout[-2000:], file=log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(log=sys.stderr):
    """Build if needed; return (jar, class-data archive)."""
    files = sources()
    key = input_hash(files)
    jar = BUILD_DIR / f"graft-{key}.jar"
    archive = BUILD_DIR / f"graft-{key}.jsa"
    done = BUILD_DIR / f"graft-{key}.done"
    if done.exists():
        return jar, archive
    BUILD_DIR.mkdir(exist_ok=True)
    for old in BUILD_DIR.iterdir():
        shutil.rmtree(old, ignore_errors=True) if old.is_dir() else old.unlink()
    _compile(files, jar, log)
    _archive(jar, archive, log)
    done.write_text("ok\n")
    return jar, archive


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
