"""Build file of the benchmark: compiles the program's sources together with
the benchmark's Scala sources into one jar with the Scala compiler shipped in
the Spark distribution, then records a class-data-sharing archive from a tiny
training run, which halves the benchmark JVMs' cold start. Rebuilds only when
a source file or the compiler changes. No network, no sbt state outside the
checkout.

    python3 perfbench/build.py        # build (or confirm it is current)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars = Path(m.group(1))
    if not glob.glob(str(jars / "spark-core_*.jar")):
        raise BuildError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def compiler_jar(jars: Path) -> Path:
    """scala-compiler matching the scala-library Spark ships."""
    lib = sorted(jars.glob("scala-library-*.jar"))
    if not lib:
        raise BuildError(f"no scala-library jar under {jars}")
    version = lib[-1].name[len("scala-library-"):-len(".jar")]
    local = jars / f"scala-compiler-{version}.jar"
    if local.exists():
        return local
    cached = glob.glob(os.path.expanduser(
        f"~/.cache/coursier/v1/**/scala-compiler/{version}/scala-compiler-{version}.jar"),
        recursive=True)
    if not cached:
        raise BuildError(f"no scala-compiler {version} beside Spark or in the coursier cache")
    return Path(cached[0])


def sources() -> list:
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"program sources not found under {ROOT / 'src/main/scala'}")
    return program + sorted((ROOT / "perfbench" / "src").glob("*.scala"))


def classpath():
    """Builds if needed; returns the run-time classpath and the JVM flags that
    use the class-data archive (none when the training run could not make one)."""
    srcs = sources()
    jars = spark_jars()
    scalac = compiler_jar(jars)
    h = hashlib.sha256(str(scalac).encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    jar = OUT / "perfbench.jar"
    jsa = OUT / "perfbench.jsa"
    stamp_file = OUT / "build.stamp"
    cp = f"{jar}{os.pathsep}{jars}/*"
    flags = [f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else []
    if stamp_file.exists() and stamp_file.read_text() == stamp and jar.exists():
        return cp, flags
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / "classes.tmp"
    subprocess.run(["rm", "-rf", str(tmp), str(jar), str(jsa), str(stamp_file)], check=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*{os.pathsep}{scalac}",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    log = OUT / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed ({r.returncode}); see {log}:\n" + log.read_text()[-3000:])
    with zipfile.ZipFile(jar, "w") as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    subprocess.run(["rm", "-rf", str(tmp)], check=True)
    train(cp, jsa)
    stamp_file.write_text(stamp)
    return cp, ([f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else [])


def train(cp: str, jsa: Path):
    """Tiny pip-skew run that exits normally, so the JVM writes the classes it
    loaded to `jsa`. Best effort: without the archive the runs start slower."""
    work = OUT / "train"
    cmd = ["java", *ADD_OPENS, "-Xmx3g", f"-XX:ArchiveClassesAtExit={jsa}",
           "-Dperfbench.exit=1", "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", "pip-skew", "--seed", "1", "--seconds", "1", "--trace", "0",
           "--cores", "4", "--parts", "8", "--role", "main", "--size", "tiny",
           "--out", str(work / "out.json"), "--work", str(work)]
    with open(OUT / "train.log", "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=400)
    subprocess.run(["rm", "-rf", str(work)])
    if r.returncode != 0:
        jsa.unlink(missing_ok=True)


def source_digest() -> str:
    h = hashlib.sha256()
    for s in sources():
        h.update(s.read_bytes())
    return h.hexdigest()[:16]


if __name__ == "__main__":
    try:
        print(*classpath())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
