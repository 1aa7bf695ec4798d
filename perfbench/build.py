"""Build file of the benchmark: compiles the engine and the harness.

The engine's sources (src/main/scala) and the harness (perfbench/scala) are
compiled together with the Scala compiler that ships among the Spark jars
the engine's own build.sbt points at (`unmanagedBase`), into
.bench_build/classes-<hash>, where <hash> covers every source file and the
jar listing. A build is reused while that hash is unchanged.
"""
import hashlib
import os
import re
import shutil
import subprocess
from pathlib import Path

BUILD_DIR = ".bench_build"
HERE = Path(__file__).resolve().parent
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory the engine builds against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BuildError("no Spark jar directory: build.sbt names none and "
                     "SPARK_HOME is unset")


def sources(root):
    engine = root / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"{engine} is missing: run from a checkout root")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))


def ensure_built(root):
    """Compile if needed; return the JVM command line up to its arguments."""
    root = root.resolve()
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    out = root / BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    cp = f"{jars}/*"
    if not (out / ".complete").is_file():
        tmp = out.with_name(out.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        argfile = tmp / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs))
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(tmp), "-cp", cp, f"@{argfile}"],
            cwd=root)
        if r.returncode != 0:
            raise BuildError(f"scalac exited {r.returncode}")
        res = root / "src" / "main" / "resources"
        if res.is_dir():
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        (tmp / ".complete").touch()
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    scratch = root / BUILD_DIR / "tmp"
    scratch.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xms1g", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={scratch}",
            f"-Dderby.stream.error.file={scratch / 'derby.log'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{out}:{cp}", "perfbench.Main"]
