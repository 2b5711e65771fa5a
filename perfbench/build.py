"""Build file of the benchmark package.

Compiles the engine (``src/main/scala`` and its resources) together with the
benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships in Spark's jar directory, into a class directory keyed by a digest of
every source, so a rebuilt checkout reuses an identical build and a changed
one never does. Usage: ``python3 perfbench/build.py`` from the repository
root prints the class directory.
"""

import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the jars that ship
    inside the installed ``pyspark`` package."""
    home = os.environ.get("SPARK_HOME")
    spec = None if home else importlib.util.find_spec("pyspark")
    jars = Path(home) / "jars" if home else Path(spec.origin).parent / "jars" if spec else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}; set SPARK_HOME to a Spark 4 install")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def _files(base: Path, pattern: str) -> list:
    return sorted(p for p in base.rglob(pattern) if p.is_file()) if base.is_dir() else []


def build(root: Path) -> Path:
    """Returns the class directory for the sources under ``root``, compiling
    them first unless an identical build is already there."""
    engine = _files(root / "src" / "main" / "scala", "*.scala")
    bench = _files(root / "perfbench" / "src", "*.scala")
    resources_dir = root / "src" / "main" / "resources"
    resources = _files(resources_dir, "*")
    if not engine or not bench:
        raise BuildError(f"no engine or benchmark sources under {root}")
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in engine + bench + resources:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(p.read_bytes())
    digest.update(",".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    target = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not target.is_absolute():
        target = root / target
    out = target / f"perfbench-{digest.hexdigest()[:16]}" / "classes"
    if (out / ".complete").exists():
        return out
    tmp = out.parent / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out.parent / f"sources{os.getpid()}.txt"
    argfile.write_text("\n".join(str(p) for p in engine + bench) + "\n")
    cp = str(jars / "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for r in resources:
        dest = tmp / r.relative_to(resources_dir)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dest)
    (tmp / ".complete").write_text("")
    try:
        tmp.rename(out)
    except OSError:
        # a concurrent build of the same sources finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
