"""Build file of the benchmark harness.

Compiles the engine sources (`src/main/scala`) together with the harness
sources (`perfbench/harness`) into one class directory with the Scala
compiler that ships in Spark's jar directory, so no build tool and no
network is needed. A digest of every source file decides whether a previous
build can be reused.

Usage: python3 perfbench/build.py   (prints the class directory)
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d) / "..") for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    found = [Path(h) / "jars" for h in homes if h and any((Path(h) / "jars").glob("spark-core_*.jar"))]
    if not found:
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    jars = found[0].resolve()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    return engine + sorted((HERE / "harness").rglob("*.scala"))


def build(out_dir):
    """Compile into `out_dir/classes` unless it already holds these sources."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(jars.glob("scala-*.jar")):
        h.update(str(p.relative_to(ROOT) if p.is_relative_to(ROOT) else p.name).encode())
        if p.suffix == ".scala":
            h.update(p.read_bytes())
    digest = h.hexdigest()
    out_dir = Path(out_dir)
    classes, stamp = out_dir / "classes", out_dir / "classes.sha256"
    if classes.is_dir() and stamp.exists() and stamp.read_text() == digest:
        return classes

    tmp = out_dir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out_dir / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out_dir}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", cp, f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    try:
        print(build(ROOT / ".bench_build" / "perfbench"))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
