#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
harness under perfbench/scala with the Scala compiler that ships in the
Spark distribution's jars directory.

Usage: python3 perfbench/build.py [--out DIR]

The output goes to DIR/classes (default: $CARGO_TARGET_DIR or .bench_build,
relative to the repository root). A stamp holding a hash of every source
file skips the compile when nothing changed.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars(root: Path) -> Path:
    """The Spark jars directory: $SPARK_HOME/jars, else spark-submit's home,
    else the unmanagedBase that graft's own build.sbt names."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(Path(submit).resolve().parent.parent / "jars")
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if list(c.glob("spark-sql_*.jar")) and list(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(root: Path):
    main = root / "src" / "main" / "scala"
    if not (main / "graft").is_dir():
        raise BuildError(f"graft sources not found under {main}")
    return sorted(main.rglob("*.scala")), sorted((HERE / "scala").glob("*.scala"))


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure(root: Path, out: Path, log=sys.stderr) -> Path:
    """Compile into out/classes unless the stamp shows it is current."""
    graft, bench = sources(root)
    jars = spark_jars(root)
    classes = out / "classes"
    want = stamp(graft + bench) + "\n" + str(jars)
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    stamp_file.unlink(missing_ok=True)
    cp = f"{jars}/*"
    for label, files, extra in (("graft", graft, ""), ("harness", bench, f"{classes}:")):
        print(f"[build] compiling {len(files)} {label} sources", file=log, flush=True)
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", str(classes), "-classpath", extra + cp] + [str(f) for f in files],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError(f"{label} compile failed:\n{r.stdout[-4000:]}")
    stamp_file.write_text(want)
    return classes


def default_out(root: Path) -> Path:
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", type=Path)
    a = ap.parse_args()
    root = HERE.parent
    try:
        print(ensure(root, a.out or default_out(root)))
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
