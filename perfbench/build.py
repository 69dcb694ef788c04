"""Build the program and the benchmark's JVM side from source.

Compiles `src/main/scala` of the checkout together with
`perfbench/scala` using the Scala compiler that ships in Spark's jar
directory, into `<build dir>/classes`. A content hash of every source
file is kept next to the classes, so an unchanged tree is not rebuilt.
Run directly (`python3 perfbench/build.py`) to build ahead of time.
"""
import fcntl
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        spec = importlib.util.find_spec("pyspark")
        jars = Path(spec.origin).parent / "jars" if spec else Path("jars")
    if not jars.is_dir():
        raise SystemExit(f"Spark jars not found in {jars} (set SPARK_HOME)")
    return jars


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def _sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"no program sources at {main}")
    srcs = sorted(main.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))
    res = ROOT / "src" / "main" / "resources"
    resources = sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []
    return srcs, res, resources


def build():
    """Return the classpath directory, compiling first if sources changed."""
    srcs, res_root, resources = _sources()
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    classes = out / "classes"
    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = classes / ".stamp"
        if stamp_file.is_file() and stamp_file.read_text() == stamp:
            return classes
        tmp = out / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        jars = spark_jars()
        argfile = out / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-d", str(tmp), "-classpath", f"{jars}/*", "-nowarn", f"@{argfile}"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"compile failed (exit {r.returncode})")
        for p in resources:
            dst = tmp / p.relative_to(res_root)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(p, dst)
        (tmp / ".stamp").write_text(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        return classes


if __name__ == "__main__":
    print(build())
