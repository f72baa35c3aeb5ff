"""Compile the program's main sources and the benchmark's JVM harness together.

The classes go to `.bench_build/classes-<key>` at the root of the checkout,
where the key hashes every source file and the Spark jar set, so an
unchanged tree is compiled once. Spark's own jars (which carry the Scala
2.13 compiler the project builds with) come from `$SPARK_HOME/jars`, or
from the installed `pyspark` package when SPARK_HOME is unset.

Run it alone with `python3 perfbench/build.py` to build ahead of a run.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark
    except ImportError:
        sys.exit("graftbench: no Spark jars: set SPARK_HOME or install pyspark")
    return Path(pyspark.__file__).parent / "jars"


def sources() -> list:
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        sys.exit(f"graftbench: no program sources under {ROOT / 'src/main/scala'}")
    return main + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def classpath() -> str:
    """Build if needed; return the run classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (out / ".done").exists():
            for old in BUILD.glob("classes-*"):
                shutil.rmtree(old)
            tmp = out.with_name(out.name + ".tmp")
            tmp.mkdir()
            (BUILD / "tmp").mkdir(exist_ok=True)
            cp = f"{jars}/*"
            # no hsperfdata file and no temp files outside the checkout
            cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
                   "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                   "-nowarn", "-d", str(tmp), "-cp", cp] + [str(f) for f in srcs]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=800)
            if r.returncode != 0:
                shutil.rmtree(tmp)
                sys.exit(f"graftbench: compile failed\n{r.stdout[-4000:]}")
            tmp.rename(out)
            (out / ".done").touch()
    return f"{out}:{jars}/*"


if __name__ == "__main__":
    print(classpath())
