"""Build file of the benchmark: compiles the program (src/main/scala and
its resources) together with the benchmark harness (perfbench/src) into
perfbench/.build/<hash>/classes with the Scala compiler that ships in
the Spark jars, so a checkout needs no sbt and no network.

The build is skipped when a build of the same sources exists.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SCALA = "2.13.17"


def _spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    one whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and any(Path(home, "jars").glob("spark-core_*.jar")):
            return Path(home, "jars")
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def _sources():
    srcs = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    srcs += sorted((BENCH / "src").rglob("*.scala"))
    res = sorted(p for p in (ROOT / "src/main/resources").rglob("*") if p.is_file())
    return srcs, res


def build():
    """Return the runtime classpath (a list of paths), building if needed."""
    srcs, res = _sources()
    if not srcs or not (ROOT / "src/main/scala").is_dir():
        raise SystemExit("perfbench: program sources (src/main/scala) not found")
    spark_jars = _spark_jars()
    jars = sorted(spark_jars.glob("*.jar"))
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    stamp = h.hexdigest()[:16]
    build_dir = BENCH / ".build"
    out = build_dir / stamp / "classes"
    cp = [str(out)] + [str(j) for j in jars]
    if (build_dir / stamp / "ok").exists():
        return cp
    if build_dir.exists():
        shutil.rmtree(build_dir)
    out.mkdir(parents=True)
    argfile = build_dir / stamp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    compiler = [str(spark_jars / f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", os.pathsep.join(str(j) for j in jars), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    base = ROOT / "src/main/resources"
    for p in res:
        dst = out / p.relative_to(base)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (build_dir / stamp / "ok").write_text("ok\n")
    return cp

