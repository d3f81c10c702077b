"""Build file of the gaze-engine benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark
sources (gazebench/src) into one class directory with the Scala compiler
that ships in Spark's jar directory, so no dependency resolution runs.
The class directory is keyed by a digest of every source file, so a
checkout builds once and later runs reuse it.
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "gazebench" / "src"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("gazebench: set SPARK_HOME or put spark-submit on PATH")
        home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = sorted(pathlib.Path(home, "jars").glob("*.jar"))
    if not jars:
        sys.exit(f"gazebench: no jars under {home}/jars")
    return [str(j) for j in jars]


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home, "bin", "java")) if home else "java"


def sources():
    engine = sorted(ENGINE_SRC.rglob("*.scala"))
    if not engine:
        sys.exit(f"gazebench: no engine sources under {ENGINE_SRC}")
    return engine + sorted(BENCH_SRC.rglob("*.scala"))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(out):
    """Compile if needed; return (runtime classpath, source digest)."""
    srcs = sources()
    res = sorted(p for p in ENGINE_RES.rglob("*") if p.is_file())
    stamp = digest(srcs + res)
    classes = out / f"classes-{stamp}"
    jars = spark_jars()
    if not (classes / ".ok").exists():
        for old in out.glob("classes-*"):
            shutil.rmtree(old)
        classes.mkdir(parents=True)
        argfile = out / "scalac-args.txt"
        argfile.write_text("\n".join(
            ["-nowarn", "-classpath", os.pathsep.join(jars), "-d", str(classes)]
            + [str(s) for s in srcs]) + "\n")
        print(f"gazebench: compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                            "-cp", os.pathsep.join(jars),
                            "scala.tools.nsc.Main", f"@{argfile}"])
        if r.returncode != 0:
            sys.exit("gazebench: compilation failed")
        (classes / ".ok").touch()
    return os.pathsep.join([str(classes), str(ENGINE_RES)] + jars), stamp


if __name__ == "__main__":
    print(build(ROOT / ".bench_build" / "gazebench")[0])
