"""Run one workload of the gaze-engine benchmark.

    python3 gazebench/run.py --workload fleet_qc --seed 1 --seconds 10 --trace 0
    python3 gazebench/run.py --selftest

Builds on first use (see build.py), then runs the benchmark in one JVM.
The last line of standard output is the result object; the lines before
it carry the full record (provenance, failures, every metric with its
unit). Everything the run writes stays under .bench_build/gazebench.
"""

import argparse
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

# Spark on JDK 17 needs these when the session starts outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
WORKLOADS = ["fleet_qc", "vedb_sessions", "gaze_stream", "video_detect"]
# A fixed heap and a fixed young generation: each pass ends with a full
# collection, which would otherwise shrink a growable heap, and G1's
# pause-time sizing of the young generation follows the host's speed, so
# how often young collections run (and so the post-GC heap peak) would too.
HEAP = "2g"
YOUNG = "512m"


def commit():
    """The git commit of the checkout, or "none" when it is not a git work
    tree (git is not asked, so it cannot report an enclosing repository)."""
    if not (build.ROOT / ".git").exists():
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true",
                   help="tiny run of every workload plus verifier rejection checks")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    out = build.ROOT / ".bench_build" / "gazebench"
    out.mkdir(parents=True, exist_ok=True)
    classpath, stamp = build.build(out)
    tmp = out / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    # -UsePerfData: the JVM would otherwise write to the system temp dir
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
           "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dgazebench.out={out}",
           f"-Dgazebench.source={stamp}", f"-Dgazebench.commit={commit()}",
           "-Dspark.ui.enabled=false"]
    cmd += [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    cmd += ["-cp", classpath]
    if a.selftest:
        cmd += ["gazebench.SelfTest", str(build.ROOT / "BENCHMARK.json")]
    else:
        cmd += ["gazebench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    # SIGTERM becomes SystemExit, so subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        r = subprocess.run(cmd, cwd=build.ROOT, env=env)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
