#!/usr/bin/env python3
"""Build the engine plus the benchmark from source, then run one workload.

Usage (from the repository root):
    python3 graftbench/run.py --workload chunk_store --seed 1 --seconds 12 --trace 0

The engine sources (src/main/scala) and the benchmark sources
(graftbench/src/main/scala) are compiled once with the Scala compiler that
ships in Spark's jar directory; later runs reuse the classes while the
source digest is unchanged. The workload itself runs in one JVM
(graftbench.Main), which prints the result JSON as its last stdout line.
Everything the run writes stays inside the repository checkout.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("chunk_store", "file_scan")
# whole-run ceilings: a run ends within 180 s, or 900 s when it builds first
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        fail("no Spark jars found (set SPARK_HOME)")
    return jars


def scala_files(d):
    files = []
    for dirpath, _, names in os.walk(d):
        files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files, extra):
    h = hashlib.sha256("\n".join(extra).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_unit(name, src_dir, out_root, classpath, depends=""):
    """Compile the .scala files under src_dir into out_root/<name> unless the
    stamp (source digest + classpath + the stamp of what it depends on) is
    unchanged. Returns the class dir and its stamp."""
    if not os.path.isdir(src_dir):
        fail(f"sources missing: {src_dir}")
    files = scala_files(src_dir)
    stamp = digest(files, classpath + [depends])
    classes = os.path.join(out_root, name)
    stamp_file = classes + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = classes + ".args"
    with open(args_file, "w") as fh:
        fh.write("-nowarn\n-d\n" + classes + "\n-classpath\n" + os.pathsep.join(classpath) + "\n")
        fh.write("\n".join(files) + "\n")
    print(f"graftbench: compiling {len(files)} {name} sources", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(classpath),
           "scala.tools.nsc.Main", "@" + args_file]
    rc = run_child(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0:
        fail(f"compiling {name} failed (exit {rc})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, stamp


def build(out_root, jars):
    """Engine classes first, then the benchmark against them."""
    engine, engine_stamp = compile_unit(
        "engine", os.path.join(ROOT, "src", "main", "scala"), out_root, jars)
    bench, _ = compile_unit(
        "bench", os.path.join(HERE, "src", "main", "scala"), out_root,
        [engine] + jars, engine_stamp)
    return [bench, engine]


def heap_mb():
    """A quarter of physical memory, clamped to [1 GiB, 3 GiB]: the inputs
    are ~100 MB raw, and the machine is shared with other processes."""
    total_kb = 4 << 20
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(1024, min(3072, total_kb // 4 // 1024))


def run_child(cmd, timeout_s, stdout=None, env=None):
    proc = subprocess.Popen(cmd, stdout=stdout, env=env, start_new_session=True)

    def stop(*_):
        kill_group(proc)
        sys.exit(3)

    old = signal.signal(signal.SIGTERM, stop)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"graftbench: timed out after {timeout_s}s", file=sys.stderr)
        kill_group(proc)
        return 124
    except KeyboardInterrupt:
        kill_group(proc)
        raise
    finally:
        signal.signal(signal.SIGTERM, old)


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")

    jars = spark_jars()
    out_root = os.path.join(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"),
                            "graftbench")
    out_root = os.path.join(ROOT, out_root) if not os.path.isabs(out_root) else out_root
    os.makedirs(out_root, exist_ok=True)
    classes = build(out_root, jars)

    work = os.path.join(out_root, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap = heap_mb()
    cp = os.pathsep.join(classes + [os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(HERE, "src", "main", "resources")] + jars)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    cmd = ["java", "-XX:-UsePerfData", *opens, f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch",
           "-XX:+UseG1GC", "-XX:G1HeapRegionSize=32m",
           f"-Djava.io.tmpdir={tmp}", f"-Dorg.xerial.snappy.tempdir={tmp}",
           "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    rc = run_child(cmd, RUN_TIMEOUT_S, env=env)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
