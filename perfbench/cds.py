"""Build a class-data-sharing archive of the Spark driver JVM.

Launching the driver JVM and loading its classes from Spark's jars costs
most of a run's set-up on a small machine. A dynamic CDS archive
(``-XX:ArchiveClassesAtExit``) records every class one run of the
benchmark loads; later JVMs map it with ``-XX:SharedArchiveFile``. The
archive holds JDK, Spark and library classes only — the program under
test is Python — so it stays valid across program changes. Its file name
carries a hash of the JDK release and of Spark's jar list
(:func:`archive_key`), so a different JDK or Spark builds a new one; it
is built once per checkout and key, under ``.perfbench_out/cds/``. The
JVM drops an archive that does not match its classpath without failing,
so every run checks whether its JVM mapped the archive
(:func:`sharing_used`) and says so in its report. JVM start, worker
warm-up and prime figures assume sharing.

    python3 -m perfbench.cds ARCHIVE_PATH

runs one untimed pass of every workload in one JVM with the archive
option and exits once the JVM has written the archive.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys


def java_options(tmp_dir: str, archive: str | None, dump: bool = False) -> str:
    # fixed compiler threads: engine CPU time leaves theirs out (probe.JIT_THREADS)
    opts = [f"-Djava.io.tmpdir={tmp_dir}", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads"]
    if archive and dump:
        opts.append(f"-XX:ArchiveClassesAtExit={archive}")
    elif archive and os.path.exists(archive):
        opts.append(f"-XX:SharedArchiveFile={archive}")
    return " ".join(opts)


def archive_key() -> str:
    """Hash of what the archive's classes come from: the JDK (its
    ``release`` file) and Spark's jars (names and sizes)."""
    from pyspark.find_spark_home import _find_spark_home

    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java")))
    h = hashlib.sha256(java_home.encode())
    release = os.path.join(java_home, "release")
    if os.path.exists(release):
        with open(release, "rb") as fh:
            h.update(fh.read())
    jars = os.path.join(_find_spark_home(), "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"{name}:{os.path.getsize(os.path.join(jars, name))}\n".encode())
    return h.hexdigest()[:16]


def sharing_used(jvm_pid: int, archive: str | None) -> bool:
    """Whether the JVM has the archive mapped, i.e. uses it."""
    if archive is None:
        return False
    path = os.path.realpath(archive)
    with open(f"/proc/{jvm_pid}/maps") as fh:
        return any(line.rstrip().endswith(path) for line in fh)


def ensure_archive(root: str, out_root: str, log) -> str | None:
    """Path of the archive for this JDK and Spark, building it first if
    missing. Returns None (run without sharing) if the build fails."""
    archive = os.path.join(out_root, "cds", f"spark-{archive_key()}.jsa")
    if os.path.exists(archive):
        return archive
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    partial = archive + ".partial"
    log("building the JVM class-sharing archive (once per checkout)")
    with open(archive + ".log", "w") as out:
        try:
            code = subprocess.run(
                [sys.executable, "-m", "perfbench.cds", partial],
                cwd=root, stdout=out, stderr=subprocess.STDOUT, timeout=600, check=False,
            ).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(partial):
        log(f"class-sharing archive build failed ({code}); running without it")
        return None
    os.replace(partial, archive)
    return archive


def main(archive: str) -> int:
    from perfbench.run import ROOT, prepare_env, spark_conf, stop_spark, warm_workers
    from perfbench.probe import Tracer, jvm_pid
    from perfbench.workloads import WORKLOADS, Ctx, build

    run_dir = os.path.join(ROOT, ".perfbench_out", f"cds-build-{os.getpid()}")
    prepare_env(run_dir)
    from kinesis_vcr_spark.session import get_spark

    conf = spark_conf(run_dir, traced=True)
    conf["spark.driver.extraJavaOptions"] = java_options(
        os.path.join(run_dir, "tmp"), archive, dump=True)
    spark = get_spark("perfbench-cds", extra_conf=conf)
    try:
        warm_workers(spark)
        ctx = Ctx(spark, Tracer(True), True, os.path.join(run_dir, "work"),
                  os.path.join(run_dir, "cache"), jvm_pid(spark.sparkContext))
        os.makedirs(ctx.cache, exist_ok=True)
        for name in WORKLOADS:
            wl = build(name)
            wl.make_inputs(0, os.path.join(run_dir, "inputs", name))
            wl.run_pass(ctx, f"cds-{name}", full_check=False, prime=True)
    finally:
        stop_spark(spark)  # the JVM writes the archive as it exits
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
