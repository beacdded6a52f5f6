"""SparkSession bootstrap tuned for the driver harness.

Local mode is ``local[$SPARK_GRAFT_CPUS]`` (single JVM); on a real cluster the
same conf applies minus ``master``/driver-memory. Shuffle partitions default to
the core count — at 100 TB you would raise ``spark.sql.shuffle.partitions``
(or let AQE coalesce) to keep post-shuffle partitions in the 128–512 MB range.

Importing this module also makes zip-archive cache resets lazy
(:func:`_install_lazy_zip_invalidate`). PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and on CPython
3.10–3.12 ``zipimporter.invalidate_caches()`` re-reads the whole central
directory of its archive each time: on a Spark worker that is one importer
per imported subpackage of ``pyspark.zip`` (1,328 entries in pyspark 4.1.2),
the py4j zip and the spark-core jar (5,359 entries) that Spark puts on the
worker's ``PYTHONPATH``: about 27k directory entries decoded, measured at
130–450 ms per Arrow-kernel task on a 4-vCPU host under CPython 3.11. The
lazy reset re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since that importer last read it, or when ``stat`` fails, so a
rewritten archive is still picked up. CPython 3.13 made the reset lazy
itself and is left alone. It runs at import because every
worker that unpickles a ``vers_spark`` kernel imports ``vers_spark`` (and so
this module) before the kernel runs; PySpark reuses workers, so each worker
installs it once and every later task skips the re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Spark's Python workers inherit PYTHONPATH from the driver's ENV, not its
# sys.path — without this, any pandas-UDF closure referencing vers_spark by
# module dies with ModuleNotFoundError when the process launched from a cwd
# outside the repo root. Done at import time, before any worker daemon spawns.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _PKG_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _PKG_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def _install_lazy_zip_invalidate() -> None:
    """Replace ``zipimport.zipimporter.invalidate_caches`` (CPython < 3.13)
    with one that skips the directory re-read while the archive's
    ``(st_mtime_ns, st_size)`` matches what this importer last read. The
    stamp is taken before the read, so a write racing the read shows up as
    a changed stamp next time. Installing twice does nothing."""
    if sys.version_info >= (3, 13):
        return
    eager = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if eager is None or getattr(eager, "_lazy", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except (OSError, ValueError):
            stamp = None
        if stamp is not None and self.__dict__.get("_read_stamp") == stamp:
            return
        eager(self)
        self._read_stamp = stamp

    invalidate_caches._lazy = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_lazy_zip_invalidate()

# JIT flags for the single-JVM local harness. Whole-stage codegen emits very
# large methods (expression-heavy stages: 16 minhash aggs, 32 simhash votes);
# HotSpot refuses to JIT methods over 8000 bytecodes (DontCompileHugeMethods)
# and the default 240 MB code cache fills after a few dozen distinct query
# plans — both leave generated code running INTERPRETED, which measured 10-20x
# slower per task (CPU-time-bound, zero GC) and got worse the longer the
# session ran. TieredStopAtLevel=1 caps at C1: with 32-way partitions each
# task sees only thousands of rows, below C2/OSR thresholds, so one-shot
# queries would otherwise run whole tasks interpreted (measured 2-6x swings
# per query); C1 compiles near-immediately and its ~30% steady-state penalty
# never amortizes on cold single-pass queries. On a real cluster with
# long-lived executors and billions of rows per task, drop TieredStopAtLevel
# (C2 pays off there) but keep the code-cache and huge-method flags in
# spark.executor.extraJavaOptions.
_JIT_FLAGS = (
    "-XX:ReservedCodeCacheSize=1g -XX:-DontCompileHugeMethods -XX:TieredStopAtLevel=1"
)


# The driver heap of the local harness when SPARK_GRAFT_DRIVER_MEM is unset:
# the large-scale (1M×300, T=16) builds need 48g, but a fixed 48g cap on a
# smaller host lets G1 grow the single JVM past physical memory and the
# kernel OOM-kills it mid-run. Half of the host's memory leaves room for the
# Python workers and the page cache; hosts with 96 GB or more keep 48g.
_MAX_DRIVER_MEM_MB = 48 * 1024


def _driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: SPARK_GRAFT_DRIVER_MEM when set, else
    min(48g, half of ``MemTotal``); 48g when ``meminfo`` cannot be read."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as fh:
            total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{_MAX_DRIVER_MEM_MB}m"
    return f"{min(_MAX_DRIVER_MEM_MB, total_kb // 2048)}m"


def _jvm_alive() -> bool | None:
    """True if any OTHER process looks like a JVM (java argv[0] or an
    org.apache.spark class anywhere on the command line — catches renamed
    JDK wrapper binaries, ADVICE r9); None when /proc can't be read (the
    caller treats that as alive). argv[0]-only for the 'java' marker so a
    python process whose script path merely contains 'spark' (this repo)
    doesn't permanently suppress the sweep."""
    me = os.getpid()
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit() and int(p) != me]
    except OSError:
        return None
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue  # raced exit / unreadable — not attributable
        if not cmd:
            continue
        argv0 = os.path.basename(cmd.split(b"\x00", 1)[0]).lower()
        if b"java" in argv0 or b"org.apache.spark" in cmd:
            return True
    return False


def _local_dirs() -> str:
    """Shuffle/spill dirs: prefer tmpfs (/dev/shm) in the local harness — the
    backing disk here is slow and shared, and shuffle blocks are small; on a
    real cluster spark.local.dir is provisioned NVMe and this is a no-op.

    A KILLED JVM (OOM killer, SIGKILL) never runs its shutdown hooks, so its
    blockmgr-*/spark-* spill survives on tmpfs — one dead 1M-scale run left
    72 GB behind. When no other JVM is alive on the box, a starting session
    sweeps leftovers OLDER THAN 10 MINUTES (a live concurrent JVM suppresses
    the sweep — its spill dirs carry no pid to attribute — and the age floor
    closes the scan-then-delete race against a JVM launched in between).
    Liveness scans /proc cmdlines for a java argv[0] OR an
    org.apache.spark marker anywhere in argv (ADVICE r9: a Spark JVM under
    a renamed launcher binary still carries SparkSubmit/executor classes on
    its command line); any scan failure counts as alive → never delete."""
    shm = "/dev/shm/spark-local"
    if os.path.isdir("/dev/shm"):
        if os.path.isdir(shm):
            import shutil
            import time

            alive = _jvm_alive()
            if alive is None:
                alive = True  # can't tell → never delete
            if not alive:
                cutoff = time.time() - 600
                for d in os.listdir(shm):
                    p = os.path.join(shm, d)
                    try:
                        if os.path.getmtime(p) < cutoff:
                            shutil.rmtree(p, ignore_errors=True)
                    except OSError:
                        pass
        return shm
    return os.environ.get("SPARK_LOCAL_DIRS", "/tmp")


def get_spark(
    app_name: str = "vers_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    AQE is on: runtime partition coalescing and skew-join splitting are the
    scale story for the shuffle-heavy operators (exact KNN re-rank, minhash
    band join). Arrow is on for the pandas-UDF vector kernels.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes partitions by BYTES; hash/regex-heavy stages are tiny in
        # bytes but expensive per row, and the 1 MB default min collapses them
        # to 1-2 partitions. 64k keeps small CPU-bound shuffles parallel while
        # changing nothing at real data sizes.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.driver.extraJavaOptions", _JIT_FLAGS)
        .config("spark.local.dir", _local_dirs())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert in the scan layer (sources.tables) — DuckDB truncates the
        # same way (its TIMESTAMP is microseconds).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 (the legacy default) stores timestamps WITHOUT min/max
        # footer stats — no file/row-group pruning on time predicates and
        # 12 bytes/value; INT64 micros restores both. Read side accepts
        # either, so this only affects what we write.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
