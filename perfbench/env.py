"""Launch settings for the benchmark, applied before Spark starts.

Everything here only sets environment variables of the benchmark's own
process (inherited by the driver JVM and its Python workers); nothing
in the package changes.

- ``PYTHONPATH`` gains the checkout root, so Python workers can import
  the package whatever the working directory.
- ``SPARK_GRAFT_CPUS`` is the number of CPUs this process may use.
- ``SPARK_GRAFT_DRIVER_MEM`` stays well below host RAM (the package
  default is 48g).
- ``MALLOC_ARENA_MAX`` caps glibc's per-thread malloc arenas in the
  driver JVM, as Hadoop/YARN containers do, so the JVM's native
  footprint (part of ``peak_rss_mb``) depends less on which of its
  many threads happened to allocate.
- Scratch files (Spark local dirs, Python temp files, the JVM temp
  dir) go under ``<checkout>/.bench_tmp``, and the JVMs keep no
  ``hsperfdata`` file, so a run writes only inside its checkout.
  Queries that round-trip through files also write under
  ``<checkout>/.tmp_io``; two benchmark processes must therefore not
  share one checkout.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "loan_default_prediction_app_big_data_spark"
SCRATCH = os.path.join(ROOT, ".bench_tmp")

#: glibc malloc arenas for the driver JVM and this process.
MALLOC_ARENAS = 2
#: Cap on the driver heap. The generated tables are a few MB; a small
#: heap also keeps the JVM's resident peak, a reported metric, from
#: wandering with how far the heap happened to grow.
DRIVER_MEM_CAP_MB = 2048


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal not found in /proc/meminfo")


def configure() -> dict:
    """Set the launch environment; returns what was set, for the run record."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"perfbench: package {PACKAGE!r} not found under {ROOT}")
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(DRIVER_MEM_CAP_MB, host_mem_mb() // 3)
    tmp = os.path.join(SCRATCH, "tmp")
    local = os.path.join(SCRATCH, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(dict.fromkeys(paths)),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        MALLOC_ARENA_MAX=str(MALLOC_ARENAS),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # No /tmp/hsperfdata_* file from the spark-submit launcher JVM.
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp
    return {
        "pythonpath_root": ROOT,
        "spark_graft_cpus": cpus,
        "spark_graft_driver_mem": f"{mem_mb}m",
        "malloc_arena_max": MALLOC_ARENAS,
        "host_mem_mb": host_mem_mb(),
    }


def jvm_conf() -> dict[str, str]:
    """Driver JVM options that keep its files inside the checkout."""
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"}
