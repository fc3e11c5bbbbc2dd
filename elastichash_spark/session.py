"""SparkSession bootstrap tuned for this engine.

Local mode here stands in for a multi-executor cluster: every knob is chosen so
the same code runs unchanged on a 1000-executor cluster (AQE on, shuffle
partitions sized explicitly, Arrow on for the pandas/Arrow UDF data path).
"""

from __future__ import annotations

import hashlib
import io
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def disable_thp() -> None:
    """Disable transparent huge pages for this process and its children
    (prctl PR_SET_THP_DISABLE, inherited across fork/exec).

    The Arrow kernels allocate and free hundreds of MB of short-lived
    buffers per task; with THP in madvise mode the resulting huge-page
    compaction serializes in the kernel (observed ~78% system CPU across 32
    workers) and caps the build at ~8-core throughput regardless of
    parallelism. Disabling THP for the Spark process tree removed a 2-3x
    slowdown on the posting-merge stage in this environment. Called from
    ``get_spark`` (covers local mode: the JVM is our child) and from each
    Arrow kernel (covers cluster mode, where workers fork from the executor
    daemon, not from this driver)."""
    try:
        import ctypes

        ctypes.CDLL("libc.so.6", use_errno=True).prctl(41, 1, 0, 0, 0)
    except Exception:
        pass  # non-Linux / restricted environments: best-effort


def _package_zip_bytes(pkg_dir: str, pkg_name: str) -> bytes:
    """Byte-identical zip of the package's .py files: sorted entry order and
    a fixed timestamp, so equal source trees always hash to the same file
    name regardless of checkout mtimes or walk order."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        entries = []
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    entries.append((os.path.join(pkg_name, os.path.relpath(full, pkg_dir)), full))
        for rel, full in sorted(entries):
            info = zipfile.ZipInfo(rel, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            with open(full, "rb") as f:
                z.writestr(info, f.read())
    return buf.getvalue()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the --py-files path).

    A user launching via ``spark-submit --py-files elastichash_spark.zip``
    gets this for free; for ad-hoc sessions (tests, notebooks) we zip the
    package and addPyFile it so Arrow UDFs can unpickle on any worker
    regardless of the driver's cwd.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    # Deterministic zip bytes hashed into the filename: concurrent driver
    # processes on the same code converge on ONE identical file (no
    # executor-fetch content-mismatch races on a shared /tmp), while a code
    # edit lands at a NEW path instead of mutating a zip an older live
    # session already registered via addPyFile.
    data = _package_zip_bytes(pkg_dir, pkg_name)
    tag = hashlib.sha256(data).hexdigest()[:12]
    zpath = os.path.join(tempfile.gettempdir(), f"{pkg_name}_shipped_{tag}.zip")
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.part"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, zpath)  # atomic: readers never see a half-written zip
    spark.sparkContext.addPyFile(zpath)


def _default_driver_mem() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: 24g, capped at 60% of
    the host's physical memory so a small host never gets a heap larger
    than its RAM."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf: keep 24g
        return "24g"
    return f"{min(24 << 10, int(phys * 0.6) >> 20)}m"


def get_spark(
    app_name: str = "elastichash_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); on a real cluster
    the master URL comes from spark-submit and this argument is ignored by
    Spark. ``shuffle_partitions`` defaults to 2x cores locally — on a cluster
    it should be sized to ~2-3x total executor cores.
    """
    disable_thp()
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # batch-throughput JVM: ParallelGC beat G1 ~1.4x on the write-heavy
        # stages (G1's concurrent cycles fight the task threads for cores),
        # and an ample heap keeps the allocation-rate-scales-with-cores GC
        # pressure off the scaling curve (capped by the host's RAM)
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        # 32 MiB scan splits: local-mode inputs are ~GBs, and 128 MiB splits
        # leave whole task waves idle at the tail (5 splits over 8 cores);
        # on a real cluster with TB-scale inputs raise this back to 128 MiB+
        .config("spark.sql.files.maxPartitionBytes", "33554432")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
