"""SparkSession factory tuned for this engine.

Local mode mirrors the knobs we would set on a real cluster:
AQE (incl. skew-join splitting), Arrow for pandas UDFs, shuffle
partitions ~ cores, UTC timestamps (DuckDB oracle comparison), and a
codegen class cache sized to the engine's working set.

The codegen cache size (``spark.sql.codegen.cache.maxEntries``) is a
static conf: it takes effect only when a fresh JVM first generates
code. A session re-created on a JVM that has already compiled a query
keeps that JVM's cache, whatever the new builder says.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ontology-matcher-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the
    sandbox). On a real cluster you'd spark-submit with --py-files and
    leave master unset; every conf here is cluster-safe.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    # shuffle partitions ~ parallelism: avoids 200-partition default that
    # over-parallelizes local runs and under-parallelizes big clusters.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 2 * int(n) if n.isdigit() else 64

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Spark's codegen class cache (an LRU, default 100 classes) is
        # smaller than this engine's working set. Measured with
        # tools/codegen_probe.py (4-vCPU VM): run_pipeline Gene+Disease
        # generates 130 distinct classes (590 KB of bytecode) at
        # kgbench large_ontology scale, routed through the type table;
        # the probe's five pipeline shapes were 323-325 (2.5 MB) at
        # fixture scale with the earlier per-label code. At 100 each warm
        # Gene+Disease run Janino-recompiled 76-77 classes and the
        # probe's repeat pass 576, which the C2 JIT threads then
        # re-compiled too; at 1000 (~3x the working set) a warm run
        # compiles 0-4, and metaspace after the same passes is within
        # 1 MB of the default's (172-173 MB).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # zstd parquet: smaller stage/artifact writes for a bit more
        # CPU — an interleaved same-session A/B on the checkpointed
        # pipeline measured zstd consistently ~5% faster end-to-end
        # here (fewer fresh tmpfs pages, this sandbox's write wall);
        # also the standard recommendation for cluster storage
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # free diagnostics: a crashed Python worker dumps a faulthandler
        # traceback instead of the opaque "exited unexpectedly" (round-4
        # driver bench died with exactly that spew and no root cause)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # shuffle/checkpoint scratch on tmpfs: the sandbox's /tmp disk
        # writes at ~128 MB/s, which caps multi-core scaling — 32
        # concurrent shuffle writers saturate it (a real cluster pairs
        # executors with local NVMe; tmpfs is the sandbox analog)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # any multi-JVM master (local-cluster, spark://, yarn) runs Python
    # workers that don't share the driver's sys.path — ship the package
    if not master.startswith("local["):
        ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> str:
    """Ship ontology_matcher_spark to executors — the programmatic
    analog of `spark-submit --py-files pkg.zip` (the north rule's
    deployment contract). Local[] mode shares the driver's sys.path;
    separate executor JVMs (local-cluster / standalone / yarn) need
    the package on every worker's PYTHONPATH."""
    import atexit
    import tempfile
    import zipfile

    import ontology_matcher_spark

    pkg_dir = os.path.dirname(os.path.abspath(ontology_matcher_spark.__file__))
    # unique 0600 temp file, not a fixed world-shared path: concurrent
    # sessions must not race on one zip, and on a multi-user host a
    # predictable name could be swapped between write and addPyFile
    fd, zip_path = tempfile.mkstemp(
        prefix="ontology_matcher_spark_pyfiles_", suffix=".zip"
    )
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    # addPyFile copies the zip into Spark's own file-server dir, so the
    # mkstemp source is dead weight from here on — without cleanup a
    # long-lived host accumulates one orphaned multi-MB zip per session
    atexit.register(_unlink_quiet, zip_path)
    return zip_path


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


def stop_all() -> None:
    """Tear down the active session (bench uses this between masters)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark keeps a JVM-side default session; clear so a new master takes.
    SparkSession.builder._options = {}
