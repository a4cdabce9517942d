"""SparkSession factory tuned for the extraction pipeline.

Local-mode defaults match the sandbox (single JVM, N threads); on a real
cluster the same settings apply per executor via spark-submit --py-files.
"""

from __future__ import annotations

import os
import sys


def get_spark(cpus: int | None = None, app: str = "parse_html_spark"):
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches sized for documents (large strings): keep batches
        # small enough that a batch of mega-docs fits comfortably in the
        # Python worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "64m")
    )
    # Shuffle spill/exchange files on this VM's virtual disk serialize
    # badly under 32 concurrent writers (measured 3x extract slowdown);
    # a RAM-backed local dir restores scaling. On a real cluster this is
    # the node's NVMe scratch (spark.local.dir default on YARN/K8s).
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)
    return spark


def ensure_py_files(spark) -> None:
    """Ship the parse_html_spark package to executors (the --py-files
    story): zips the package once per process and addPyFile's it once per
    SparkContext, so mapInPandas closures can import it on any worker
    regardless of the driver's PYTHONPATH."""
    import tempfile
    import zipfile

    sc = spark.sparkContext
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"parse_html_spark_{os.getpid()}.zip"
    )
    # the context's own include list, not a registry of id()s: a context
    # created after stop() may reuse a freed id but starts with no includes
    if os.path.basename(zip_path) in sc._python_includes:
        return
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)


def stat_gate_zip_invalidation() -> None:
    """Re-read a zip archive's directory on ``importlib.invalidate_caches()``
    only when the archive's (mtime, size, inode) changed since it was
    last read, and then once per archive rather than once per importer.

    PySpark's worker calls ``invalidate_caches()`` for every task
    (``worker_util.setup_spark_files``). Before Python 3.12 each
    ``zipimporter`` then eagerly re-reads its whole archive directory, and
    a worker holds ~17 importers of pyspark.zip (~1300 entries): about
    0.4 s per task of a 4-core local run, spent before any data moves.
    A changed archive is still re-read, so new modules in it still
    import. Python 3.12+ invalidates lazily; there this is a no-op.
    Idempotent; installed by importing the package, so every worker that
    unpickles a package closure gets it."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_gated", False):
        return
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a write racing the read leaves an old
        # stamp, which only costs one more read next time; a failed read
        # leaves no cache entry, so the next call reads again
        reread(self)
        if stamp is not None:
            stamps[self.archive] = stamp

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
