"""SparkSession factory with scale-oriented defaults.

Tuned for the extraction workload (SURVEY.md §4): Python-worker CPU is the
cost center, the only required exchange is the explicit salted repartition,
so we want AQE on (shuffle coalescing + skew split for the relational tier),
Arrow batches sized so one batch of HTML fits worker memory, and parquet
scans that split well.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_local_dir() -> str:
    """Shuffle scratch dir: /dev/shm when present AND comfortably sized
    (≥8 GiB free — hosts with a small tmpfs would fail mid-shuffle where
    disk-backed /tmp worked), else the system tmp.  SPARK_GRAFT_LOCAL_DIR
    always wins."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 8 << 30:
            return "/dev/shm/spark-local"
    except OSError:
        pass
    import tempfile

    return os.path.join(tempfile.gettempdir(), "spark-local")


def get_spark(
    app_name: str = "dhtmlparser3-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Every JVM→Python Arrow batch is DOUBLE-bounded: 8192 records or
    ``functions.extract._WORKER_BATCH_BYTES`` (1 MiB), whichever is hit
    first.  The byte bound is the one that matters on web corpora —
    single Common-Crawl pages reach tens of MB, and 8192 such rows would
    be a multi-GB batch in one Python worker (SURVEY §4.2: size batches so
    one batch of html fits worker memory).  It is the same constant that
    bounds the worker's slices and the spark-submit job's input batches,
    so one module owns it.  Spark cuts AFTER crossing the bound, so a
    batch can overshoot by at most one row — the irreducible unit."""
    from dhtmlparser3_spark.functions.extract import _WORKER_BATCH_BYTES

    # make the package importable in the PYTHON WORKERS regardless of the
    # caller's cwd: local-mode workers inherit PYTHONPATH from the driver
    # env, not the driver's sys.path, so a driver started outside the
    # checkout (``python3 <checkout>/__spark_entry__.py`` or any script
    # importing the package from elsewhere) would fail UDF
    # deserialization with ModuleNotFoundError.  On a real cluster this is
    # spark-submit --py-files' job (jobs/extract_job_main.py docstring);
    # guarded so a zip-packaged install is untouched.
    pkg_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    if os.path.isdir(os.path.join(pkg_root, "dhtmlparser3_spark")):
        pp = os.environ.get("PYTHONPATH", "")
        if pkg_root not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + (os.pathsep + pp if pp else "")
            )
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2 partitions per core keeps the UDF stage saturated without
        # per-task overhead dominating at sandbox scale; a real cluster run
        # sets this to 2-3x total executor cores.
        shuffle_partitions = max(2 * cpus, 8)

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch", str(_WORKER_BATCH_BYTES)
        )
        # feed buffer between the JVM writer thread and the python worker:
        # one Arrow batch of html is up to ~1 MiB, the 64KB default forces
        # a dozen blocking roundtrips per batch (measured ~6-15% of
        # UDF-stage wall when batches were ~3 MB)
        .config("spark.sql.execution.pandas.udf.buffer.size", "4194304")
        # html docs are big strings; keep scan partitions modest so the
        # python workers get balanced slices
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # shuffle/spill scratch on tmpfs: this sandbox's /tmp sits on a
        # shared virtual disk whose throughput swings wildly between VM
        # windows, and the salted-repartition shuffle pays that variance
        # twice (write+read).  A real cluster provisions local SSD for
        # exactly this reason; /dev/shm is the single-box equivalent.  Our
        # shuffles are ≤2 GB so RAM-disk residency is safe; override with
        # SPARK_GRAFT_LOCAL_DIR for disk-backed runs.
        .config("spark.local.dir", _default_local_dir())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
