"""SparkSession factory with scale-appropriate defaults.

Local-mode knobs mirror what we would set cluster-side via
``spark-submit --conf``: AQE on (runtime coalesce + skew-join),
shuffle partitions sized to cores (not the 200 default), Arrow
enabled for every pandas-UDF boundary, UTC session TZ so results
compare bit-for-bit against the DuckDB oracle.

Spark also puts zip archives on every Python worker's path (its own
jar, ``pyspark.zip`` and the shipped package zip); the package's
``__init__`` keeps each task from re-reading their directories.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the in-process mirror of
    ``spark-submit --py-files engine.zip``, which the real-cluster
    deployment uses). Without it, Python workers whose cwd differs
    from the repo root cannot unpickle our pandas UDFs. The zip is
    named by a hash of the shipped files, so a zip left in the temp
    dir by another checkout or an older version is never shipped."""
    import hashlib
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    # .json: committed model artifacts (e.g. the BPE merge table) read
    # on executors via importlib.resources
    files = [(str(Path(pkg_dir.name) / p.relative_to(pkg_dir)), p.read_bytes())
             for pat in ("*.py", "*.json") for p in sorted(pkg_dir.rglob(pat))]
    h = hashlib.sha256()
    for arc, data in files:
        h.update(b"%d:%s%d:" % (len(arc), arc.encode(), len(data)) + data)
    zpath = Path(tempfile.gettempdir()) / f"logsentinelai_spark_{h.hexdigest()[:16]}.zip"
    if not zpath.exists():
        part = zpath.with_suffix(f".{os.getpid()}.part")
        with zipfile.ZipFile(part, "w") as z:
            for arc, data in files:
                z.writestr(arc, data)
        os.replace(part, zpath)
    spark.sparkContext.addPyFile(str(zpath))


def get_spark(
    app_name: str = "logsentinelai_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cpus]`` — e.g.
    ``local-cluster[4,4,8192]`` spawns 4 separate 4-core executor JVMs
    on this box (Spark standalone's single-host cluster mode), the
    faithful emulation of a 4-executor deployment: per-executor heaps,
    GC, shuffle and Python workers, instead of one shared JVM. ``cpus``
    then still sizes shuffle partitions."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Our post-shuffle stages run CPU-heavy Python (posting merge)
        # on COMPRESSED bytes, so AQE's bytes-based coalescing to its
        # 1 MB default min starves them of parallelism; keep partitions
        # fine-grained and let parallelismFirst target the core count.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16kb")
        # finer input splits than the 128 MB default: our scans feed
        # CPU-heavy Python stages, so task granularity should track
        # cores, not bytes; 16 MB keeps every level busy and bounds
        # stragglers when task count ~ slot count
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
