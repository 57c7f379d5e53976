"""SparkSession factory with scale-appropriate defaults.

Local-mode knobs mirror what we would set cluster-side via
``spark-submit --conf``: AQE on (runtime coalesce + skew-join),
shuffle partitions sized to cores (not the 200 default), Arrow
enabled for every pandas-UDF boundary, UTC session TZ so results
compare bit-for-bit against the DuckDB oracle.

Spark also puts zip archives on every Python worker's path (its own
jar, ``pyspark.zip`` and the shipped package zip); the package's
``__init__`` keeps each task from re-reading their directories.

On a master whose executors all run on this host (``local`` and
``local-cluster``), every JVM <-> Python-worker channel (task input
and output, the driver's accumulator server, local-data transfers)
runs on a Unix domain socket, not loopback TCP. Over TCP each Python
task waited ~40 ms for its input: the JVM's second small write sat
behind Nagle's algorithm until the worker's delayed ACK fired, and
Spark offers no TCP_NODELAY for that socket. The socket files live in
:func:`work_dir`, a short directory owned by this process and removed
at interpreter exit, together with the shipped package zip. It must be
short: Linux caps a socket path at 107 bytes and Spark appends
``/.<uuid4>.sock`` (43 characters), so a temp dir nested in a long
checkout path (perfbench sets ``TMPDIR`` under its work dir) would
make every worker fail to bind; such a temp dir falls back to
``/tmp``. Other masters keep Spark's TCP default: executor hosts have
neither the driver's directory nor, in general, a temp dir short
enough for a socket path (YARN container dirs often are not).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Linux sockaddr_un.sun_path holds 108 bytes, NUL included.
SOCKET_PATH_MAX = 107
# What Spark (and pyspark's daemon) append to the socket dir.
SOCKET_NAME_LEN = len("/.00000000-0000-0000-0000-000000000000.sock")

# The work dir belongs to the process (its sockets serve every session
# the process starts), so it is process state, not session state.
_work_dir: str | None = None


def _make_work_dir() -> str:
    """A fresh ``lsai-*`` dir in the temp dir, or in ``/tmp`` when the
    temp dir is too long to hold a socket path."""
    for base in dict.fromkeys((tempfile.gettempdir(), "/tmp")):
        d = tempfile.mkdtemp(prefix="lsai-", dir=base)
        if len(os.fsencode(d)) + SOCKET_NAME_LEN <= SOCKET_PATH_MAX:
            return d
        os.rmdir(d)
    raise ValueError(f"no temp dir leaves room for a Unix socket path: {d!r} plus "
                     f"{SOCKET_NAME_LEN} characters exceeds {SOCKET_PATH_MAX} bytes")


def work_dir() -> str:
    """This process's private directory for the Python-worker sockets
    and the shipped package zip, removed at interpreter exit (by the
    process that made it, not by a forked child)."""
    global _work_dir
    if _work_dir is None:
        d, pid = _make_work_dir(), os.getpid()
        atexit.register(lambda: os.getpid() == pid and shutil.rmtree(d, ignore_errors=True))
        _work_dir = d
    return _work_dir


def _worker_socket_conf(master: str) -> dict[str, str]:
    """The Unix-domain-socket confs for ``master``: on ``local`` and
    ``local-cluster`` masters, whose executors share this host and its
    :func:`work_dir`; none elsewhere, where Spark's loopback TCP stays."""
    if not master.startswith("local"):
        return {}
    return {"spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": work_dir()}


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the in-process mirror of
    ``spark-submit --py-files engine.zip``, which the real-cluster
    deployment uses). Without it, Python workers whose cwd differs
    from the repo root cannot unpickle our pandas UDFs. The zip is
    written to :func:`work_dir` and named by a hash of the shipped
    files, so a source edit within one process ships a new zip."""
    import hashlib
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
    zpath = Path(work_dir()) / f"logsentinelai_spark_{h.hexdigest()[:16]}.zip"
    if not zpath.exists():
        part = zpath.with_suffix(".part")
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
    master = master or f"local[{cpus}]"
    b = (
        SparkSession.builder.master(master)
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
    for k, v in {**_worker_socket_conf(master), **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
