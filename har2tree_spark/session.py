"""SparkSession factory with scale-aware defaults, and the build-once rule
for operator expressions.

Local-mode knobs are test-scale; the same settings (AQE, skew join,
shuffle partitions ~ cores, Arrow batching) are what we would set on a
1000-executor cluster, just with cluster-scaled values.

Build once per JVM: every ``F.*`` call and Column operator is one py4j
round trip from the driver, and an operator's expression tree is the
same on every call. So the hot operators build their Columns in
``per_jvm`` builders: a builder takes only hashable arguments (mode
flags, resolutions), never takes or captures a DataFrame and never
reads a ``df["x"]`` column; the first call in a JVM pays the build, and
later calls only make the ``select``/``join``/``groupBy`` calls.

Python daemon: ``get_spark`` sets ``spark.python.daemon.module`` to
``har2tree_spark.daemon``. Stock PySpark compiles pyspark from the
sources in ``pyspark.zip`` at every daemon launch (about 0.9 s of each
session's first Python task), and re-reads the central directory of
every zip archive its workers import from (``pyspark.zip``, py4j, the
``spark-core`` jar) at the start of every task, 0.19-0.25 s of CPU per
task on Python 3.11. That daemon imports pyspark and py4j from their
installed copies when those are the releases in the zips, and its
workers re-read an archive only when it changed. The executors' Python
must therefore import ``har2tree_spark``, which the exact kernel already
requires (its functions are pickled by reference). ``get_spark`` is
local-only; a ``spark-submit`` deployment may pass ``--conf
spark.python.daemon.module=har2tree_spark.daemon`` only where the package
is installed in the executors' Python, not where it ships only through
``--py-files`` (those reach ``sys.path`` task by task, after the daemon
has started). Where no pyspark is installed next to it, the daemon keeps
the stock order and imports pyspark from the zip.
"""

from __future__ import annotations

import functools
import os
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")


def get_spark(
    app_name: str = "har2tree_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local[N] core count. Defaults to $SPARK_GRAFT_CPUS, else
    the number of CPUs this process may run on (``os.sched_getaffinity``).
    This is the only reader of $SPARK_GRAFT_CPUS; other callers read the
    count back from ``sparkContext.defaultParallelism``.
    shuffle_partitions: defaults to parallelism (local rule: ~= cores; on a
    real cluster this scales with executor count — the N vs 4N scaling
    protocol in BENCH/BASELINE.md sets it proportionally per run).

    Both environment knobs are checked before any session is built: a
    $SPARK_GRAFT_CPUS that is not a positive integer (read only when
    ``parallelism`` is None), or a $SPARK_GRAFT_PYTHON_UDS other than
    true/false (any case), raises ``ValueError``.
    """
    uds = os.environ.get("SPARK_GRAFT_PYTHON_UDS", "true").lower()
    if uds not in ("true", "false"):
        raise ValueError(
            "SPARK_GRAFT_PYTHON_UDS must be true or false, got "
            f"{os.environ['SPARK_GRAFT_PYTHON_UDS']!r}"
        )
    if parallelism is None:
        raw = os.environ.get("SPARK_GRAFT_CPUS")
        if raw is None:
            parallelism = len(os.sched_getaffinity(0))
        else:
            parallelism = int(raw) if raw.strip().isdigit() else 0
            if parallelism < 1:
                raise ValueError(
                    f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}"
                )
    if shuffle_partitions is None:
        shuffle_partitions = parallelism

    builder = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Always use the single-file sort shuffle writer (r8, guide §2.1).
        # The bypass-merge writer kicks in whenever a shuffle has <=200
        # partitions and writes ONE FILE PER REDUCE PARTITION per map task
        # (then concatenates them): at 128 shuffle partitions that is 128
        # creates+appends per map task — measured on this host's ext4 as
        # ~400 ms/task of shuffle-write time and ~25 CPU-seconds per
        # 32-task stage for a 20 KB shuffle; with the sort writer the same
        # stage writes 13 ms. The sort writer is the scale-safe default
        # everywhere (one data + one index file per map task regardless of
        # reduce count); bypass only ever wins when partitions are few AND
        # file metadata ops are cheap, and no host measured so far is one.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        # Unix-domain sockets for the executor<->Python-worker channel
        # (Spark 4.1). The channel is host-local by construction on any
        # deployment (workers fork next to their executor), so skipping
        # the TCP handshake+loopback stack is scale-safe, not a local-mode
        # trick. Measured (r8): identity 32-task Arrow stage 0.295 s ->
        # 0.252 s best-of-6, every sample better; ~40-50 ms saved per
        # Python-stage job. Env override for hosts without UDS support.
        .config("spark.python.unix.domain.socket.enabled", uds)
        # Launch the Python daemon through har2tree_spark.daemon, whose
        # workers re-read a zip archive on the path only when it changed
        # (see that module). Measured (4 vCPUs, local[4]): identity
        # 4-partition mapInArrow job 0.38 s -> 0.19 s, median of 15.
        .config("spark.python.daemon.module", "har2tree_spark.daemon")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def host_heap() -> str:
    """Driver heap for the tools' local jobs: a quarter of physical memory,
    clamped to 1-16 GB (3g on a 15 GB host), which leaves the host room
    for the Python workers."""
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{min(16, max(1, phys_gb // 4))}g"



def per_jvm(build: Callable[..., T]) -> Callable[..., T]:
    """Memoise a Column builder on its positional arguments and on the
    live JVM gateway.

    The first call for some arguments in a JVM runs ``build`` and pays
    its round trips; every later call with the same arguments while the
    same ``SparkContext._gateway`` object is live returns the very same
    result. A different gateway object (the JVM was shut down and a new
    one launched) rebuilds: the gateway is compared with ``is``, since an
    ``id()`` can be reused. Stopping and restarting a session inside one
    JVM keeps the built Columns, which belong to no session.

    ``build`` must return Columns (or tuples of them) built only from its
    arguments: no DataFrame, no ``df["x"]`` column, nothing that is
    mutated afterwards -- every caller shares the one result."""
    built: dict[tuple, tuple[object, T]] = {}

    @functools.wraps(build)
    def cached(*args):
        gateway = SparkContext._gateway
        hit = built.get(args)
        if hit is None or hit[0] is not gateway:
            hit = built[args] = (gateway, build(*args))
        return hit[1]

    return cached
