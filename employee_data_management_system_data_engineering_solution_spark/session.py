"""SparkSession factory.

Replaces the five copies of the session-builder block in the reference
(``clean_load_2_tf_staging.py:9-17`` and identical blocks in every job
script). One builder, parameterized, no hardcoded credentials
(contrast ``clean_load_2_tf_staging.py:18-23``), no LEGACY time parser.

Scale posture: AQE on (runtime coalesce + skew-join), shuffle
partitions sized to the local core count for tests; on a real cluster
callers pass ``shuffle_partitions`` ~ 2-3x total cores. Session
timezone is pinned to UTC so timestamp semantics are stable across
engines and hosts.

Worker start-up: Spark's own daemon imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, which holds no bytecode, so
each application's daemon and each worker it forks compile pyspark
from source before a Python UDF sees its first row (``import
pyspark.worker``: 1.35 s from the zip, 0.23 s installed, 4 cores). For
``local*`` masters, where the driver and the workers share one
filesystem and interpreter, :func:`python_worker_conf` starts the
daemon through :mod:`.worker_daemon`, which imports the interpreter's
installed, bytecode-cached pyspark when it is the same release.
Other masters keep Spark's default daemon.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_DAEMON_MODULE = f"{__package__}.worker_daemon"
_PACKAGE_PARENT = str(Path(__file__).resolve().parents[1])
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def python_worker_conf(master: str, conf: dict[str, str] | None = None) -> dict[str, str]:
    """``conf`` plus the confs that start a ``local*`` application's
    Python workers through :mod:`.worker_daemon`.

    Keys already in ``conf`` win, except the workers' ``PYTHONPATH``,
    which always gets the package's parent directory merged in so that
    the daemon module is importable. A non-local master gets ``conf``
    back unchanged: its workers need not share the driver's files.
    """
    out = dict(conf or {})
    if not master.startswith("local"):
        return out
    out.setdefault("spark.python.daemon.module", _DAEMON_MODULE)
    entries = [p for p in out.get(_WORKER_PYTHONPATH, "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in entries:
        entries.append(_PACKAGE_PARENT)
    out[_WORKER_PYTHONPATH] = os.pathsep.join(entries)
    return out


def get_session(
    app_name: str = "eds-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Defaults follow $SPARK_GRAFT_CPUS when set (the driver's bench
    contract), else all local cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # engine-level Arrow batch sizing (guide §4.2): the
        # Python-boundary operators stream one narrow column; 64k-row
        # batches amortize per-batch overhead ~6x over the 10k default
        # (measured on frequent_shingles, r16). Also applied at
        # operator entry (sources.io.arrow_batch_defaults) so sessions
        # built elsewhere get it too.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # test data carries TIMESTAMP(NANOS) parquet columns, which Spark
        # rejects by default; read them as long and convert in the reader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("EDS_DRIVER_MEMORY", "24g"))
        .config(map=python_worker_conf(master, extra_conf))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
