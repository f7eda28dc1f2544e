"""SparkSession factory.

Reference parity notes (citations into /root/reference):

- The reference builds its session with only S3A/Delta packaging configs and
  no master (``pasta1_etl/src/main.py:273-296``) → defaults to ``local[*]``.
- It relies on Spark 3.5 cast-to-NULL coercion at ingest
  (``pasta1_etl/src/main.py:170-172``). PySpark 4.x defaults
  ``spark.sql.ansi.enabled=true`` which would instead raise on bad casts, so
  we pin it ``false`` to reproduce reference semantics.
- It assumes GMT timestamps (``README.md:10``) → session timezone UTC, which
  also keeps parity with the tz-naive DuckDB correctness oracle.

Scale notes: AQE on (runtime coalescing, skew-join splitting), shuffle
partitions sized for the local harness via env; on a real cluster these are
overridden by submit-time conf — everything here is safe to override.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON_MODULE = "nyc_tlc_trip_data_pipelines_spark.worker_daemon"


def get_spark(app_name: str = "nyc_tlc_trip_data_pipelines_spark") -> SparkSession:
    """Return a configured SparkSession (creates one if absent).

    If a session already exists (e.g. the driver harness passes one in),
    ``getOrCreate`` returns it; the SQL confs that matter for
    correctness are set by :func:`configure_session` either way.
    """
    master = os.environ.get("SPARK_GRAFT_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "*"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Generated code is reused, not recompiled, when a query runs
        # again. The class cache (a static conf) defaults to 100 entries in
        # 4 LRU segments, less than one PageRank run and one k-means run
        # need (65 + ~30 classes), so each rerun recompiled some classes
        # and ran them interpreted until the JIT caught up. Stage ids in
        # class names made the second run of a query differ from its
        # first. The two-level aggregate map generates a hash map class per
        # aggregate that is slow until JIT-compiled; without it aggregates
        # share one hot BytesToBytesMap path.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.codegen.aggregate.map.twolevel.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, value in worker_confs(master).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    configure_session(spark)
    return spark


def worker_confs(master: str) -> dict[str, str]:
    """Python-worker confs for ``master``: on ``local[...]`` masters the
    engine's worker daemon (``worker_daemon``: the per-task zip-directory
    re-read paid once per process). Other masters keep the stock daemon:
    their executors need not have this checkout."""
    if not master.startswith("local"):
        return {}
    return {"spark.python.daemon.module": DAEMON_MODULE}


def configure_session(spark: SparkSession) -> SparkSession:
    """Prepare ``spark`` for this engine, whoever built it: ``get_spark``,
    ``__spark_entry__.entry``, every ``__spark_entry__.queries()`` id and
    every ``catalog.load_table`` call it, so a session from a plain
    builder behaves like one from ``get_spark``.

    Sets the runtime SQL confs correctness depends on — never JVM-startup
    confs. On ``local[...]`` masters it also merges the package root into
    the Python workers' ``PYTHONPATH``: functions defined in this package
    pickle by reference, so a worker must import the package from any
    working directory. The path goes into ``SparkContext.environment``,
    which every Python function carries to its worker and which already
    holds a submit-time ``spark.executorEnv.PYTHONPATH``; that value is
    kept. The gate reads ``sc.master``, a Python attribute, not the
    submit-time conf, which is copied over py4j on every read. Other
    masters ship the package with ``spark-submit --py-files``.
    """
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Parquet TIMESTAMP(NANOS) (e.g. events.ts, written by pandas/arrow as
    # ns) is unsupported by Spark's reader; read as raw long nanos and let
    # the catalog convert (catalog.NANOS_TS_COLS shim).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sc = spark.sparkContext
    if sc.master.startswith("local"):
        paths = [PACKAGE_ROOT] + [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
        sc.environment["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    sc.setLogLevel("WARN")
    return spark
