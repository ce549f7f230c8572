"""SparkSession factory.

The engine targets a multi-executor cluster reading ~100 TB; the defaults
here encode the scale posture (AQE on, skew-join handling, Arrow for any
pandas interop, UTC session time) while remaining correct on ``local[N]``.

Scale notes
-----------
* ``spark.sql.adaptive.enabled`` + ``coalescePartitions`` + ``skewJoin``:
  runtime re-planning is the first line of defense at 100 TB — AQE converts
  sort-merge joins to broadcast when the built side turns out small, splits
  skewed partitions, and coalesces tiny post-shuffle partitions.
* ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster set it to 2-3× total executor cores (AQE coalesces the
  excess). It is a config, not a constant, precisely so deployments can.
* ``spark.sql.session.timeZone=UTC``: the reference stores local wall-clock
  strings (f1_dataExtractor.py:148-158); the engine stores UTC timestamps
  and renders local time only at the presentation edge.
* Arrow enabled: every pandas interop (createDataFrame, toPandas, pandas
  UDFs for the beyond-reference ops) goes through columnar batches.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "f1_data_engineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are overridable so tests can run tiny (``local[4]``) while
    bench/production run wide; all scale-relevant settings live here in one
    place.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 is deprecated and ambiguates footer-level type sniffing
        # (pyarrow reports INT96 as timestamp[ns]); write modern MICROS.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Python DataSource API: let custom sources consume pushed
        # filters (sources/pydatasource.py prunes partitions with them)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # deployment-tunable overrides without code changes: a
    # comma-separated k=v list (e.g. production sets shuffle codec /
    # join-strategy preferences per fleet; defaults above are the
    # measured local posture).  Explicit extra_conf wins over env.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for item in filter(None, (s.strip() for s in env_conf.split(","))):
        k, sep, v = item.partition("=")
        if not sep or not k.strip():
            # a typo'd override (missing '=') would otherwise silently
            # set the key to '' and could flip query semantics untraced
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF item {item!r} is not k=v "
                "(values containing ',' cannot be expressed here)"
            )
        print(
            f"session: extra conf override {k.strip()}={v.strip()}",
            file=sys.stderr,
        )
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_file_stream_sink(spark)
    return spark


def _quiet_file_stream_sink(spark: SparkSession) -> None:
    """Every read of a glob path logs ``FileStreamSink: Assume no
    metadata directory`` with a ``FileNotFoundException`` stack trace:
    the batch reader probes the glob for a streaming sink's log
    directory, finds none, and reads the files as asked.  Only that
    logger is raised to ERROR.  Spark 4.1 moved the class into
    ``streaming.sinks``; both names are set, so either version is quiet."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    log4j = jvm.org.apache.logging.log4j
    for name in (
        "org.apache.spark.sql.execution.streaming.FileStreamSink",
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
    ):
        log4j.core.config.Configurator.setLevel(name, log4j.Level.ERROR)
