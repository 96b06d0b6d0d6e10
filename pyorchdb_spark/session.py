"""SparkSession factory with scale-aware defaults.

Local mode stands in for a multi-executor cluster in this sandbox; every
knob below is chosen so the *same* code runs unchanged on a 1000-executor
cluster (AQE, adaptive skew join, Arrow batches sized for wide ``content``
strings).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "pyorchdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the sandbox).
    ``shuffle_partitions`` defaults to the core count — on a real cluster
    you would set this to ~2-3x total executor cores and let AQE coalesce.
    The default applies only when this call creates the session; an
    explicit value also applies to a live one.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # getOrCreate re-applies every SQL conf of the builder to a live
    # session, so a derived width would silently override the width the
    # live session was built with; only an explicit one may do that.
    live = SparkSession._instantiatedSession
    derive = shuffle_partitions is None and (live is None or live._sc._jsc is None)
    # Derive a sensible shuffle width from the parallelism in the master
    # string so local[8] vs local[32] bench runs scale their shuffles too.
    if derive:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        elif master.startswith("local-cluster[") and master.endswith("]"):
            # local-cluster[nExecutors,coresPerExecutor,memMB] — the
            # multi-JVM cluster emulation used by the N-vs-4N-executors
            # scaling gate; width scales with TOTAL executor cores, the
            # same rule a real cluster submit would use.
            parts = master[len("local-cluster["):-1].split(",")
            shuffle_partitions = max(int(parts[0]) * int(parts[1]), 4)
        else:
            shuffle_partitions = cpus

    builder = SparkSession.builder.master(master).appName(app_name)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions)).config(
            "spark.default.parallelism", str(shuffle_partitions)
        )
    builder = (
        builder
        # AQE: runtime coalesce + skew-join splitting; the safety net under
        # our explicit salting (SURVEY.md section 4 item 1).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF; content strings are up to ~4 KiB so
        # cap records/batch to keep Arrow batches ~64 MiB.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # off by default (headless sandbox); SPARK_GRAFT_UI=true enables
        # the REST status API for shuffle-byte accounting in bench runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # stderr progress bars corrupt captured bench/driver output
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Files: 128 MiB split targets — same default a real cluster uses.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
