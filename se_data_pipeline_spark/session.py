"""SparkSession factory.

One place to encode the engine's execution-model decisions so every
entry point (tests, bench, driver harness) gets the same tuned session:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy) — at 100 TB the static plan is always wrong somewhere.
- shuffle partitions sized to the machine for local mode; on a real
  cluster AQE's coalescing makes the initial number far less critical.
- Arrow enabled for every JVM<->Python boundary (pandas_udf,
  toPandas, createDataFrame).
- Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable (parquet timestamps are naive/UTC).
- Python workers fork from the engine's worker daemon
  (``_worker_daemon``): stock pyspark workers re-read
  ``pyspark.zip``'s whole central directory, once per zip importer,
  after the cache invalidation at the start of every task (about
  0.2 s of CPU); the engine daemon's importers re-read an archive only
  when it changed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# The at-scale streaming profile the stateful jobs' docstrings
# require (streaming/jobs.py): RocksDB off-heap state store (heap
# HDFSBackedStateStore holds every key of every partition in executor
# memory — a non-starter for 100 TB keyspaces) with changelog
# checkpointing (per-batch uploads are the delta, not a full RocksDB
# snapshot — checkpoint cost proportional to updated keys, not state
# size) plus unload-on-commit hygiene for long-running executors.
STREAMING_STATE_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing."
    "enabled": "true",
    # bound native memory: one RocksDB instance per state partition
    # lives on each executor; cap write buffers so N partitions can't
    # grow unbounded off-heap
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB": "2048",
}


def _default_driver_memory() -> str:
    """The driver heap when SPARK_DRIVER_MEM is unset: 48g, capped at
    60% of the host's physical memory so the default is safe on the
    host it runs on (a 48g heap on a 15 GB host invites the OOM
    killer). Falls back to 48g where the host size is unknown."""
    try:
        host = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{min(48 * 1024, host * 6 // 10 // 2**20)}m"


def get_spark(
    app_name: str = "se_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    streaming: bool = False,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if
    unset). On a real cluster, pass ``master=None`` and submit with
    spark-submit — every config here is cluster-safe, provided the
    engine is importable on the executors when their worker daemon
    starts (installed, or on ``spark.executorEnv.PYTHONPATH``; files
    shipped with ``--py-files`` arrive only per task).

    ``streaming=True`` applies STREAMING_STATE_CONF — the RocksDB
    state-store + changelog-checkpointing profile that the stateful
    streaming jobs document as the 100 TB requirement. These are
    session confs (state-store provider is read per-query at start),
    so the profile also composes onto an existing session via
    ``extra_conf=STREAMING_STATE_CONF``.
    """
    # Must run before the JVM launches: workers inherit PYTHONPATH,
    # import the engine (its worker daemon first) from any driver cwd,
    # and transformWithStateInPandas imports google.protobuf in-worker.
    from se_data_pipeline_spark.compat import (
        ensure_engine_importable,
        ensure_protobuf,
    )

    ensure_engine_importable()
    ensure_protobuf()

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores. Cluster: leave to AQE coalescing anyway.
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "se_data_pipeline_spark._worker_daemon")
        # Arrow batch cap: default 10k records/batch is ~14 GB for
        # 1.4 MB audio-segment rows (SURVEY §7.4 large-binary-rows).
        # 2048 keeps worst-case batches ~3 GB while costing nothing
        # measurable on narrow-row kernels (bench-verified).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    )
    if streaming:
        for k, v in STREAMING_STATE_CONF.items():
            builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
