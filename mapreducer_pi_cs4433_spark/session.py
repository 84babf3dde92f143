"""SparkSession construction tuned for both local testing and cluster scale.

The reference hand-tunes physical execution per job (map-only jobs, one
reducer, distributed-cache joins — see SURVEY.md §4). Here a single session
configuration lets Catalyst/AQE make those calls per-query instead:

- AQE on: runtime partition coalescing, skew-join splitting, and
  broadcast-join conversion replace the reference's hand-set reducer counts.
- ``spark.sql.session.timeZone=UTC``: timestamps in the test parquet are
  timezone-naive; pinning the session to UTC makes epoch arithmetic agree
  with DuckDB's naive-as-UTC semantics regardless of host TZ.
- Arrow enabled: any Pandas-UDF path (similarity, multimodal) transfers
  columnar batches instead of pickled rows.

Two shuffle partition numbers, because batch and streaming plans read the
setting differently:

- Batch plans run under AQE with coalescing on, so Spark sizes their
  exchanges from ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
  (``SPARK_GRAFT_SHUFFLE_PARTITIONS``, default 32) and coalesces down at
  runtime.
- Streaming plans run with AQE off, so ``spark.sql.shuffle.partitions`` is
  the fixed number of state-store partitions of every stateful operator,
  and of the batch DataFrames a ``foreachBatch`` sink sees. Each micro-batch
  pays one task and one state-store commit per partition, whether or not
  the partition holds a key, so it is set to one partition per core
  (``defaultParallelism``: the local core count, or the executor cores
  registered when the session starts on a cluster).

A stream records its partition count in the checkpoint's offset log on
its first batch and keeps it on every restart: the state files are hashed
into that many partitions, so a checkpoint created under another setting
resumes with its own count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(app_name: str = "mapreducer-pi-cs4433-spark") -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (defaults to all cores).
    On a real cluster the ``master`` setting is supplied externally and the
    local[] default is ignored via spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    batch_partitions = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # explicit, not default-inherited: every correctness gate runs
        # under ansi=true, and a host spark-defaults.conf flipping it
        # would change div/cast/overflow semantics (see tune_session)
        .config("spark.sql.ansi.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(batch_partitions),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # r13 (optimization, guide §1.2 step 3 — configuration, measured):
        # the whole-stage-codegen compile cache defaults to 100 entries;
        # an engine running 188 distinct queries (x several codegen
        # fragments each) evicts every fragment between bench passes and
        # pays Janino recompilation per query per pass. The cache is
        # per-JVM compile state, not data-scale-dependent, so a larger
        # default is right at any cluster size; parameterized for
        # ablation. Entries are compiled classes (~KBs each) — 4096 is
        # well inside the default heap.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
        )
        .getOrCreate()
    )
    # stream state partitions: one per core (see the module docstring)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable scale/parity conf to an externally-built session.

    The correctness driver hands us its own SparkSession; only runtime-mutable
    settings are touched (timezone for DuckDB parity, AQE for scale, ANSI
    pinned to the locally-tested value). Pinning ANSI matters for hash
    parity: every local gate (tests, full_oracle_check, the partition-count
    sweep) runs under Spark 4's ansi=true default, and div/cast/overflow
    semantics differ across ANSI modes — an externally-built session with a
    different setting would be running semantics no local gate ever
    exercised.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return spark


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state(spark: SparkSession) -> SparkSession:
    """Switch Structured Streaming state to the RocksDB provider.

    The default HDFS-backed provider keeps every state row on the executor
    heap — fine for small keyspaces, an OOM at the 100 TB end (e.g.
    dedup digests or session state over billions of keys). RocksDB spills
    state to local SSD with a bounded block cache, and changelog
    checkpointing uploads per-batch deltas instead of full snapshots.

    Runtime-settable SQL confs, so this works on an externally-built
    session too; it affects queries STARTED after the call (running
    queries keep the provider recorded in their checkpoint).
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    return spark
