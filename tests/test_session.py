"""Session partition split: batch plans keep the configured shuffle width
(AQE's initial partition number), while stateful streams get one state
partition per core, because every micro-batch pays a task and a
state-store commit per partition, however few keys it holds."""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import functions as F

from mapreducer_pi_cs4433_spark.plans.inspect import formatted_plan
from mapreducer_pi_cs4433_spark.session import DEFAULT_SHUFFLE_PARTITIONS


def test_stream_state_partitions_match_cores(spark):
    src = tempfile.mkdtemp(prefix="sess_src_")
    ckpt = tempfile.mkdtemp(prefix="sess_ck_")
    try:
        spark.createDataFrame(
            [(k % 3,) for k in range(12)], "k long"
        ).coalesce(1).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema("k long")
            .parquet(src)
            .groupBy("k")
            .count()
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        ops = q.lastProgress["stateOperators"]
        assert ops[0]["numRowsTotal"] == 3
        assert (
            ops[0]["numShufflePartitions"]
            == spark.sparkContext.defaultParallelism
        )
    finally:
        for d in (src, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_batch_groupby_keeps_configured_shuffle_width(spark):
    want = int(
        os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
        )
    )
    df = spark.range(100).withColumn("k", F.col("id") % 3).groupBy("k").count()
    widths = re.findall(r"hashpartitioning\(k#\d+L?, (\d+)\)", formatted_plan(df))
    assert widths and {int(w) for w in widths} == {want}
