"""Streaming HLL distinct-count monitor tests: chunked replays with
restarts must keep the batch entry's register-level exactness live —
max-folding is associative, so the final register array per key equals
an independent pure-Python hashlib build over the union of the chunks
BIT-FOR-BIT, n_rows_seen counts folded rows exactly, and the emitted
estimate sits inside the batch entry's band. Runs under both state
store providers; state is a dense typed register array, never a pickle.
"""

from __future__ import annotations

import hashlib
import math
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreducer_pi_cs4433_spark.functions import hll
from mapreducer_pi_cs4433_spark.sources.loaders import load_table
from mapreducer_pi_cs4433_spark.streaming.distinct import (
    _restore,
    hll_distinct_stream,
)

from .conftest import SF_SMOKE


def _reference_registers(user_ids) -> list[int]:
    """Independent flat build: raw digest bytes + int.bit_length — the
    same third implementation the batch property test checks the column
    chain against (shares no code with functions/hll.py)."""
    regs = [0] * hll.M
    for u in set(user_ids):
        dig = hashlib.md5(str(u).encode()).digest()
        w = int.from_bytes(dig[1:6], "big")
        rho = hll.RHO_MAX - w.bit_length() if w else hll.RHO_MAX
        regs[dig[0]] = max(regs[dig[0]], rho)
    return regs


def _chunks(spark):
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_id", "event_type", "user_id")
    )
    rows = ev.collect()
    return [[r for r in rows if r.event_id % 3 == i] for i in range(3)]


@pytest.mark.parametrize(
    "provider,ckpt_partitions",
    [("hdfs", None), ("rocksdb", None), ("hdfs", 32), ("rocksdb", 32)],
    ids=["hdfs", "rocksdb", "hdfs-ckpt32", "rocksdb-ckpt32"],
)
def test_stream_hll_registers_match_reference_across_restarts(
    spark, provider, ckpt_partitions
):
    """Three chunks, each its own query run against the SAME checkpoint
    (two full restarts with state recovery): the final snapshot per type
    must carry the EXACT register array of a flat build over everything
    ingested — bit-for-bit, through the typed-array state round trip —
    plus exact n_rows_seen, the exact integer harmonic sum recomputable
    from those registers, and an estimate inside the batch entry's
    band. Emissions are monotone in n_rows_seen. With ckpt_partitions
    set, the first chunk creates the checkpoint under that many shuffle
    partitions and the restarts run under the session default: the
    checkpoint keeps its own count and the registers stay exact."""
    from mapreducer_pi_cs4433_spark.session import enable_rocksdb_state

    chunks = _chunks(spark)
    src = tempfile.mkdtemp(prefix="hd_src_")
    ckpt = tempfile.mkdtemp(prefix="hd_ck_")
    acc: list = []
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    session_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    state_partitions = []
    if provider == "rocksdb":
        enable_rocksdb_state(spark)
    try:
        for i, chunk in enumerate(chunks):
            if ckpt_partitions and i == 0:
                spark.conf.set("spark.sql.shuffle.partitions", str(ckpt_partitions))
            spark.createDataFrame(
                [(r.event_type, int(r.user_id)) for r in chunk],
                "event_type string, user_id long",
            ).coalesce(1).write.mode("append").parquet(src)
            q = (
                hll_distinct_stream(
                    spark.readStream.schema("event_type string, user_id long")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                .writeStream.foreachBatch(
                    lambda df, bid: acc.extend(df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            spark.conf.set("spark.sql.shuffle.partitions", session_partitions)
            state_partitions.append(
                q.lastProgress["stateOperators"][0]["numShufflePartitions"]
            )
        want = ckpt_partitions or spark.sparkContext.defaultParallelism
        assert state_partitions == [want] * len(chunks)
        assert acc, "no snapshots emitted"
        truth_rows: dict[str, list[int]] = {}
        for chunk in chunks:
            for r in chunk:
                truth_rows.setdefault(r.event_type, []).append(int(r.user_id))
        final: dict[str, object] = {}
        for row in acc:
            if (
                row.event_type not in final
                or row.n_rows_seen > final[row.event_type].n_rows_seen
            ):
                final[row.event_type] = row
        assert set(final) == set(truth_rows)
        for t, row in final.items():
            ref = _reference_registers(truth_rows[t])
            assert list(row.registers) == ref, t  # registers bit-exact
            assert row.n_rows_seen == len(truth_rows[t]), t
            assert row.sum_inv_scaled == hll.sum_inv_scaled(ref), t
            assert row.v_zero == sum(1 for r in ref if r == 0), t
            exact = len(set(truth_rows[t]))
            assert math.isclose(
                row.distinct_est,
                hll.estimate(row.sum_inv_scaled, row.v_zero),
            ), t
            assert abs(row.distinct_est - exact) <= max(0.20 * exact, 10.0), t
        for t in truth_rows:
            seen = [r.n_rows_seen for r in acc if r.event_type == t]
            assert len(seen) >= 2, t  # mid-stream snapshots existed
            assert seen == sorted(seen), t
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", session_partitions)
        if provider == "rocksdb":
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
        for d in (src, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_state_roundtrip_detects_corruption():
    """HLL is lossy, so unlike the KLL monitor no later invariant would
    surface a mangled state row — the restore guard must catch every
    corruption class at the boundary: truncated array, out-of-range
    register, and an n_rows smaller than the touched-register count."""
    regs = [0] * hll.M
    regs[3] = 7
    regs[200] = 41
    assert _restore(regs, 10).tolist() == regs
    with pytest.raises(ValueError, match="corrupted"):
        _restore(regs[1:], 10)
    with pytest.raises(ValueError, match="corrupted"):
        _restore([hll.RHO_MAX + 1] + regs[1:], 10)
    with pytest.raises(ValueError, match="corrupted"):
        _restore([-1] + regs[1:], 10)
    with pytest.raises(ValueError, match="touched"):
        _restore(regs, 1)


def test_hll_sliding_window_boundaries_match_reference(spark):
    """Deterministic window-semantics pin for events_distinct_hll_sliding
    on a constructed corpus: users land on days 1, 7, 8, and 15, so the
    trailing-7-day windows exercise exactly-at-boundary inclusion
    (day 1 IS in the window ending day 7), just-past-boundary exclusion
    (day 1 is NOT in the window ending day 8), and an isolated anchor
    (day 15 sees only itself). Registers per window are recomputed with
    the independent hashlib reference and compared through the emitted
    integer fingerprints (v_zero, sum_inv_scaled, reg_checksum)."""
    import datetime
    import shutil
    import tempfile

    from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES

    day_users = {1: [1, 2], 7: [2, 3], 8: [4], 15: [5]}
    data = [
        (i, datetime.datetime(2024, 1, d, 9, 0), u, "a", 1.0, "{}")
        for i, (d, u) in enumerate(
            (d, u) for d, us in sorted(day_users.items()) for u in us
        )
    ]
    d = tempfile.mkdtemp(prefix="hsl_sf_")
    try:
        spark.createDataFrame(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            int(r.win_end[-2:]): r
            for r in QUERIES["events_distinct_hll_sliding"](spark, d).collect()
        }
        assert set(got) == {1, 7, 8, 15}  # anchors = observed days only
        want_members = {
            1: {1, 2},        # just day 1
            7: {1, 2, 3},     # day 1 at the boundary: included
            8: {2, 3, 4},     # day 1 just past: excluded; days 7+8 in
            15: {5},          # isolated anchor
        }
        want_days = {1: 1, 7: 2, 8: 2, 15: 1}
        for we, users in want_members.items():
            row = got[we]
            regs = _reference_registers(users)
            assert row.n_days_in_win == want_days[we], we
            assert row.exact_distinct == len(users), we
            assert row.v_zero == sum(1 for r in regs if r == 0), we
            assert row.sum_inv_scaled == hll.sum_inv_scaled(regs), we
            assert row.reg_checksum == sum(
                (i + 1) * r for i, r in enumerate(regs)
            ), we
    finally:
        shutil.rmtree(d, ignore_errors=True)
