"""Reference-parity facade: JSON-in/JSON-out matmul exactly as the
reference's orchestrator consumed and produced it, plus remaining
plan/sink behaviors (big-big matmul join strategy, foreachBatch sink,
range-partitioned sorted writes)."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from matrix_multiplication_map_reduce_gcp_spark.matrix.facade import multiply_json

from .conftest import matmul_broadcast_budget


def test_multiply_json_reference_wire_format(spark):
    rng = np.random.default_rng(5)
    # float32 ints 0..99 like reference test/test.py:42-43; 50x50 is
    # the live hardcoded shape (orchestrator/main.py:43-48)
    a = rng.integers(0, 100, (50, 50)).astype(float)
    b = rng.integers(0, 100, (50, 50)).astype(float)
    out = json.loads(multiply_json(spark, json.dumps(a.tolist()), json.dumps(b.tolist())))
    np.testing.assert_allclose(np.array(out), a @ b, rtol=0)


def test_multiply_json_rejects_bad_dims(spark):
    with pytest.raises(ValueError, match="incompatible"):
        multiply_json(spark, json.dumps([[1.0, 2.0]]), json.dumps([[1.0], [2.0], [3.0]]))


def test_big_big_matmul_never_nested_loop(spark):
    """When neither operand fits the broadcast budget the multiply must
    plan a shuffle join (SMJ/SHJ), never a nested-loop/cartesian."""
    from matrix_multiplication_map_reduce_gcp_spark.matrix.coo import (
        BROADCAST_MAX_ENTRIES,
        CooMatrix,
    )

    n = 600
    big = spark.range(n * n).select(
        (F.col("id") / n).cast("long").alias("i"),
        (F.col("id") % n).alias("j"),
        F.lit(1.0).alias("v"),
    )
    assert n * n < BROADCAST_MAX_ENTRIES  # sanity of the local config
    a = CooMatrix(big, n, n)
    # force the "both sides big" path by shrinking the threshold
    with matmul_broadcast_budget(spark, 10):
        c = a.multiply(a)
        plan = c.df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_foreach_batch_exactly_once_shape(spark, tmp_path):
    """foreachBatch sink: batch ids are observed and each batch lands
    once — the idempotent-sink pattern for exactly-once delivery."""
    from matrix_multiplication_map_reduce_gcp_spark.streaming.core import events_stream

    seen: dict[int, int] = {}
    out_dir = str(tmp_path / "sink")

    def sink(df, epoch_id: int):
        # idempotence guard: skip an epoch already committed
        if epoch_id in seen:
            return
        seen[epoch_id] = df.count()
        df.write.mode("append").parquet(out_dir)

    q = (
        events_stream(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    total = spark.read.parquet(out_dir).count()
    assert total == sum(seen.values()) == 1000


def test_range_partitioned_sorted_write(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions: globally range-
    partitioned, per-file sorted output — the layout that gives
    downstream scans min/max pruning on the sort key."""
    from matrix_multiplication_map_reduce_gcp_spark.catalog import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / "sorted")
    (
        orders.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.parquet(out)
    )
    import glob

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        pdf = spark.read.parquet(f).agg(
            F.min("o_orderdate"), F.max("o_orderdate")
        ).collect()[0]
        ranges.append((pdf[0], pdf[1]))
    # files cover disjoint, ordered date ranges
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
