"""``streaming.run_available_now``, the one streaming runner.

- The stream's state store runs on 4 shuffle partitions (read from
  the progress events), and the caller's session conf is unchanged
  when the runner returns.
- The output does not depend on where the throwaway checkpoint lives
  (tmpfs default vs an explicit disk dir).
- ``spread_stream`` through the runner is row-preserving.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from conftest import SF_DIR


def test_stream_state_partitions_leave_caller_conf_alone(spark):
    from perfbench.probes import SparkProbe
    from pyspark.sql.streaming import StreamingQueryListener

    from data_table_spark.streaming import (
        read_events_stream, run_available_now, tumbling_agg,
    )

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.state_partitions = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.state_partitions += [
                op.numShufflePartitions for op in event.progress.stateOperators
            ]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    listener = Progress()
    spark.streams.addListener(listener)
    try:
        rows = run_available_now(
            tumbling_agg(read_events_stream(spark, SF_DIR))
        ).collect()
        SparkProbe(spark).drain()  # deliver every progress event
    finally:
        spark.streams.removeListener(listener)
    assert rows
    assert before != "4"
    assert spark.conf.get(key) == before
    assert listener.state_partitions
    assert set(listener.state_partitions) == {4}


def test_stream_checkpoint_location_is_result_invariant(spark, tables):
    """run_available_now output must not depend on the checkpoint
    root (tmpfs default vs an explicit disk dir)."""
    from data_table_spark.streaming import (
        read_events_stream, run_available_now, tumbling_agg,
    )

    def run():
        ev = read_events_stream(spark, SF_DIR)
        return sorted(
            map(tuple, run_available_now(tumbling_agg(ev)).collect())
        )

    a = run()
    tmp = tempfile.mkdtemp(prefix="ckpt_disk_")
    old = os.environ.get("SPARK_GRAFT_STREAM_CKPT")
    os.environ["SPARK_GRAFT_STREAM_CKPT"] = tmp
    try:
        b = run()
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_STREAM_CKPT", None)
        else:
            os.environ["SPARK_GRAFT_STREAM_CKPT"] = old
        shutil.rmtree(tmp, ignore_errors=True)
    assert a == b


def test_spread_stream_is_row_preserving(spark):
    """spread_stream is a pure round-robin repartition: the streaming
    result through it is the exact row multiset of the batch input."""
    from data_table_spark.streaming import (
        DOCUMENTS_SCHEMA,
        run_available_now,
        spread_stream,
    )

    rows = [
        (i, f"text {i} body words", "en", "src", 20) for i in range(25)
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.mode("overwrite").parquet(f"{d}/docs")
        stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(
            f"{d}/docs"
        )
        out = run_available_now(
            spread_stream(stream), output_mode="append"
        ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, docs.collect()))
