"""The one streaming start path (``streaming.start_query``) and the one
await path (``streaming.await_query``): every sink pins its state stores to
the same count, a checkpoint restart keeps the count it recorded, and a
query that outlives its timeout is stopped and raises by name instead of
leaving a partial result behind."""

from __future__ import annotations

import pandas as pd
import pytest

from milan_spark.errors import MilanStreamTimeoutError
from milan_spark.streaming import (
    await_query,
    file_sink,
    foreach_batch_sink,
    has_state,
    last_progress,
    run_to_memory,
    stream_partitions,
    upsert_sink,
)


def _write(src, i, keys):
    pd.DataFrame({"k": keys, "v": range(len(keys))}).to_parquet(src / f"{i:02d}.parquet")


def _dedup_stream(spark, src):
    """A stateful query (streaming dropDuplicates keeps one state store per
    state partition)."""
    return spark.readStream.schema("k long, v long").parquet(str(src)).dropDuplicates(["k"])


def _state_stores(progress) -> int:
    return progress["stateOperators"][0]["numStateStoreInstances"]


def _run_sink(spark, sink, sdf, tmp_path) -> int:
    """Run ``sdf`` to completion through ``sink``; return the state-store
    count its last microbatch reported."""
    if sink == "memory":
        run_to_memory(sdf, "pin_memory")
        return _state_stores(last_progress()[-1])
    if sink == "foreach_batch":
        q = foreach_batch_sink(sdf, lambda df, _: df.count())
    elif sink == "file":
        q = file_sink(sdf, str(tmp_path / "out"))
    else:
        # with seq_col the first merge reads the batch once
        q = upsert_sink(sdf, str(tmp_path / "table"), ["k"], seq_col="v")
    await_query(q, 120)
    return _state_stores(q.lastProgress)


def test_default_is_one_wave(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    assert stream_partitions(spark) == min(8, spark.sparkContext.defaultParallelism)


@pytest.mark.parametrize("sink", ["memory", "foreach_batch", "file", "upsert"])
def test_every_sink_pins_state_partitions(spark, tmp_path, monkeypatch, sink):
    # 3 differs from the batch shuffle-partition count (at least 8), so only
    # a sink that pins the count reports it
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    batch_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    src = tmp_path / "src"
    src.mkdir()
    _write(src, 0, [1, 2, 3, 1])
    assert _run_sink(spark, sink, _dedup_stream(spark, src), tmp_path) == 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == batch_partitions


def test_restart_keeps_recorded_state_partitions(spark, tmp_path, monkeypatch):
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    _write(src, 0, [1, 2])
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    q = file_sink(_dedup_stream(spark, src), str(out), checkpoint=str(ckpt))
    await_query(q, 120)
    _write(src, 1, [2, 4])
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "2")
    q = file_sink(_dedup_stream(spark, src), str(out), checkpoint=str(ckpt))
    await_query(q, 120)
    assert _state_stores(q.lastProgress) == 3
    assert sorted(r.k for r in spark.read.parquet(str(out)).collect()) == [1, 2, 4]


def test_run_to_memory_timeout_raises_and_stops(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write(src, 0, [1, 2, 3])
    with pytest.raises(MilanStreamTimeoutError, match="did not terminate within 0s"):
        run_to_memory(_dedup_stream(spark, src), "timeout_zero", timeout_sec=0)
    assert all(q.name != "timeout_zero" for q in spark.streams.active)


def test_stateless_query_keeps_batch_partitions(spark, tmp_path, monkeypatch):
    # a stateless query has no state stores to pin; the batch jobs its
    # foreachBatch body runs keep the session's batch width
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    src = tmp_path / "src"
    src.mkdir()
    _write(src, 0, [1, 2, 3])
    seen = []
    stateless = spark.readStream.schema("k long, v long").parquet(str(src))
    q = foreach_batch_sink(
        stateless,
        lambda df, _: seen.append(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
    )
    await_query(q, 120)
    assert not has_state(stateless) and has_state(_dedup_stream(spark, src))
    assert seen == [spark.conf.get("spark.sql.shuffle.partitions")]
