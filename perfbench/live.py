"""The live workload: an open-loop enrichment stream.

A generator process (``livegen.py``) writes one parquet file per tick into a
directory. The engine reads it with ``sources.file_stream_source``, runs the
Milan LeftJoin state machine (``streaming.stateful.left_enrichment_join``:
each purchase enriched with its user's latest at-or-earlier signup) and
emits through a continuous ``streaming.foreach_batch_sink``. The sink stamps
each output row with its emission time; latency is emission minus the
event's due time.

Before the schedule starts, one priming file goes through the query, so the
first microbatch's cold start (code generation, Python workers, state store)
does not leak into the measured window. The schedule: a short warm-up at the
low rate (counted, with the priming, in set-up), then, within ``--seconds``,
a low-rate window where latency is measured and a series of one-file bursts
that overload the engine.

After the run, every purchase in the generator's files is replayed in pandas
and must have been emitted exactly once with the right signup.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd

from layers import (JobMeter, Tracer, catalyst_phases, core_util, layer_totals, progress_dicts,
                    streaming_summary)
from livegen import TICK_S, write_events

HERE = os.path.dirname(os.path.abspath(__file__))
LOW_RATE = 200.0  # events/s while latency is measured
PRIME_EVENTS = 200
WARMUP_S = 6.0
BURSTS, BURST_EVENTS, BURST_GAP_S = 5, 30_000, 2.5  # overload: one-tick bursts
BURST_PHASE_S = BURSTS * (TICK_S + BURST_GAP_S)
MIN_WINDOW_S = 2.0
DRAIN_TIMEOUT_S = 60.0
OUT_COLS = ["event_id", "tick", "due", "signup_event_id", "signup_value"]


@dataclass
class LiveResult:
    events: int = 0
    failed: int = 0
    latency_ms: list = field(default_factory=list)  # low-rate purchases
    warmup_s: float = 0.0  # query start until every warm-up purchase was emitted
    wall_s: float = 0.0  # median duration of the microbatch that took a burst
    events_per_s: float = 0.0  # median events per second of those microbatches
    bursts: int = 0  # microbatches that took a burst
    generator: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


def window_s(measure_s: float) -> float:
    """Length of the low-rate latency window: what ``measure_s`` leaves after
    the bursts, and at least ``MIN_WINDOW_S``."""
    return max(MIN_WINDOW_S, measure_s - BURST_PHASE_S)


def phases(measure_s: float) -> list[tuple[float, float]]:
    """(seconds, events/s): warm-up, the measured low-rate window, then
    bursts of ``BURST_EVENTS`` in a single file, ``BURST_GAP_S`` apart."""
    burst = [(TICK_S, BURST_EVENTS / TICK_S), (BURST_GAP_S, LOW_RATE)]
    return [(WARMUP_S, LOW_RATE), (window_s(measure_s), LOW_RATE)] + burst * BURSTS


def burst_ticks(measure_s: float) -> list[int]:
    first = round((WARMUP_S + window_s(measure_s)) / TICK_S)
    step = round((TICK_S + BURST_GAP_S) / TICK_S)
    return [first + i * step for i in range(BURSTS)]


def _build(spark, in_dir: str):
    from pyspark.sql import functions as F
    from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                                   StructType)

    from milan_spark.sources import file_stream_source
    from milan_spark.streaming.stateful import left_enrichment_join

    schema = StructType([
        StructField("event_id", LongType()), StructField("user_id", LongType()),
        StructField("event_type", StringType()), StructField("value", DoubleType()),
        StructField("due", DoubleType()), StructField("tick", LongType()),
    ])
    src = file_stream_source(spark, in_dir, schema=schema)
    purchases = src.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value", "due", "tick", F.col("event_id").alias("__seq"))
    signups = src.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_event_id"),
        F.col("value").alias("signup_value"), F.col("event_id").alias("__seq"))
    out = left_enrichment_join(purchases, signups, on="user_id")
    return out.select(*OUT_COLS)


def read_events(in_dir: str) -> pd.DataFrame:
    """Every event written (priming and generator), in event-id order."""
    files = sorted(glob.glob(f"{in_dir}/*.parquet"))
    return pd.concat([pd.read_parquet(p) for p in files]).sort_values("event_id")


def expected_output(ev: pd.DataFrame) -> pd.DataFrame:
    """Replay the generator's events: each purchase with the latest signup of
    its user at or before it (event-id order), or nulls if none. Other event
    types produce nothing."""
    latest: dict[int, tuple[int, float]] = {}
    rows = []
    for eid, uid, et, val in zip(ev.event_id, ev.user_id, ev.event_type, ev.value):
        if et == "signup":
            latest[uid] = (eid, val)
        elif et == "purchase":
            s = latest.get(uid, (None, None))
            rows.append((eid, s[0], s[1]))
    return pd.DataFrame(rows, columns=["event_id", "signup_event_id", "signup_value"])


def verify(emitted: pd.DataFrame, expected: pd.DataFrame) -> int:
    """Count purchases that were missing, emitted more than once, emitted with
    the wrong signup, or never generated."""
    counts = emitted.event_id.value_counts()
    dup = int((counts - 1).clip(lower=0).sum())
    one = emitted.drop_duplicates("event_id").set_index("event_id")
    exp = expected.set_index("event_id")
    missing = int((~exp.index.isin(one.index)).sum())
    extra = int((~one.index.isin(exp.index)).sum())
    both = exp.join(one, how="inner", rsuffix="_got")
    sid_ok = (both.signup_event_id.fillna(-1).astype("int64")
              == both.signup_event_id_got.fillna(-1).astype("int64"))
    val_ok = np.isclose(both.signup_value.fillna(-1.0).astype(float),
                        both.signup_value_got.fillna(-1.0).astype(float), rtol=0, atol=1e-9)
    wrong = int((~(sid_ok & val_ok)).sum())
    return dup + missing + extra + wrong


def _wait(query, done, lock: threading.Lock, what: str) -> None:
    """Poll ``done()`` (under ``lock``) until it holds, the query fails or
    ``DRAIN_TIMEOUT_S`` passes; only a query failure raises, since missing
    output is counted by the verification."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline and query.exception() is None:
        with lock:
            if done():
                return
        time.sleep(0.05)
    if query.exception() is not None:
        raise RuntimeError(f"live query failed during {what}: {query.exception()}")


def run_live(spark, workdir: str, seed: int, measure_s: float, tracer: Tracer | None = None,
             listener=None) -> LiveResult:
    """Run the generator against a continuous enrichment query: warm-up, then
    ``measure_s`` seconds of low-rate window and bursts; return the metrics
    and the verified failure count."""
    from milan_spark.session import release_cached
    from milan_spark.streaming import foreach_batch_sink

    root = os.path.join(workdir, f"live-{time.time_ns()}")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    res = LiveResult()
    batches: list[tuple[float, int, pd.DataFrame]] = []  # (emitted at, batch id, rows)
    lags: list[tuple[float, int]] = []  # (time, files written but not yet emitted)
    tot = layer_totals()
    meter = JobMeter(spark) if tracer else None
    lock = threading.Lock()
    rid = tracer.open("live") if tracer else None

    def sink(batch_df, batch_id):
        sdf = batch_df.select(*OUT_COLS)
        with tracer.span("sink", parent=rid, batch=batch_id) if tracer else nullcontext():
            if tracer:
                for k, v in catalyst_phases(sdf).items():
                    tot[f"catalyst.{k}"] += v
            t_exec = time.perf_counter()
            pdf = sdf.toPandas()
            now = time.time()
            if tracer:
                tot["exec.s"] += time.perf_counter() - t_exec
                for k, v in meter.take().items():
                    tot[f"exec.{k}"] += v
        newest = len(glob.glob(f"{in_dir}/part-*.parquet"))
        with lock:
            batches.append((now, batch_id, pdf))
            if len(pdf):
                lags.append((now, newest - int(pdf.tick.max()) - 1))

    t_start = time.time()
    t_build = time.perf_counter()
    with tracer.span("build", parent=rid) if tracer else nullcontext():
        out = _build(spark, in_dir)
    build_s = time.perf_counter() - t_build
    if tracer:
        b = meter.take()
        tot.update({"queries.build_s": build_s, "queries.build_jobs": b["jobs"],
                    "queries.build_tasks": b["tasks"], "queries.build_task_s": b["task_s"],
                    "queries.build_shuffle_bytes":
                        b["shuffle_read_bytes"] + b["shuffle_write_bytes"]})
    n_progress = len(listener.progress) if listener else 0
    query = foreach_batch_sink(out, sink, available_now=False)
    gen = None
    try:
        # priming: negative event ids, tick -1, before any generator file
        write_events(in_dir, "prime.parquet", np.arange(-PRIME_EVENTS, 0),
                     np.random.default_rng((seed, 1)), time.time(), -1)
        _wait(query, lambda: any(len(p) for _, _, p in batches), lock, "priming")
        t0 = time.time() + 0.5
        summary_path = os.path.join(root, "generator.json")
        plan = phases(measure_s)
        spec = ",".join(f"{d:g}:{r:g}" for d, r in plan)
        gen = subprocess.Popen([
            sys.executable, os.path.join(HERE, "livegen.py"), "--dir", in_dir,
            "--seed", str(seed), "--t0", repr(t0), "--phases", spec, "--summary", summary_path,
        ])
        gen_timeout = sum(d for d, _ in plan) + 30.0
        if gen.wait(timeout=gen_timeout) != 0:
            raise RuntimeError(f"live generator exited with {gen.returncode}")
        events = read_events(in_dir)
        expected = expected_output(events)
        res.events = len(events)
        _wait(query, lambda: sum(len(p) for _, _, p in batches) >= len(expected), lock,
              "drain")
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        query.stop()
    t_rel = time.perf_counter()
    tot["session.rdds_released"] = release_cached(spark)
    tot["session.release_cached_s"] = time.perf_counter() - t_rel
    if tracer:
        tracer.close(rid)

    with open(summary_path) as f:
        res.generator = json.load(f)
    frames = [p.assign(emit=t) for t, _, p in batches if len(p)]
    emitted = pd.concat(frames) if frames else pd.DataFrame(columns=OUT_COLS + ["emit"])
    res.failed = verify(emitted, expected)

    warm = emitted[emitted.due < t0 + WARMUP_S]
    if not len(warm):
        raise RuntimeError("live run emitted no purchases in its warm-up")
    res.warmup_s = float(warm.emit.max()) - t_start
    lo = (t0 + WARMUP_S, t0 + WARMUP_S + window_s(measure_s))
    low = emitted[(emitted.due >= lo[0]) & (emitted.due < lo[1])]
    res.latency_ms = list((low.emit - low.due) * 1000.0)

    progress = progress_dicts(query) if listener is None else listener.progress[n_progress:]
    # overload: the microbatches that took a burst. A batch's events are
    # those in the files up to the newest tick it emitted (counted from the
    # files, not from numInputRows, which counts each scan of the source)
    per_tick = events.groupby("tick").size()
    upto = per_tick.reindex(range(int(per_tick.index.max()) + 1), fill_value=0).cumsum()
    bursts = set(burst_ticks(measure_s))
    by_id = {p["batchId"]: p for p in progress}
    burst_s, burst_rate = [], []
    done_tick, done = -1, 0
    for _, bid, pdf in sorted(batches, key=lambda b: b[1]):
        if not len(pdf) or pdf.tick.max() < 0:  # empty, or priming only
            continue
        newest = int(pdf.tick.max())
        now_done = int(upto.iloc[newest])
        if bid in by_id and any(done_tick < b <= newest for b in bursts):
            secs = by_id[bid]["durationMs"]["triggerExecution"] / 1000.0
            burst_s.append(secs)
            burst_rate.append((now_done - done) / secs)
        done_tick, done = newest, now_done
    res.bursts = len(burst_s)
    res.wall_s = float(np.median(burst_s)) if burst_s else 0.0
    res.events_per_s = float(np.median(burst_rate)) if burst_rate else 0.0

    if tracer:
        tot["exec.core_util"] = core_util(spark, tot)
        for k, v in streaming_summary(progress).items():
            tot[f"streaming.{k}"] = v
        for p in progress:  # source and batch spans from the engine's own progress
            started = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            s = started - time.time() + time.perf_counter() - tracer.t0
            d = p.get("durationMs") or {}
            for name, key in (("batch", "triggerExecution"), ("source", "latestOffset")):
                tracer.add(name, rid, s, s + d.get(key, 0) / 1000, batch=p.get("batchId"))
        lag = float(np.median([f for t, f in lags if lo[0] <= t < lo[1]] or [0]))
        tot["sources.lag_files"] = lag
        tot["sources.lag_s"] = lag * TICK_S
        res.layers = tot
    return res
