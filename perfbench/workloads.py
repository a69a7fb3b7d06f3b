"""Query workloads: which catalog queries each runs, how a result is consumed
and checked, and one pass over them with or without tracing."""

from __future__ import annotations

import json
import os
import random
import re
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType, MapType

from layers import (JobMeter, Tracer, catalyst_phases, core_util, layer_totals, streaming_summary,
                    wait_listeners)

HERE = os.path.dirname(os.path.abspath(__file__))

GRAPH = [
    "graph_diameter_double_sweep",
    "pagerank_supplier_customer",
    "bfs_levels_cycle_ir",
    "sssp_weighted_cycle_ir",
    "dedup_clusters",
    "kmeans_embedding_clusters",
]
STREAMING = [
    "streaming_interval_join",
    "streaming_left_enrichment_join",
    "streaming_watermark_late_drop",
    "streaming_stream_stream_join",
    "streaming_tumbling_window_daily",
    "streaming_session_window_gap",
    "streaming_scan_threshold",
    "streaming_static_enrichment",
    "streaming_last_per_key",
    "streaming_partitioned_application",
    "application_bundle_run",
]


def workload_queries(workload: str, catalog: dict) -> list[str]:
    """Catalog query names of a query workload, in catalog order."""
    if workload == "batch_relational":
        tpch = [n for n in catalog if re.match(r"q\d+_", n)]
        return tpch + ["partitioned_application_two_part"]
    if workload == "iterative_graph":
        return list(GRAPH)
    if workload == "streaming_replay":
        return list(STREAMING)
    raise ValueError(f"not a query workload: {workload}")


def _hashable(name: str, dtype):
    """Column expression fed to the digest hash. Floating values are rounded
    to float32 so a last-ulp difference from summation order does not read
    as a wrong answer; maps (which Spark cannot hash) go through JSON."""
    c = F.col(f"`{name}`")
    if isinstance(dtype, (DoubleType, FloatType)):
        return c.cast("float")
    if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, (DoubleType, FloatType)):
        return F.transform(c, lambda x: x.cast("float"))
    if isinstance(dtype, MapType):
        return F.to_json(c)
    return c


def digest_df(df: DataFrame) -> DataFrame:
    """One-row, order-insensitive digest of every column: (row count, sum of
    per-row xxhash64). Hashing every column keeps column pruning from
    skipping work the caller would see."""
    h = F.xxhash64(*[_hashable(f.name, f.dataType) for f in df.schema.fields])
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("hash"),
    )


def digest_value(row) -> dict:
    return {"rows": int(row["rows"]), "hash": str(row["hash"] if row["hash"] is not None else 0)}


def reference_path(scale: float) -> str:
    """Stored digests for a data scale: one file per scale."""
    from datagen import DEFAULT_SCALE

    suffix = "" if scale == DEFAULT_SCALE else f"_sf{scale:g}"
    return os.path.join(HERE, f"reference_digests{suffix}.json")


def load_reference(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


@dataclass
class PassResult:
    wall_s: float
    query_s: dict = field(default_factory=dict)  # name -> build+action seconds
    failed: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)  # traced passes only


def _traced_query(spark, build, tracer: Tracer, meter: JobMeter, qid: int, tot: dict) -> dict:
    """Build, plan and execute one query inside spans, adding each phase's
    jobs and Catalyst times to ``tot``; returns the digest."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    sc.setJobGroup(f"{tracer.run_id}:{qid}:build", "build")
    with tracer.span("build", parent=qid):
        df = build()
    tot["queries.build_s"] += time.perf_counter() - t0
    b = meter.take()
    tot["queries.build_jobs"] += b["jobs"]
    tot["queries.build_tasks"] += b["tasks"]
    tot["queries.build_task_s"] += b["task_s"]
    tot["queries.build_shuffle_bytes"] += b["shuffle_read_bytes"] + b["shuffle_write_bytes"]
    sc.setJobGroup(f"{tracer.run_id}:{qid}:plan", "plan")
    with tracer.span("plan", parent=qid):
        ddf = digest_df(df)
        for k, v in catalyst_phases(ddf).items():
            tot[f"catalyst.{k}"] += v
    sc.setJobGroup(f"{tracer.run_id}:{qid}:exec", "exec")
    t1 = time.perf_counter()
    with tracer.span("exec", parent=qid):
        got = digest_value(ddf.collect()[0])
    tot["exec.s"] += time.perf_counter() - t1
    for k, v in meter.take().items():
        tot[f"exec.{k}"] += v
    return got


def run_pass(spark, sf_dir: str, names: list[str], catalog: dict, reference: dict,
             order_seed: int, tracer: Tracer | None = None, listener=None) -> PassResult:
    """Run every query once, in an order shuffled by ``order_seed``; consume
    each result with the digest action and compare it with the reference.
    With a ``tracer`` also record spans and per-layer totals (jobs per phase,
    Catalyst phases, streaming progress)."""
    from milan_spark.session import release_cached

    order = list(names)
    random.Random(order_seed).shuffle(order)
    refs = reference["queries"]
    res = PassResult(wall_s=0.0)
    tot = layer_totals()
    meter = JobMeter(spark) if tracer else None
    n_progress = len(listener.progress) if listener else 0
    with tracer.span("pass", order_seed=order_seed) if tracer else nullcontext() as pid:
        t_pass = time.perf_counter()
        for name in order:
            t0 = time.perf_counter()
            build = partial(catalog[name], spark, sf_dir)
            try:
                if tracer is None:
                    got = digest_value(digest_df(build()).collect()[0])
                else:
                    with tracer.span("query", parent=pid, query=name) as qid:
                        got = _traced_query(spark, build, tracer, meter, qid, tot)
                res.query_s[name] = time.perf_counter() - t0
                if got != refs.get(name):
                    res.failed.append(name)
                    print(f"perfbench: {name} digest {got} != reference {refs.get(name)}",
                          file=sys.stderr)
            except Exception:  # one failing query is counted; the pass goes on
                res.failed.append(name)
                traceback.print_exc()
            t_rel = time.perf_counter()
            with tracer.span("release", parent=pid, query=name) if tracer else nullcontext():
                n_rdds = release_cached(spark)
            tot["session.release_cached_s"] += time.perf_counter() - t_rel
            tot["session.rdds_released"] += n_rdds
            if tracer:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        res.wall_s = time.perf_counter() - t_pass
    if tracer:
        tot["exec.core_util"] = core_util(spark, tot)
        if listener is not None:
            wait_listeners(spark)
            for k, v in streaming_summary(listener.progress[n_progress:]).items():
                tot[f"streaming.{k}"] = v
        res.layers = tot
    return res
