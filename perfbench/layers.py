"""Traced run: the pipeline's layers called one by one from the benchmark.

Each layer's public function is called in pipeline order on its
predecessor's output, already materialized (persist + count). Each call runs
inside a Spark job group named after its layer, and its span is the wall
time of the call plus the materialization of its output. The Spark event
log (switched on in the launch conf of the traced process only) then gives
jobs, task time, shuffle, spill, failed tasks and bytes sent to Python
workers per job group; the SQL UDF profiler gives Python time inside the
signature UDF. Work the benchmark does for its own bookkeeping runs in the
job group "bench" and falls outside every span.

Besides the batch chain, the traced run writes each materialized stage cut
through `TableIO.write` (layer `io`) and feeds the same corpus through
`IncrementalNearDup.process_batch` (layer `incremental`): a seed index and
a few micro-batches.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time
from contextlib import contextmanager

import pandas as pd

# layers in pipeline order; "assignment" (the final joins) is timed so the
# traced total covers the same work as one untraced operation, but it is
# not a layer of its own
CHAIN = ["ids", "exact_dedup", "minhash.signatures", "minhash.bands", "pairs",
         "scoring", "components", "agglomerate"]
LAYERS = [*CHAIN, "io", "incremental", "pipeline"]
BOOKKEEPING = "bench"
PYTHON_BYTES = "data sent to Python workers"


class Tracer:
    """Spans per layer, each tied to the Spark job group of the same name."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: dict[str, list[float]] = {}
        self.sc.setJobGroup(BOOKKEEPING, BOOKKEEPING)

    @contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.setdefault(layer, []).append(time.perf_counter() - t0)
            self.sc.setJobGroup(BOOKKEEPING, BOOKKEEPING)

    def total(self, layer: str) -> float:
        return sum(self.spans.get(layer, ()))


def event_log_stats(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, task seconds, shuffle/spill/python MB, failures."""
    stats: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    g = stats.setdefault(group, _zero())
                    g["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    g = stats.setdefault(stage_group.get(ev["Stage ID"]), _zero())
                    info = ev["Task Info"]
                    g["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1e3
                    g["failed_tasks"] += bool(info.get("Failed"))
                    m = ev.get("Task Metrics") or {}
                    g["shuffle_mb"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0) / 2**20
                    g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 2**20
                    for acc in info.get("Accumulables", ()):
                        if acc.get("Name") == PYTHON_BYTES:
                            g["python_mb"] += int(acc.get("Update", 0)) / 2**20
    return stats


def _zero() -> dict[str, float]:
    return dict.fromkeys(
        ("jobs", "task_s", "failed_tasks", "shuffle_mb", "spill_mb", "python_mb"), 0.0)


def udf_seconds(spark, dump_dir: str) -> float:
    """Python time inside profiled UDFs (sum over all tasks)."""
    spark.profile.dump(dump_dir, type="perf")
    return sum(pstats.Stats(p).total_tt
               for p in glob.glob(os.path.join(dump_dir, "*.pstats")))


def _du_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 2**20


def traced_chain(spark, cfg, files_path: str, cores: int, tracer: Tracer,
                 work_dir: str) -> tuple[pd.DataFrame, dict]:
    """Batch layers one by one; returns (assignment, layer counts)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from deduplipy_spark.ids import with_identity
    from deduplipy_spark.operators.agglomerate import cluster_components
    from deduplipy_spark.operators.components import connected_components
    from deduplipy_spark.operators.exact_dedup import exact_groups
    from deduplipy_spark.operators.minhash import band_keys, with_signatures
    from deduplipy_spark.operators.pairs import band_stats, candidate_pairs
    from deduplipy_spark.operators.scoring import score_pairs
    from deduplipy_spark.sources.io import TableIO

    cached = []

    def cut(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        cached.append(df)
        return df, df.count()

    counts: dict[str, float] = {}
    with tracer.span("ids"):
        files = spark.read.parquet(files_path)
        # the pipeline's defensive repartition for inputs with fewer than
        # two scan partitions per core
        if files.rdd.getNumPartitions() < 2 * cores:
            files = files.repartition(2 * cores)
        ident_full, counts["ids.rows_out"] = cut(
            with_identity(files, cfg.id_cols, cfg.content_col))
    with tracer.span("exact_dedup"):
        groups, n_reps = cut(exact_groups(ident_full))
    counts["exact_dedup.reps_ratio"] = n_reps / counts["ids.rows_out"]
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    with tracer.span("minhash.signatures"):
        reps = ident_full.join(
            groups.select(F.col("rep_id").alias("file_id")), "file_id", "semi")
        sigs, _ = cut(with_signatures(reps, cfg))
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    counts["minhash.signatures.udf_s"] = udf_seconds(
        spark, os.path.join(work_dir, "udf_profile"))
    with tracer.span("minhash.bands"):
        bands, counts["minhash.bands.rows_out"] = cut(band_keys(sigs, cfg))
    with tracer.span("pairs"):
        cands, n_cands = cut(candidate_pairs(bands, cfg, assume_distinct=True,
                                             cache=cached))
    counts["pairs.candidates"] = n_cands
    counts["pairs.cap_dropped_pairs"] = band_stats(bands, cfg).agg(
        F.sum("dropped_pairs")).collect()[0][0] or 0
    with tracer.span("scoring"):
        scored, n_scored = cut(score_pairs(cands, sigs, cfg))
    counts["scoring.kept_ratio"] = n_scored / n_cands if n_cands else 1.0
    cc_stats: dict = {}
    with tracer.span("components"):
        comps, _ = cut(connected_components(
            scored, cfg.max_cc_rounds, cfg.driver_cc_max_edges,
            with_sizes=True, stats_out=cc_stats))
    counts["components.edges"] = cc_stats.get("n_edges", n_scored)
    counts["components.driver_path"] = float("max_component_size" in cc_stats)
    with tracer.span("agglomerate"):
        clusters, _ = cut(cluster_components(
            scored, comps, cfg,
            max_component_size=cc_stats.get("max_component_size"),
            n_edges=cc_stats.get("n_edges")))
    counts["agglomerate.max_component"] = comps.agg(
        F.max("_csize")).collect()[0][0] or 0
    counts["agglomerate.capped"] = clusters.where("capped").count()
    with tracer.span("assignment"):
        # the pipeline's final joins: exact members inherit their
        # representative's near-dup cluster, singletons keep their own id
        assignment = (
            ident_full.select("file_id", "content_sha", *cfg.id_cols, "lang")
            .join(groups.select("content_sha", "rep_id"), "content_sha")
            .join(clusters.select(F.col("id").alias("rep_id"),
                                  F.col("cluster_id").alias("nd_cluster")),
                  "rep_id", "left")
            .withColumn("cluster_id", F.coalesce("nd_cluster", "rep_id"))
            .select("file_id", *cfg.id_cols, "lang", "content_sha", "cluster_id"))
        out = assignment.toPandas()

    io = TableIO(spark, os.path.join(work_dir, "checkpoint"), cfg.config_hash(),
                 input_key="perfbench")
    cuts = {"files_hashed": ident_full.drop(cfg.content_col), "rep_ids": groups,
            "signatures": sigs, "bands": bands, "candidates": cands,
            "scored_pairs": scored, "components": comps,
            "clusters_nd": clusters, "clusters": assignment}
    with tracer.span("io"):
        for stage, df in cuts.items():
            io.write(stage, df)
    counts["io.writes"] = len(cuts)
    counts["io.write_mb"] = _du_mb(io.root)
    for df in cached:
        df.unpersist()
    return out, counts


def traced_incremental(spark, cfg, seed_dir: str, batch_dirs: list[str],
                       tracer: Tracer, work_dir: str) -> tuple[pd.DataFrame, dict]:
    """Seed the band index, then append micro-batches; returns the match log."""
    from deduplipy_spark.streaming.incremental import IncrementalNearDup

    inc = IncrementalNearDup(spark, cfg, os.path.join(work_dir, "incremental"))
    walls = []
    for batch_id, path in enumerate([seed_dir, *batch_dirs]):
        with tracer.span("incremental"):
            inc.process_batch(spark.read.parquet(path), batch_id)
        walls.append(tracer.spans["incremental"][-1])
    counts = {
        "incremental.seed_s": walls[0],
        "incremental.batch_p50_s": statistics.median(walls[1:]),
        "incremental.latency_growth_s": walls[-1] - walls[1],
        "incremental.index_rows": spark.read.parquet(inc.bands_path).count(),
    }
    matches = spark.read.parquet(inc.matches_path).toPandas()
    return matches, counts


def layer_metrics(tracer: Tracer, groups: dict, counts: dict,
                  cores: int) -> dict[str, float]:
    """Flatten spans, event-log stats and counts into per-layer metrics."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        span = tracer.total(layer)
        g = groups.get(layer, _zero())
        out[f"{layer}.jobs"] = g["jobs"]
        out[f"{layer}.failed_tasks"] = g["failed_tasks"]
        out[f"{layer}.core_idle_frac"] = (
            1.0 - g["task_s"] / (span * cores) if span else 0.0)
        if layer not in ("incremental", "pipeline"):
            out[f"{layer}.self_s"] = span
    for layer in ("minhash.signatures", "pairs", "scoring", "agglomerate"):
        out[f"{layer}.task_s"] = groups.get(layer, _zero())["task_s"]
    for layer in ("pairs", "scoring"):
        out[f"{layer}.shuffle_mb"] = groups.get(layer, _zero())["shuffle_mb"]
    out["pairs.spill_mb"] = groups.get("pairs", _zero())["spill_mb"]
    out["minhash.signatures.python_mb"] = groups.get(
        "minhash.signatures", _zero())["python_mb"]
    traced = sum(tracer.total(layer) for layer in [*CHAIN, "assignment"])
    out["pipeline.traced_s"] = traced
    out["pipeline.untraced_s"] = tracer.total("pipeline")
    out["pipeline.trace_overhead_s"] = traced - tracer.total("pipeline")
    out.update(counts)
    return out
