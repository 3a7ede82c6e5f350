"""Dedup pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload code_typical --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. Inputs are generated from --seed (and
cached under .perfbench/ in the checkout), the program runs on a local
Spark session with one task slot per available core, and every output is
checked. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it records
host noise and the raw samples.

--trace 0 measures end to end: set-up (JVM and session start, Python worker
pool, one untimed warm-up operation; its wall is setup_s), then a closed
loop of operations, one in flight at a time, for --seconds. An operation is `DedupPipeline.run`
plus full materialization of the assignment in this process.

--trace 1 is the separate traced run: the same set-up, one untraced
operation, then the layers one by one (see layers.py).

--toy runs the same code at a few hundred files (used by selftest.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "1g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true")
    return p.parse_args(argv)


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark writes inside the checkout; must run before
    the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--conf spark.ui.showConsoleProgress=false",
              f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:CompileThresholdScaling=0.1'"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{log_dir}",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([*submit, "pyspark-shell"])


def start_session(cores: int):
    from deduplipy_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def batch_op(spark, files_path: str, cfg) -> tuple[float, object]:
    """One operation: read, run the pipeline, materialize the assignment."""
    from deduplipy_spark.plans.pipeline import DedupPipeline

    t0 = time.perf_counter()
    pipe = DedupPipeline(spark, cfg)
    out = pipe.run(spark.read.parquet(files_path)).toPandas()
    wall = time.perf_counter() - t0
    pipe.close()
    return wall, out


def end_to_end(inputs, cfg, cores: int, seconds: float) -> tuple[dict, dict]:
    from check import KEY_COLS, check_assignment
    from host import PeakRss, loadavg_1m, steal_jiffies

    t0 = time.perf_counter()
    spark = start_session(cores)
    batch_op(spark, inputs.files, cfg)              # untimed warm-up
    setup = time.perf_counter() - t0
    walls, outs, raised = [], [], 0
    steal0 = steal_jiffies()
    deadline = time.perf_counter() + seconds
    with PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
        while True:
            spark.catalog.clearCache()
            try:
                wall, out = batch_op(spark, inputs.files, cfg)
                walls.append(wall)
                outs.append(out)
            except Exception:          # an operation that raised is a failure
                traceback.print_exc()
                raised += 1
            if time.perf_counter() >= deadline:
                break
    steal = steal_jiffies() - steal0
    stop_session(spark)
    if not outs:
        raise RuntimeError("every operation raised")

    reference = inputs.reference(outs[0][[*KEY_COLS, "file_id"]], cfg)
    ok_walls, recalls, precisions, failed = [], [], [], raised
    for wall, out in zip(walls, outs):
        res = check_assignment(out, inputs.truth, reference)
        if res["errors"]:
            print("check failed:", res["errors"], file=sys.stderr)
            failed += 1
            continue
        ok_walls.append(wall)
        recalls.append(res["recall"])
        precisions.append(res["precision"])
    if not ok_walls:
        raise RuntimeError("no operation passed the output check")
    n = inputs.workload.n_files
    metrics = {
        "files_per_s": (n / statistics.median(ok_walls), "files/s"),
        "pair_recall": (min(recalls), "ratio"),
        "pair_precision": (min(precisions), "ratio"),
        "setup_s": (setup, "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    record = {"ops": len(walls), "op_walls_s": walls,
              "steal_jiffies": steal, "loadavg_1m": loadavg_1m()}
    return _result(metrics, len(walls) + raised, failed), record


def traced(inputs, cfg, cores: int, run_dir: str) -> tuple[dict, dict]:
    import layers
    from check import KEY_COLS, RECALL_FLOOR, check_assignment, pair_scores
    from host import loadavg_1m, steal_jiffies

    steal0 = steal_jiffies()
    spark = start_session(cores)
    batch_op(spark, inputs.files, cfg)              # untimed warm-up
    spark.catalog.clearCache()
    tracer = layers.Tracer(spark)
    with tracer.span("pipeline"):
        _, untraced_out = batch_op(spark, inputs.files, cfg)
    spark.catalog.clearCache()
    traced_out, counts = layers.traced_chain(
        spark, cfg, inputs.files, cores, tracer, run_dir)
    seed_dir, batch_dirs = inputs.incremental_dirs()
    matches, inc_counts = layers.traced_incremental(
        spark, cfg, seed_dir, batch_dirs, tracer, run_dir)
    stop_session(spark)
    counts.update(inc_counts)
    groups = layers.event_log_stats(os.path.join(run_dir, "eventlog"))

    reference = inputs.reference(untraced_out[[*KEY_COLS, "file_id"]], cfg)
    failed = 0
    for out in (untraced_out, traced_out):
        res = check_assignment(out, inputs.truth, reference)
        if res["errors"]:
            print("check failed:", res["errors"], file=sys.stderr)
            failed += 1
    # the incremental match log, read as a graph, against planted truth
    ids = inputs.truth.merge(untraced_out[[*KEY_COLS, "file_id"]], on=KEY_COLS)
    labels = _components(ids.file_id, matches.new_id, matches.existing_id)
    recall, _ = pair_scores(ids.truth_cluster, ids.file_id.map(labels))
    if recall < RECALL_FLOOR:
        print(f"check failed: incremental pair recall {recall:.4f}", file=sys.stderr)
        failed += 1
    counts["incremental.pair_recall"] = recall
    metrics = layers.layer_metrics(tracer, groups, counts, cores)
    units = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    result = _result({k: (v, units[k]) for k, v in metrics.items()}, 3, failed)
    record = {"spans_s": tracer.spans, "steal_jiffies": steal_jiffies() - steal0,
              "loadavg_1m": loadavg_1m()}
    return result, record


def _components(nodes, src, dst) -> dict[int, int]:
    """Minimum-id connected component of every node (union-find)."""
    parent = {int(n): int(n) for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src, dst):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _result(metrics: dict, attempted: int, failed: int) -> dict:
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "deduplipy_spark", "__init__.py")):
        print(f"perfbench: no deduplipy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from inputs import TOY, WORKLOADS, Inputs

    table = TOY if args.toy else WORKLOADS
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        configure_env(run_dir, bool(args.trace))
        from deduplipy_spark.config import EngineConfig

        cache = os.path.join(STATE, "inputs")
        inputs = Inputs(table[args.workload], args.seed, cache)
        cores = len(os.sched_getaffinity(0))
        cfg = EngineConfig(**inputs.workload.config)
        if args.trace:
            result, record = traced(inputs, cfg, cores, run_dir)
        else:
            result, record = end_to_end(inputs, cfg, cores, args.seconds)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record.update(workload=args.workload, seed=args.seed, cores=cores,
                  files=inputs.workload.n_files)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
