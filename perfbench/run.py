"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload billing_lake --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The last stdout line is the result
({"correct", "attempted", "failed", "metrics"}); the line before it is the
run record. With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, measured untraced; with ``--trace 1`` they are the
per-layer metrics. See perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext

import probes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
RECORDS = os.path.join(ROOT, ".perfbench_runs")
DRIVER_MEMORY = "2g"
# A run must end within 180 s. A traced run skips its second untraced pass
# when that pass, estimated by the traced pass, would end later than this,
# leaving room for the checks and the shutdown.
TRACE_DEADLINE_S = 155

END_TO_END = ("setup_s", "pass_cpu_s")
# Measured on every run like the end-to-end metrics, but too unsteady on a
# shared host to gate on (see METRICS.md): per-layer, from the untraced pass.
UNGATED = ("pass_s", "peak_rss_mb")

WORKLOAD_METRICS = (
    "backfill_rows_per_s", "daily_run_s", "noop_run_s", "stream_rows_per_s",
    "curate_docs_per_s", "neardup_s", "topk_s",
)
SPARK_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "failed_tasks",
    "driver_gap_s", "serial_stage_s", "core_busy",
)
MODULES = (
    "pipeline", "sources", "ledger", "ingest", "aggregates", "streaming",
    "curate", "dedup", "similarity", "plans",
)
PIPELINE_STAGES = ("ingest", "aggregates", "insights")
RUN_KINDS = ("backfill", "daily", "noop")
PLAN_QUERIES = ("minhash_neardup_pairs_portable", "embedding_pq_topk")
COUNTS = frozenset({
    "ledger.files_hashed", "ingest.rows_read", "ingest.rows_appended",
    "sources.snapshot_commits", "streaming.batches", "curate.chunks_written",
    "dedup.pairs", "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
})


def per_layer_names() -> list[str]:
    names = list(UNGATED) + list(WORKLOAD_METRICS)
    names += [f"pipeline.{k}.{s}_s" for k in RUN_KINDS for s in PIPELINE_STAGES]
    names += [
        "sources.read_partition_root_s", "sources.raw_billing_mb",
        "sources.snapshot_commit_s", "sources.snapshot_commits", "sources.snapshot_vacuum_s",
        "ledger.hash_s", "ledger.files_hashed", "ledger.skip_ratio", "ledger.record_s",
        "ingest.append_s", "ingest.rows_read", "ingest.rows_appended", "ingest.useful_ratio",
        "streaming.batches", "streaming.batch_s", "streaming.overhead_s",
        "curate.keep_ratio", "curate.chunks_written",
        "dedup.build_s", "dedup.exec_s", "dedup.pairs", "dedup.planted_recall",
        "similarity.build_s", "similarity.exec_s", "similarity.recall_at_k",
        "plans.build_s", "plans.exec_s",
    ]
    names += [f"plans.{q}_s" for q in PLAN_QUERIES]
    names += [f"spark.{m}" for m in SPARK_METRICS] + ["settle_s"]
    names += [f"self.{m}_s" for m in MODULES]
    names += ["trace.overhead_s"]
    return names


def unit_of(name: str) -> str:
    if name in COUNTS:
        return "count"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    return "ratio"


def fixed_env() -> dict[str, str]:
    """The environment every run executes under: hash seed, core count,
    driver memory, and every scratch location inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    return dict(
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_UI="false",
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
        ),
    )


class Steps:
    """Times each step of a pass. Before a step it waits for the JVM to
    settle; after it, when traced, it reads the stages the step ran from
    the status store. The CPU time of a pass runs from its first step to
    the settle after its last, so background work a step leaves behind
    (JIT, GC) is charged to the pass."""

    class Timing:
        wall = 0.0

    def __init__(self, jvm_pid: int, tracer=None, reader=None) -> None:
        self.jvm = jvm_pid
        self.tracer = tracer
        self.reader = reader
        self.walls: list[tuple[str, float]] = []
        self.settle_s = 0.0
        self.cpu0: float | None = None
        self.spark: dict[str, float] = {}
        self.step_spark: list[tuple[str, dict]] = []

    def _settle(self) -> float:
        t0 = time.perf_counter()
        probes.settle(self.jvm)
        while self.reader is not None and self.reader.active_jobs():
            time.sleep(0.05)
        return time.perf_counter() - t0

    @contextmanager
    def __call__(self, name: str):
        waited = self._settle()
        t = self.Timing()
        if self.tracer is not None:
            self.tracer.kind = name
        span = self.tracer.span(f"step.{name}", "bench") if self.tracer else nullcontext()
        if self.cpu0 is None:
            self.cpu0 = probes.cpu_s(self.jvm)
        e0 = time.time()
        t0 = time.perf_counter()
        with span:
            yield t
        t.wall = time.perf_counter() - t0
        e1 = time.time()
        self.walls.append((name, t.wall))
        self.settle_s += waited
        if self.reader is not None:
            self._settle()
            read = self.reader.read(e0, e1)
            self.step_spark.append((name, read))
            for k, v in read.items():
                self.spark[k] = self.spark.get(k, 0.0) + v

    def reset(self) -> None:
        self.walls, self.settle_s, self.spark, self.step_spark = [], 0.0, {}, []
        self.cpu0 = None

    def cpu_since_first_step(self) -> float:
        self._settle()
        return probes.cpu_s(self.jvm) - self.cpu0


def one_pass(workload, spark, steps: Steps, tracer=None) -> dict:
    """Run one recorded pass and return its sample."""
    steps.reset()
    s = workload.run_pass(spark, steps, tracer)
    s["pass_s"] = sum(w for _, w in steps.walls)
    s["pass_cpu_s"] = steps.cpu_since_first_step()
    s["steps"] = list(steps.walls)
    s["settle_s"] = steps.settle_s
    if steps.step_spark:
        s["step_spark"] = list(steps.step_spark)
    return s


def install_patches(tracer, spark) -> None:
    """Spans around the program's layer entry points. Layers that return a
    lazy DataFrame (the ledger's hash and filter) are executed inside their
    span, so their work is charged where it is asked for; the result is
    handed on as an equivalent local relation."""
    import billing_data_pipeline_spark.pipeline as P
    from billing_data_pipeline_spark.operators.ledger import FileLedger
    from billing_data_pipeline_spark.sources.versioned_sink import SnapshotTable

    def local(rec, df):
        rows = df.collect()
        rec["rows"] = len(rows)
        return spark.createDataFrame(rows, df.schema)

    def count_batch(attrs, args, kwargs):
        attrs["rows_read"] = args[0].count()

    for stage, attr in zip(PIPELINE_STAGES, ("ingest", "build_aggregates", "insights")):
        tracer.patch(P.BillingPipeline, attr, f"pipeline.{stage}", "pipeline")
    tracer.patch(P.BillingPipeline, "run", "pipeline.run", "pipeline")
    tracer.patch(P, "read_partition_root", "sources.read_partition_root", "sources")
    tracer.patch(P, "grouped_profile", "aggregates.build", "aggregates")
    tracer.patch(P, "hash_files", "ledger.hash", "ledger", force=local)
    tracer.patch(FileLedger, "filter_unprocessed", "ledger.filter", "ledger", force=local)
    tracer.patch(FileLedger, "record", "ledger.record", "ledger")
    tracer.patch(
        P, "append_new_rows_per_file", "ingest.append", "ingest", pre=count_batch,
        post=lambda rec, a, kw, out: rec.update(rows_appended=out[0]),
    )
    tracer.patch(SnapshotTable, "commit", "sources.snapshot_commit", "sources")
    tracer.patch(SnapshotTable, "vacuum", "sources.snapshot_vacuum", "sources")


def layer_metrics(tracer, p: int, steps: Steps, sample: dict, extra: dict) -> dict:
    """Per-layer metrics of traced pass ``p``."""
    spans = tracer.of_pass(p)
    net = tracer.net_of_tracing(spans)

    def total(name, key=None):
        return sum((s["t1"] - s["t0"]) if key is None else s.get(key, 0) for s in spans if s["name"] == name)

    out = {m: 0.0 for m in per_layer_names()}
    for kind in RUN_KINDS:
        for stage in PIPELINE_STAGES:
            walls = [net[s["id"]] for s in spans if s["name"] == f"pipeline.{stage}" and s["kind"] == kind]
            if walls:
                out[f"pipeline.{kind}.{stage}_s"] = statistics.median(walls)
    out["sources.read_partition_root_s"] = total("sources.read_partition_root")
    out["sources.snapshot_commit_s"] = total("sources.snapshot_commit")
    out["sources.snapshot_commits"] = sum(s["name"] == "sources.snapshot_commit" for s in spans)
    out["sources.snapshot_vacuum_s"] = total("sources.snapshot_vacuum")
    files = total("ledger.hash", "rows")
    out["ledger.hash_s"] = total("ledger.hash")
    out["ledger.files_hashed"] = files
    out["ledger.skip_ratio"] = 1 - total("ledger.filter", "rows") / files if files else 0.0
    out["ledger.record_s"] = total("ledger.record")
    read = total("ingest.append", "rows_read")
    out["ingest.append_s"] = total("ingest.append")
    out["ingest.rows_read"] = read
    out["ingest.rows_appended"] = total("ingest.append", "rows_appended")
    out["ingest.useful_ratio"] = out["ingest.rows_appended"] / read if read else 0.0
    if "query" in sample:
        from tracing import stream_progress

        for k, v in stream_progress(sample["query"]).items():
            out[f"streaming.{k}"] = v
    if "curate" in sample:
        m = sample["curate"]
        out["curate.keep_ratio"] = m["docs_kept"] / m["docs_in"]
        out["curate.chunks_written"] = m["chunks_written"]
    for layer in ("dedup", "similarity"):
        out[f"{layer}.build_s"] = total(f"{layer}.build")
        out[f"{layer}.exec_s"] = total(f"{layer}.exec")
    out["plans.build_s"] = out["dedup.build_s"] + out["similarity.build_s"]
    out["plans.exec_s"] = out["dedup.exec_s"] + out["similarity.exec_s"]
    for q in PLAN_QUERIES:
        out[f"plans.{q}_s"] = total(f"plans.{q}")
    for k, v in steps.spark.items():
        out[f"spark.{k}"] = v
    wall = sum(w for _, w in steps.walls)
    out["spark.core_busy"] = steps.spark.get("executor_run_s", 0.0) / (wall * steps.reader.cores)
    out["settle_s"] = steps.settle_s
    for module, v in tracer.self_time_by_module(spans).items():
        if module in MODULES:
            out[f"self.{module}_s"] = v
    out.update(extra)
    return out


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and every
    process under it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = probes.process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "billing_data_pipeline_spark")):
        print("perfbench: billing_data_pipeline_spark not found next to perfbench/", file=sys.stderr)
        return 2
    env = fixed_env()
    if "SPARK_MASTER" in os.environ or any(os.environ.get(k) != v for k, v in env.items()):
        for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
            os.makedirs(d, exist_ok=True)
        full = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *argv], {**full, **env})

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    workload = WORKLOADS[args.workload](work, args.seed)
    record: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "machine_start": probes.machine_state(),
        "env": {k: env[k] for k in ("PYTHONHASHSEED", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")},
        "filesystem": probes.filesystem_of(WORK),
    }
    t0 = time.perf_counter()
    record["inputs"] = workload.make_inputs()
    record["gen_s"] = time.perf_counter() - t0

    from billing_data_pipeline_spark.session import get_spark
    from checks import Checks

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        from pyspark import SparkContext

        workload.setup(spark)
        setup_s = time.perf_counter() - t0
        steps = Steps(SparkContext._gateway.proc.pid)

        tracer = None
        untraced: list[dict] = []
        plain = steps
        if args.trace:
            from tracing import StageReader, Tracer

            # The first pass runs in a cold JVM, so the traced pass is not
            # the first: an untraced pass runs before it (the same
            # position as the one pass of an untraced run, which the
            # workload metrics and peak_rss_mb come from) and another after
            # it (the reference of trace.overhead_s). The PSS sampler
            # reads /proc four times a second, which costs CPU in this
            # process, so it samples only that first pass, and untraced
            # runs, whose CPU time is gated, do not sample at all.
            pss = probes.PeakPss(steps.jvm).start()
            untraced.append(one_pass(workload, spark, plain))
            record["peak_pss_mb"] = pss.stop()
            record["pss_at_peak"] = pss.at_peak
            tracer = Tracer()
            steps = Steps(plain.jvm, tracer, StageReader(spark))
            install_patches(tracer, spark)
        samples, layers = [], []
        t_loop = time.perf_counter()
        try:
            while True:
                if tracer is not None:
                    tracer.pass_idx = len(samples)
                s = one_pass(workload, spark, steps, tracer)
                if tracer is not None:
                    layers.append(layer_metrics(tracer, len(samples), steps, s, workload.sizes()))
                samples.append(s)
                elapsed = time.perf_counter() - t_loop
                if elapsed + statistics.median(x["pass_s"] for x in samples) > args.seconds:
                    break
        finally:
            if tracer is not None:
                tracer.restore()
        if tracer is not None and (
            time.perf_counter() - started + samples[-1]["pass_s"] < TRACE_DEADLINE_S
        ):
            untraced.append(one_pass(workload, spark, plain))

        t0 = time.perf_counter()
        checks = Checks()
        check_layer: dict = {}
        workload.check(spark, checks, check_layer)
        record["check_s"] = time.perf_counter() - t0
        record["inputs"].update(workload.sizes())
        record["inputs"]["auto_broadcast_join_threshold_mb"] = (
            int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")) / 2**20
        )
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        record["stop_s"] = time.perf_counter() - t0

    record["machine_end"] = probes.machine_state()
    record["setup_s"] = setup_s
    record["samples"] = [
        {k: v for k, v in s.items() if k in ("pass_s", "pass_cpu_s", "steps", "settle_s", "metrics", "step_spark")}
        for s in samples
    ]
    record["checks"] = {"attempted": checks.attempted, "failures": checks.failures}
    named = {k: statistics.median(s["metrics"][k] for s in samples) for k in samples[0]["metrics"]}
    record["workload_metrics"] = named

    if args.trace:
        record["untraced_samples"] = [
            {k: v for k, v in s.items() if k in ("pass_s", "pass_cpu_s", "steps", "settle_s", "metrics")}
            for s in untraced
        ]
        metrics = {}
        for name in per_layer_names():
            vals = [lay[name] for lay in layers]
            metrics[name] = statistics.median(vals)
        metrics.update(check_layer)
        for k in WORKLOAD_METRICS:
            metrics[k] = untraced[0]["metrics"].get(k, 0.0)
        metrics["pass_s"] = untraced[0]["pass_s"]
        metrics["peak_rss_mb"] = record["peak_pss_mb"]
        metrics["trace.overhead_s"] = statistics.median(s["pass_s"] for s in samples) - untraced[-1]["pass_s"]
        record["trace_overhead_reference"] = "after" if len(untraced) > 1 else "before"
        os.makedirs(RECORDS, exist_ok=True)
        spans_path = os.path.join(RECORDS, f"{args.workload}-seed{args.seed}-spans.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.spans, f)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = dict(zip(END_TO_END, (
            setup_s, statistics.median(s["pass_cpu_s"] for s in samples),
        )))

    os.makedirs(RECORDS, exist_ok=True)
    with open(os.path.join(RECORDS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"run_record": record}, default=str))
    print(json.dumps({
        "correct": not checks.failures,
        "attempted": checks.attempted,
        "failed": len(checks.failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
