"""Workload ``batch_kg``: the production batch path.

Each unit of work is one job as ``scripts/run_job.py`` runs it: a fresh
Spark session at ``local[nproc]`` (its start is the set-up time), then
one cold ``PipelineRun.run`` over a 3,000-turn corpus into a fresh
workdir, from the parquet read to the committed serving table, then
rounds of reads on the serving table (the whole table and a subject
lookup), the first one untimed. The wall
includes what every production job pays (JIT, Python-worker start), and
this is the only workload where the lineage, re-read and count overhead
between stages shows.

Spark's event log is on in every job, traced or not, so that traced and
untraced jobs differ only by the benchmark's spans and job groups.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.dataset as ds

from perfbench import inputs
from perfbench.common import (
    Outcome,
    RssSampler,
    Window,
    bad_reads,
    hot_subject,
    serve_reads,
    start_spark,
    stop_spark,
)
from perfbench.tracing import Tracer, eventlog_groups, job_group, patched
from transner_spark.config import PipelineConfig
from transner_spark.kernels.oracle import run_oracle_pipeline
from transner_spark.plans import pipeline
from transner_spark.plans.pipeline import STAGES, PipelineRun

# 3,000 turns: a cold job is ~30 s of fixed cost at any size this host
# can afford, so a larger input buys little and costs run time
N_CONVS = 300
# timed rounds of reads after the job: a round takes ~0.5 s, and one
# sample is too few for a steady median
READ_ROUNDS = 3
# output table checked -> (reference table, columns compared)
CHECKS = {
    "mentions": ("mentions", inputs.MENTION_COLS),
    "triples": ("triples", inputs.TRIPLE_COLS),
}


def _traced_run(spark, workdir: str, input_path: str, tracer):
    """PipelineRun with a span and a Spark job group around each
    blocking call: every stage write, each lineage append and each
    catalog read."""
    run = PipelineRun(spark, workdir)
    cat = run.catalog
    write, append, read = cat.write, cat.append, cat.read

    def blocking(name, group, fn):
        def call(*args, **kwargs):
            with tracer.span(name), job_group(spark, group):
                return fn(*args, **kwargs)

        return call

    def stage_write(df, table, partition_by=None):
        return blocking(f"plans.pipeline.{table}", table, write)(df, table, partition_by)

    def lineage_append(df, table):
        name = "lineage" if table == "_lineage" else table
        return blocking(f"plans.pipeline.{name}", name, append)(df, table)

    cat.write = stage_write
    cat.append = lineage_append
    cat.read = blocking("plans.pipeline.read", "read", read)
    serving = blocking("plans.pipeline.serving", "serving", pipeline.write_edges_bucketed)
    with patched(pipeline, "write_edges_bucketed", serving), tracer.span("plans.pipeline.run"):
        return run.run(spark.read.parquet(input_path))


def _span_layers(tracer) -> dict[str, float]:
    busy = tracer.busy()
    wall = busy["plans.pipeline.run"]
    layers = {f"plans.pipeline.{s}.s": busy.get(f"plans.pipeline.{s}", 0.0) for s in STAGES}
    layers["plans.pipeline.lineage.s"] = busy.get("plans.pipeline.lineage", 0.0)
    layers["plans.pipeline.read.s"] = busy.get("plans.pipeline.read", 0.0)
    layers["plans.pipeline.unattributed_s"] = wall - sum(layers.values())
    layers["plans.pipeline.wall_s"] = wall
    return layers


def _spark_layers(eventlog_dir: str, lineage_dir: str) -> dict[str, float]:
    """Per stage: Spark task metrics from the event log, rows out from
    the run's ``_lineage`` table."""
    groups = eventlog_groups(eventlog_dir)
    lineage = ds.dataset(lineage_dir, format="parquet").to_table().to_pandas()
    rows_out = lineage.groupby("stage")["rows_out"].sum()
    layers = {}
    for s in STAGES:
        g = groups.get(s, {})
        for k in ("shuffle_write_bytes", "spill_bytes", "task_skew", "executor_cpu_s"):
            layers[f"{s}.{k}"] = g.get(k, 0.0)
        layers[f"{s}.rows_out"] = float(rows_out.get(s, 0))
    return layers


def run(seed: int, seconds: float, trace: bool, workdir: str, scale: float = 1.0) -> Outcome:
    cfg = PipelineConfig()
    pdf = inputs.make_turns(inputs.conv_base(seed), max(1, int(N_CONVS * scale)))
    input_path = os.path.dirname(inputs.write_parquet(pdf, os.path.join(workdir, "in", "t.parquet")))
    ref = run_oracle_pipeline(pdf, cfg)
    spot_ok = inputs.sql_spot_check(pdf, ref["mentions"], workdir)
    want = {k: inputs.multiset(ref[r], cols) for k, (r, cols) in CHECKS.items()}
    subject = hot_subject(ref["edges"])

    res = Outcome()
    setup_s, traced_s, plain_s = [], [], []
    with RssSampler() as rss:
        window = Window(seconds, min_ops=2 if trace else 1)
        i = 0
        while window.open(i):
            # a traced run alternates untraced and traced jobs
            tracer = Tracer(f"batch_kg-{seed}-{i}") if trace and i % 2 else None
            wd = os.path.join(workdir, f"catalog-{i}")
            eventlog_dir = os.path.join(workdir, f"eventlog-{i}")
            bad = [] if spot_ok else ["reference"]
            ran = False
            t0 = time.perf_counter()
            spark = start_spark(eventlog_dir)
            setup_s.append(time.perf_counter() - t0)
            try:
                t0 = time.perf_counter()
                if tracer:
                    out = _traced_run(spark, wd, input_path, tracer)
                else:
                    out = PipelineRun(spark, wd).run(spark.read.parquet(input_path))
                dt = time.perf_counter() - t0
                ran = True
                res.op_s.append(dt)
                res.op_turns.append(len(pdf))
                res.op_triples.append(len(ref["triples"]))
                (traced_s if tracer else plain_s).append(dt)
                for r in range(1 + READ_ROUNDS):
                    read_s, served = serve_reads(lambda: out["serving"], subject)
                    if r:  # the first round warms the reads up and is not timed
                        res.read_s.append(read_s)
                    bad += bad_reads(served, ref["edges"])
                bad += [k for k, (_, cols) in CHECKS.items()
                        if inputs.multiset(out[k].select(*cols).toPandas(), cols) != want[k]]
                res.attempt(not bad, f"job {i}: {bad} differ from the reference")
            except Exception as exc:  # noqa: BLE001 - counted as a failed attempt
                res.attempt(False, f"job {i}: {exc!r}")
            finally:
                stop_spark(spark)
            if tracer and ran:
                res.tracers.append(tracer)
                res.layers = _span_layers(tracer)
                res.layers.update(_spark_layers(eventlog_dir, os.path.join(wd, "_lineage")))
            i += 1
    res.peak_rss_mib = rss.peak
    res.setup_s = statistics.median(setup_s)
    if traced_s and plain_s:
        res.layers["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(plain_s)
    return res
