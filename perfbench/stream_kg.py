"""Workload ``stream_kg``: incremental ingest with reads beside writes.

Each round drops one seeded 1,000-turn transcripts file, commits it with
``stream_pipeline_log(..., compact_every=2)`` (an availableNow query),
then serves one round of reads through ``read_pipeline_edges``: the
whole table and a subject lookup. Set-up starts the session and commits a first,
smaller file, so every measured round lands on a log with one live
segment, appends and compacts: one full compaction cycle per round, the
same work each round. Spark's per-job overhead and ``streaming.logstate``
dominate here and annotate is small, so a change that trades batch work
for fixed per-job cost shows on this workload.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

import pandas as pd
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
from perfbench.tracing import eventlog_groups, job_group, patched
from transner_spark.config import PipelineConfig

FILE_CONVS = 100  # 1,000 turns per round
SETUP_CONVS = 10  # the first commit, in set-up
COMPACT_EVERY = 2
LAYERS = ("annotate", "linking", "canonicalize", "materialize", "logstate")


class _Attribution:
    """Traced rounds: tag the DataFrames that the pipeline's operator
    functions return with their layer, and run each blocking call under
    a Spark job group named after the layer of the DataFrame it
    executes (or the current phase, for untagged ones)."""

    TAGGERS = (
        ("transner_spark.operators.annotate", "explode_triples", "annotate"),
        ("transner_spark.operators.linking", "link_surfaces", "linking"),
        ("transner_spark.operators.linking", "link_surfaces_incremental", "linking"),
        ("transner_spark.operators.materialize", "materialize_edges", "materialize"),
        ("transner_spark.operators.materialize", "merge_edge_increments", "logstate"),
    )

    def __init__(self, spark):
        self.spark = spark
        self.phase = "logstate"

    def _tagger(self, fn, layer):
        def tagged(*args, **kwargs):
            df = fn(*args, **kwargs)
            df.__dict__["_perfbench_layer"] = layer
            return df

        return tagged

    def _blocking(self, fn, df_of):
        def call(obj, *args, **kwargs):
            layer = df_of(obj).__dict__.get("_perfbench_layer", self.phase)
            with job_group(self.spark, layer):
                return fn(obj, *args, **kwargs)

        return call

    def install(self, stack: contextlib.ExitStack) -> None:
        import importlib

        from pyspark.sql import DataFrameWriter
        # the class that runs these methods in a local session
        from pyspark.sql.classic.dataframe import DataFrame

        for mod, name, layer in self.TAGGERS:
            m = importlib.import_module(mod)
            stack.enter_context(patched(m, name, self._tagger(getattr(m, name), layer)))
        for meth in ("count", "collect", "toPandas", "localCheckpoint"):
            stack.enter_context(patched(
                DataFrame, meth, self._blocking(getattr(DataFrame, meth), lambda d: d)
            ))
        stack.enter_context(patched(
            DataFrameWriter, "parquet",
            self._blocking(DataFrameWriter.parquet, lambda w: w._df),
        ))


def _rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def _log_layers(state: str, batches: set[int]) -> dict[str, float]:
    """Per round, from the log's own METRICS.jsonl: rows appended and
    written, write amplification, live segments and compactions."""
    with open(os.path.join(state, "METRICS.jsonl")) as fh:
        lines = [json.loads(x) for x in fh if x.strip()]
    lines = [x for x in lines if x["batch_id"] in batches]
    appended = sum(x.get("rows_appended", 0) for x in lines)
    written = sum(x.get("rows_written", 0) for x in lines)
    rounds = max(1, len(batches))
    return {
        "stream.rows_appended": appended / rounds,
        "stream.rows_written": written / rounds,
        "stream.write_amp": written / appended if appended else 0.0,
        "stream.segments_live_mean": (
            statistics.mean(x["segments_live"] for x in lines) if lines else 0.0
        ),
        "stream.compactions": sum(x["action"] == "compact" for x in lines) / rounds,
    }


def run(seed: int, seconds: float, trace: bool, workdir: str, scale: float = 1.0) -> Outcome:
    from transner_spark.streaming.logstate import (
        LINKS_DIR,
        read_pipeline_edges,
        read_pipeline_links,
        stream_pipeline_log,
    )

    cfg = PipelineConfig()
    sizes = [max(1, int(SETUP_CONVS * scale)), max(1, int(FILE_CONVS * scale))]
    base = inputs.conv_base(seed)
    in_dir, state, cp = (os.path.join(workdir, d) for d in ("in", "state", "cp"))
    eventlog_dir = os.path.join(workdir, "eventlog")
    files: list[pd.DataFrame] = []

    def drop_file() -> None:
        n = sizes[min(len(files), 1)]
        first = base + sum(len(f) for f in files) // inputs.TURNS_PER_CONV
        files.append(inputs.make_turns(first, n))
        inputs.write_parquet(files[-1], os.path.join(in_dir, f"r{len(files):04d}.parquet"))

    # the set-up file and its reference, before anything is timed
    drop_file()
    parts = [inputs.reference_parts(files[0], cfg)]
    spot_ok = inputs.sql_spot_check(files[0], parts[0]["mentions"], workdir)
    subject = hot_subject(inputs.reference_edges(files[0], parts[0]["triples"], cfg))

    res = Outcome()
    reads: list[list] = []  # per round: the served reads
    traced_s, plain_s, new_ratio = [], [], []

    def commit() -> None:
        stream_pipeline_log(spark, in_dir + "/*", state, cp, cfg, compact_every=COMPACT_EVERY)

    def edges():
        return read_pipeline_edges(spark, state, cfg)

    with RssSampler() as rss, contextlib.ExitStack() as session:
        t0 = time.perf_counter()
        spark = start_spark(eventlog_dir)
        session.callback(stop_spark, spark)
        commit()
        edges().count()
        res.setup_s = time.perf_counter() - t0
        attribution = _Attribution(spark)
        # two rounds at least: a commit is one ~8 s sample, and one spread
        # by ~20% across seeds
        window = Window(seconds, min_ops=2)
        while window.open(len(reads)):
            drop_file()
            # a traced run alternates untraced and traced rounds
            traced = trace and len(reads) % 2 == 1
            with contextlib.ExitStack() as tracing:
                if traced:
                    attribution.install(tracing)
                    attribution.phase = "logstate"
                t0 = time.perf_counter()
                try:
                    commit()
                except Exception as exc:  # noqa: BLE001 - counted as a failed attempt
                    res.attempt(False, f"round {len(reads) + 1}: {exc!r}")
                    break
                dt = time.perf_counter() - t0
                res.op_s.append(dt)
                (traced_s if traced else plain_s).append(dt)
                res.op_turns.append(len(files[-1]))
                b = len(files) - 1  # this round's batch id
                if traced:
                    # canonicalize runs inside the materialize job of a
                    # commit; this probe times it alone on the round's links
                    from transner_spark.operators.canonicalize import canonicalize

                    attribution.phase = "canonicalize"
                    canonicalize(read_pipeline_links(spark, state)).count()
                    now = _rows(os.path.join(state, LINKS_DIR, f"v{b}"))
                    before = _rows(os.path.join(state, LINKS_DIR, f"v{b - 1}"))
                    new_ratio.append((now - before) / now if now else 0.0)
                    attribution.phase = "read"
                read_s, served = serve_reads(edges, subject)
                res.read_s.append(read_s)
                reads.append(served)
        res.peak_rss_mib = rss.peak

    # the checks: round k (1-based) has committed files[:k + 1], and its
    # reads must equal the batch reference edges of that input
    for f in files[1:]:
        parts.append(inputs.reference_parts(f, cfg))
    res.op_triples = [len(parts[k]["triples"]) for k in range(1, len(res.op_s) + 1)]
    for k, served in enumerate(reads, start=1):
        pdf = pd.concat(files[: k + 1], ignore_index=True)
        triples = pd.concat([p["triples"] for p in parts[: k + 1]], ignore_index=True)
        want = inputs.reference_edges(pdf, triples, cfg)
        bad = [] if spot_ok else ["reference"]
        bad += bad_reads(served, want)
        res.attempt(not bad, f"round {k}: {bad} differ from the reference")

    if traced_s and plain_s:
        groups = eventlog_groups(eventlog_dir)
        n = len(traced_s)
        res.layers = {f"stream.{m}.s": groups.get(m, {}).get("job_s", 0.0) / n for m in LAYERS}
        res.layers.update(_log_layers(state, set(range(1, len(res.op_s) + 1))))
        res.layers["stream.new_surfaces_ratio"] = statistics.mean(new_ratio)
        res.layers["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(plain_s)
    return res
