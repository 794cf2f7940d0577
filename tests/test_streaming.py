"""Structured-Streaming surface: incremental mention extraction with
exactly-once file semantics, and the watermarked windowed aggregate."""

from __future__ import annotations

import os

import pandas as pd
import pytest


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "cp", "cp2")}
    os.makedirs(d["in"])
    return d


def _to_sdf(spark, pdf):
    from transner_spark.streaming.incremental import TRANSCRIPT_SCHEMA

    # explicit schema: an all-null object column would otherwise be
    # inferred (and parquet-written) as BOOLEAN
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def _write_batch(spark, tiny_pdf, in_dir: str, lo: int, hi: int, name: str):
    part = tiny_pdf[(tiny_pdf["turn_idx"] >= lo) & (tiny_pdf["turn_idx"] < hi)]
    _to_sdf(spark, part).coalesce(1).write.mode("append").parquet(
        os.path.join(in_dir, name)
    )


def test_stream_mentions_incremental(spark, tiny_pdf, tiny_df, stream_dirs):
    from transner_spark.operators.annotate import annotate_turns, explode_mentions
    from transner_spark.streaming.incremental import stream_mentions

    d = stream_dirs
    _write_batch(spark, tiny_pdf, d["in"], 0, 3, "b0")
    stream_mentions(spark, d["in"] + "/*", d["out"], d["cp"])
    first = spark.read.parquet(d["out"]).count()
    assert first > 0

    # second file arrives → ONLY the new turns are processed (exactly-once
    # per input file via the sink checkpoint)
    _write_batch(spark, tiny_pdf, d["in"], 3, 5, "b1")
    stream_mentions(spark, d["in"] + "/*", d["out"], d["cp"])
    total = spark.read.parquet(d["out"]).count()
    assert total > first

    # streamed total == batch total over the same rows
    batch = explode_mentions(annotate_turns(tiny_df)).count()
    assert total == batch


def test_stream_windowed_counts(spark, tiny_pdf, stream_dirs):
    from transner_spark.streaming.incremental import (
        stream_windowed_mention_counts,
    )

    d = stream_dirs
    _write_batch(spark, tiny_pdf, d["in"], 0, 5, "b0")
    q = stream_windowed_mention_counts(spark, d["in"] + "/*", d["cp2"])
    q.awaitTermination()
    out = spark.sql("select * from mention_counts").toPandas()
    # append mode only emits windows the watermark has closed; the fixture
    # spans a bounded ts range so at least the earliest windows finalize
    assert set(out.columns) == {"start", "end", "type", "n_mentions"}
    if len(out):
        assert (out["n_mentions"] > 0).all()
        assert (pd.to_datetime(out["end"]) > pd.to_datetime(out["start"])).all()


def test_stateful_conversation_assembly(spark, tiny_pdf, tmp_path):
    """applyInPandasWithState: conversations close via idle timeout and
    the emitted aggregates match a batch groupBy over the same turns."""
    import time

    from transner_spark.streaming.incremental import (
        assemble_conversations, read_transcripts_stream,
    )

    in_dir = str(tmp_path / "in"); cp = str(tmp_path / "cp")
    part = tiny_pdf[tiny_pdf["conv_id"].isin(tiny_pdf["conv_id"].unique()[:5])]
    _to_sdf(spark, part).coalesce(1).write.parquet(in_dir + "/b0")

    stream = read_transcripts_stream(spark, in_dir + "/*")
    q = (
        assemble_conversations(stream, idle_timeout_ms=2000)
        .writeStream.format("memory")
        .queryName("conv_assembly")
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        out = None
        for _ in range(60):
            time.sleep(1)
            out = spark.sql("select * from conv_assembly").toPandas()
            if len(out) >= part["conv_id"].nunique():
                break
        assert out is not None and len(out) == part["conv_id"].nunique()
    finally:
        q.stop()

    expect = part.groupby("conv_id").agg(
        n_turns=("turn_idx", "size"),
        n_roles=("role", lambda s: s.nunique()),
        first_ts=("ts", "min"),
        last_ts=("ts", "max"),
    )
    for _, r in out.iterrows():
        e = expect.loc[r["conv_id"]]
        assert r["n_turns"] == e["n_turns"]
        assert r["n_roles"] == e["n_roles"]
        assert r["first_ts"] == e["first_ts"] and r["last_ts"] == e["last_ts"]
        assert r["closed_by"] == "timeout"


def test_append_mode_windowed_counts_flush(spark, tmp_path):
    """Append-mode file-sink aggregate (production semantics): after two
    far-future sentinel turns advance the watermark (the second inside
    the first's horizon), the sink holds exactly the batch-derived real
    windows and neither sentinel window."""
    from pyspark.sql import functions as F
    from transner_spark.operators.annotate import annotate_turns
    from transner_spark.sources.transcripts import ensure_transcripts_parquet
    from transner_spark.streaming.incremental import (
        run_append_counts_to_horizon,
    )

    src = ensure_transcripts_parquet("/root/repo", "/root/testdata/sf0.001")
    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    run_append_counts_to_horizon(spark, src, in_dir, out_dir, ck)

    got = spark.read.parquet(out_dir)
    # batch-derived expectation over the REAL corpus only
    batch = annotate_turns(spark.read.parquet(src)).select(
        "ts", F.explode("mentions").alias("m")
    )
    want = (
        batch.groupBy(F.window("ts", "10 minutes").alias("w"), F.col("m.type").alias("type"))
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select("w.start", "w.end", "type", "n_mentions")
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_append_mode_drops_late_data(spark, tmp_path):
    """Watermark semantics pinned from the LATE side: once the watermark
    has passed a window's end (and its row flushed to the sink), a late
    event inside that window is DROPPED — the sink row is neither
    re-emitted nor updated. This is the exactly-once contract consumers
    of the append sink rely on: a flushed window is final."""
    from datetime import timedelta

    from pyspark.sql import functions as F
    from transner_spark.sources.transcripts import ensure_transcripts_parquet
    from transner_spark.streaming.incremental import (
        TRANSCRIPT_SCHEMA,
        run_append_counts_to_horizon,
        stream_windowed_counts_append,
    )

    src = ensure_transcripts_parquet("/root/repo", "/root/testdata/sf0.001")
    in_dir, out_dir, ck = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck"),
    )
    run_append_counts_to_horizon(spark, src, in_dir, out_dir, ck)
    before = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert len(before) > 0

    # a late turn INSIDE the already-flushed data range, carrying a
    # mention so the post-explode watermark node sees its ts
    min_ts = spark.read.parquet(src).agg(F.min("ts")).collect()[0][0]
    late = [(
        "__late_arrival__", 0, "user",
        "late [URL_9] inside a closed window",
        None, min_ts + timedelta(seconds=1),
    )]
    spark.createDataFrame(late, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stream_windowed_counts_append(
        spark, in_dir, out_dir, ck
    ).awaitTermination()

    after = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert after == before  # late event dropped; flushed windows final

    # a regression that ADMITTED the late row into window state might
    # only surface its duplicate/updated row on a LATER batch (state
    # eviction order is an implementation detail) — so drive one more
    # micro-batch. The extra turn is itself late vs the horizon
    # watermark (dropped too); its only job is forcing batch N+1, where
    # any wrongly-admitted state would have to flush.
    max_ts = spark.read.parquet(src).agg(F.max("ts")).collect()[0][0]
    sentinel = [(
        "__batch_driver__", 0, "user",
        "one more [URL_9] to drive the next micro-batch",
        None, max_ts + timedelta(hours=2),
    )]
    spark.createDataFrame(sentinel, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stream_windowed_counts_append(
        spark, in_dir, out_dir, ck
    ).awaitTermination()
    final = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert final == before  # nothing re-emitted, nothing updated
