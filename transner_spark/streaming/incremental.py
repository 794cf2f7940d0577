"""Structured-Streaming surface: incremental mention extraction over an
append-only transcripts directory, plus a watermarked windowed mention
count.

The reference is strictly request/response (no streaming), and the
north-rule pipeline is batch-with-checkpoints; this module is the
capability extension for continuously-arriving transcripts: the SAME
fused mapInPandas NER stage (operators/annotate.py) runs unmodified on
a ``readStream`` DataFrame — micro-batch execution, exactly-once via
the sink checkpoint, late turns handled by the event-time watermark.

Scale notes: the annotate stage is stateless per-row, so streaming adds
no shuffle; the windowed aggregate keeps state bounded by the watermark
horizon. ``trigger(availableNow=True)`` gives catch-up batch runs with
streaming semantics (the test path, and the natural backfill mode).

Maintained KG state (the edge table, entity-profile partials, the full
chain) is written by the log substrate in streaming/logstate.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from transner_spark.config import PipelineConfig
from transner_spark.operators.annotate import annotate_turns, explode_mentions

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def read_transcripts_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Append-only parquet directory → streaming transcripts source."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def stream_mentions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    await_termination: bool = True,
):
    """Incremental NER: new transcript files → appended mention rows.
    Exactly-once per input file via the sink checkpoint; a restart
    resumes from the last committed micro-batch."""
    stream = read_transcripts_stream(spark, input_dir)
    mentions = explode_mentions(annotate_turns(stream, cfg))
    q = (
        mentions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_windowed_mention_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    cfg: PipelineConfig | None = None,
    output_mode: str = "append",
    query_name: str = "mention_counts",
):
    """Watermarked tumbling-window aggregate: mentions per (window, type).
    Late turns within the watermark horizon still update their window;
    older state is dropped (bounded-state streaming agg). Returns the
    in-memory query (sink table = ``query_name``).

    ``output_mode='append'`` (production) emits a window once its
    watermark closes — but which windows have flushed when an
    availableNow run terminates depends on micro-batch boundaries
    (emission lags the watermark by one batch), so the batch-equivalence
    GATE uses ``output_mode='complete'``: every window is in the final
    table, deterministically, while the streaming aggregation path is
    exercised identically."""
    stream = read_transcripts_stream(spark, input_dir)
    annotated = annotate_turns(stream, cfg)
    mentions = annotated.select(
        "ts", F.explode("mentions").alias("m")
    ).select("ts", F.col("m.type").alias("type"))
    counts = (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select("w.start", "w.end", "type", "n_mentions")
    )
    return (
        counts.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_counts_append(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    cfg: PipelineConfig | None = None,
):
    """PRODUCTION append-mode windowed aggregate into a parquet file
    sink: a window row is emitted exactly once, when the watermark
    passes its end, and the file sink accumulates flushed windows across
    query restarts — so repeated ``availableNow`` runs over an
    append-only input directory build up the closed windows
    incrementally, exactly the backfill-then-tail deployment shape.

    Emission lags the watermark by one micro-batch (state eviction in
    batch N uses the watermark computed after batch N-1), so a caller
    that needs ALL windows flushed must let later data — or a sentinel
    row past the horizon — advance the watermark and then run one more
    batch. The append-mode GATE does exactly that, proving the
    production semantics the complete-mode gate can't
    (stream_windowed_mention_counts docstring)."""
    stream = read_transcripts_stream(spark, input_dir)
    annotated = annotate_turns(stream, cfg)
    mentions = annotated.select(
        "ts", F.explode("mentions").alias("m")
    ).select("ts", F.col("m.type").alias("type"))
    counts = (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("w.start").alias("start"),
            F.col("w.end").alias("end"),
            "type",
            "n_mentions",
        )
    )
    return (
        counts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_append_counts_to_horizon(
    spark: SparkSession,
    src_parquet: str,
    in_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    cfg: PipelineConfig | None = None,
):
    """Drive stream_windowed_counts_append until every REAL data window
    has flushed: copy the corpus file into ``in_dir``, then append two
    far-future watermark-sentinel turns — each bearing a ``[URL_n]``
    mention so the POST-explode watermark node actually sees its ts (a
    mention-less turn is dropped by the explode and would never advance
    the watermark) — running one availableNow pass after each arrival.
    The first sentinel advances the watermark past the data horizon; the
    second (60 seconds later — far past the data, but inside the first
    sentinel's own watermark horizon, so ITS window never closes) runs
    the batch that performs the flush (emission lags the watermark by
    one batch). The parquet sink then holds exactly the real data
    windows and neither sentinel's. Shared by the append-mode gate and
    its pytest twin so both pin the same semantics."""
    import shutil
    from datetime import timedelta

    from pyspark.sql import functions as F

    os.makedirs(in_dir, exist_ok=True)
    shutil.copy(src_parquet, os.path.join(in_dir, "part-00000.parquet"))
    max_ts = spark.read.parquet(src_parquet).agg(F.max("ts")).collect()[0][0]

    stream_windowed_counts_append(
        spark, in_dir, output_dir, checkpoint_dir, window, watermark, cfg
    ).awaitTermination()
    for seconds in (60 * 86400, 60 * 86400 + 60):
        sentinel = [
            (
                "__watermark_sentinel__",
                0,
                "user",
                "see [URL_1] to advance the watermark",
                None,
                max_ts + timedelta(seconds=seconds),
            )
        ]
        spark.createDataFrame(sentinel, TRANSCRIPT_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(in_dir)
        stream_windowed_counts_append(
            spark, in_dir, output_dir, checkpoint_dir, window, watermark, cfg
        ).awaitTermination()


# ---------------------------------------------------------------- stateful
CONV_STATE_SCHEMA = "n_turns INT, first_ts TIMESTAMP, last_ts TIMESTAMP, roles STRING"
CONV_OUT_SCHEMA = (
    "conv_id STRING, n_turns INT, n_roles INT, "
    "first_ts TIMESTAMP, last_ts TIMESTAMP, closed_by STRING"
)


def assemble_conversations(
    transcripts,
    idle_timeout_ms: int = 600_000,
):
    """Custom stateful streaming operator (applyInPandasWithState):
    assemble per-conversation sessions across micro-batches. State per
    conv_id accumulates turn count / role set / time bounds; a
    conversation is emitted when its processing-time timeout fires
    (no new turns for ``idle_timeout_ms``). This is the session-assembly
    shape a 10^12-turn transcript stream needs — bounded state keyed by
    conversation, not by corpus size; state store partitioned by the
    groupBy key, so hot conversations never cross executors.

    NOTE: processing-time timeouts only fire in a LATER triggered
    micro-batch, so the query must keep running past the idle horizon —
    use a processingTime trigger (as stream_conversations does), never
    availableNow, or no conversation will ever close.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # \x1f (unit separator) keeps the packed role-set state unambiguous
    # for any printable role value; NULL and '' roles are excluded from
    # the distinct-role count (the contract the SQL oracle mirrors with
    # count(DISTINCT nullif(role, ''))).
    sep = "\x1f"

    def _unpack_roles(packed: str) -> set:
        # state written before the \x1f change packed roles with ','
        # (review r4: a checkpoint that spans the upgrade would otherwise
        # misparse 'agent,user' as ONE role). Legacy strings contain no
        # \x1f, so: split on \x1f when present, else on the legacy ','
        # — faithful to what the old code meant by that state.
        s = packed.split(sep) if sep in packed else packed.split(",")
        return set(s) - {""}

    def assemble(key, pdfs, state: GroupState):
        import pandas as pd  # worker-side: closure globals aren't shipped

        (conv_id,) = key
        if state.hasTimedOut:
            n, first_ts, last_ts, roles = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": [n],
                    "n_roles": [len(_unpack_roles(roles))],
                    "first_ts": [pd.Timestamp(first_ts)],
                    "last_ts": [pd.Timestamp(last_ts)],
                    "closed_by": ["timeout"],
                }
            )
            return
        n, first_ts, last_ts, roles = (
            state.get if state.exists else (0, None, None, "")
        )
        role_set = _unpack_roles(roles)
        for pdf in pdfs:
            n += len(pdf)
            role_set |= {r for r in pdf["role"] if isinstance(r, str) and r}
            lo, hi = pdf["ts"].min(), pdf["ts"].max()
            first_ts = lo if first_ts is None else min(first_ts, lo)
            last_ts = hi if last_ts is None else max(last_ts, hi)
        state.update((int(n), first_ts, last_ts, sep.join(sorted(role_set))))
        state.setTimeoutDuration(idle_timeout_ms)
        return
        yield  # pragma: no cover - makes this a generator

    return (
        transcripts.groupBy("conv_id")
        .applyInPandasWithState(
            assemble,
            outputStructType=CONV_OUT_SCHEMA,
            stateStructType=CONV_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_conversations(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    idle_timeout_ms: int = 600_000,
    trigger_interval: str = "10 seconds",
    query_name: str = "conversations",
):
    """Run conversation assembly over the streaming transcripts source
    into an in-memory sink (table ``query_name``). Returns the RUNNING
    query — the caller stops it; a processingTime trigger keeps empty
    batches coming so idle-timeout closes actually fire (availableNow
    would terminate before any timeout can elapse)."""
    stream = read_transcripts_stream(spark, input_dir)
    out = assemble_conversations(stream, idle_timeout_ms)
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger_interval)
        .start()
    )

