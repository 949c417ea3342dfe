"""Structured Streaming surfaces.

The reference's ``streaming`` module is *incremental IO* — page-at-a-time
parsing under memory bounds (oxidize-pdf-core/src/streaming/mod.rs:1-41,
incremental_parser.rs) — not event-time stream processing. The Spark-first
equivalent is a file-source stream over the corpus table with exactly-once
checkpointing: new document files are discovered, extracted, and appended;
a restart resumes from the checkpoint without reprocessing (S15/S16 →
readStream + foreachBatch, SURVEY.md §2.1).

``stream_extract`` runs the batch pipeline's ``extract_spans`` (unsalted)
inside the stream (mapInArrow works unchanged on streaming DataFrames); Trigger
``availableNow`` drains everything pending then stops, which is the batch-
equivalent semantics a backfill run wants.

``windowed_event_counts`` demonstrates event-time windowing + watermark on
the events table (late-data handling for telemetry-style streams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernel.textstate import ExtractionOptions
from .pipeline import extract_spans
from .table_io import DOCS_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    options: ExtractionOptions | None = None,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
):
    """Incremental extraction: parquet file stream → kernel → parquet sink.

    Exactly-once per input file via the checkpoint; rerunning after new
    files land processes only the delta (the resume story without a
    metrics-table anti-join). Returns the StreamingQuery (stopped already
    if ``await_termination``).
    """
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_path)
    results = extract_spans(docs, options, salt=False)
    spans = results.select("doc_id", "part_id", "spans", "ok", "mode", "error")
    q = (
        spans.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_dedup_first_seen(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    await_termination: bool = True,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    first-seen-wins deduplication by doc_id across micro-batches. State per
    key is a single seen-flag; duplicates arriving in ANY later batch are
    dropped (Spark's built-in dropDuplicates would also work — this is the
    custom-operator shape for semantics the built-ins can't express, e.g.
    content-hash canonicalization or versioned upserts)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def dedup(key, pdf_iter, state: GroupState):
        if state.exists:
            return iter(())  # key already emitted in an earlier batch
        first = None
        for pdf in pdf_iter:
            if len(pdf) and first is None:
                first = pdf.iloc[[0]][["doc_id", "part_id"]]
        state.update((True,))
        if first is None:  # pragma: no cover
            return iter(())
        return iter([first])

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(input_path)
    out = docs.groupBy("doc_id").applyInPandasWithState(
        dedup,
        outputStructType="doc_id string, part_id int",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts with a watermark, drained with
    availableNow into a memory sink and returned as a plain DataFrame.

    Complete output mode so the result equals the batch aggregation (the
    oracle); the watermark is what bounds state in a continuous deployment.
    """
    import os
    import tempfile
    import uuid

    schema = spark.read.parquet(events_path).schema
    if os.path.isfile(events_path):
        # the file stream source requires a directory; stage via symlink
        # (keyed by the absolute path so different sf dirs never collide)
        import zlib

        key = zlib.crc32(os.path.abspath(events_path).encode())
        d = os.path.join(tempfile.gettempdir(), f"oxspark_stream_{key:08x}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(events_path))
        if not os.path.exists(link):
            os.symlink(os.path.abspath(events_path), link)
        events_path = d
    stream = spark.readStream.schema(schema).parquet(events_path)
    # watermarks require TIMESTAMP (tz-aware); testdata carries TIMESTAMP_NTZ
    stream = stream.withColumn("ts_evt", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts_evt", watermark)
        .groupBy(F.window("ts_evt", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    name = f"evt_counts_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
