"""Spark pipeline: corpus table → extracted spans table (+ lineage metrics).

The Spark-first layer (SURVEY.md §2.8): documents are embarrassingly
parallel, so the only cross-node concerns are

- Arrow batch exchange into the Python workers (``mapInArrow``; every
  per-row stage outside extraction goes through ``map_rows``),
- salted repartitioning so skewed mega-PDFs don't serialize a task,
- per-partition lineage + metrics for checkpoint/resume,
- the resume anti-join that skips completed work.

Everything inside a task is the ``kernel`` package (no Spark imports there).

Mirrors at corpus scale what the reference's batch module does per-process
(oxidize-pdf-core/src/batch/mod.rs:72-268 worker pool → Spark scheduler).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernel.extract import extract_document_spans
from .kernel.textstate import ExtractionOptions
from .table_io import SPAN_STRUCT

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
        T.StructField("ok", T.BooleanType()),
        T.StructField("mode", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("wall_ms", T.DoubleType()),
        T.StructField("task_partition", T.IntegerType()),
    ]
)

METRICS_SCHEMA = [
    "run_id",
    "part_id",
    "docs_in",
    "docs_ok",
    "docs_err",
    "spans_out",
    "bytes_in",
    "wall_ms",
    "mode",
    "error_sample",
]


def _extract_batches(
    batches, options: ExtractionOptions
):
    """mapInArrow kernel: the outer loop is one Arrow RecordBatch of
    documents; the nested spans column is accessed through its FLAT child
    arrays (3 string-array conversions per batch instead of a python dict
    per span — SURVEY.md §1.2 "batched byte-stream passes"). Each
    document's parse stays in-kernel; tolerant-mode errors surface as
    columns, never as task failures.

    This loop is deliberately not a ``map_rows`` row function. Over the
    same Arrow batches (8,000 seed-90210 ``gen_doc`` documents in
    4,096-row batches, in process on a 4-vCPU host, 10 shuffled rounds) a
    ``map_rows``-style adapter gave equal outputs but cost 9-12% more per
    document (101 against 93 µs; 125 against 111 µs in an earlier set)
    and ran ~160 GC collections per pass against ~64. The likely cause is
    the per-span dicts ``to_pylist()`` builds for the nested spans
    column; output conversion alone was not slower."""
    import pyarrow as pa

    from pyspark import TaskContext

    ctx = TaskContext.get()
    task_partition = ctx.partitionId() if ctx is not None else -1

    span_struct = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    for batch in batches:
        n = batch.num_rows
        names = batch.schema.names
        doc_ids = batch.column(names.index("doc_id")).to_pylist()
        part_ids = (
            batch.column(names.index("part_id")).to_pylist()
            if "part_id" in names
            else [0] * n
        )
        # optional per-document password column (PasswordProvider SPI at
        # corpus scale: a table of known-credential documents carries its
        # passwords alongside the payload; null = empty/base password)
        pw_col = (
            batch.column(names.index("password")).to_pylist()
            if "password" in names
            else None
        )
        spans_col = batch.column(names.index("spans"))
        if isinstance(spans_col, pa.ChunkedArray):  # pragma: no cover
            spans_col = spans_col.combine_chunks()
        list_offsets = spans_col.offsets.to_pylist()
        base = spans_col.values.offset  # flattened child may carry an offset
        flat = spans_col.values
        kinds = flat.field("kind").to_pylist()
        texts = flat.field("text").to_pylist()
        refs = flat.field("media_ref").to_pylist()

        ok_c, mode_c, err_c = [], [], []
        npages_c, nspans_c, bytes_c, wall_c = [], [], [], []
        out_kind, out_text, out_ref, out_off = [], [], [], []
        out_offsets = [0]
        for row in range(n):
            lo, hi = list_offsets[row] - base, list_offsets[row + 1] - base
            triples = list(zip(kinds[lo:hi], texts[lo:hi], refs[lo:hi]))
            t_doc = time.perf_counter()
            opts_row = options
            if pw_col is not None and pw_col[row] is not None:
                opts_row = options.with_password(pw_col[row])
            try:
                spans, meta = extract_document_spans(triples, opts_row)
            except Exception as e:  # absolute backstop: error-as-data
                spans, meta = [], {
                    "ok": False,
                    "error": f"kernel:{type(e).__name__}:{e}",
                    "mode": "strict",
                    "n_pages": 0,
                    "bytes_in": 0,
                }
            for k, t, m, o in spans:
                out_kind.append(k)
                out_text.append(t)
                out_ref.append(m)
                out_off.append(o)
            out_offsets.append(len(out_kind))
            ok_c.append(bool(meta["ok"]))
            mode_c.append(meta["mode"])
            err_c.append(meta["error"])
            npages_c.append(int(meta["n_pages"]))
            nspans_c.append(len(spans))
            bytes_c.append(int(meta["bytes_in"]))
            wall_c.append((time.perf_counter() - t_doc) * 1000.0)
        spans_arr = pa.ListArray.from_arrays(
            pa.array(out_offsets, type=pa.int32()),
            pa.StructArray.from_arrays(
                [
                    pa.array(out_kind, type=pa.string()),
                    pa.array(out_text, type=pa.string()),
                    pa.array(out_ref, type=pa.string()),
                    pa.array(out_off, type=pa.int32()),
                ],
                fields=list(span_struct),
            ),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, type=pa.string()),
                pa.array(part_ids, type=pa.int32()),
                spans_arr,
                pa.array(ok_c, type=pa.bool_()),
                pa.array(mode_c, type=pa.string()),
                pa.array(err_c, type=pa.string()),
                pa.array(npages_c, type=pa.int32()),
                pa.array(nspans_c, type=pa.int32()),
                pa.array(bytes_c, type=pa.int64()),
                pa.array(wall_c, type=pa.float64()),
                pa.array([task_partition] * n, type=pa.int32()),
            ],
            names=[
                "doc_id", "part_id", "spans", "ok", "mode", "error",
                "n_pages", "n_spans", "bytes_in", "wall_ms", "task_partition",
            ],
        )


def map_rows(df: DataFrame, make_row, schema) -> DataFrame:
    """Run a per-row Python function over ``df`` through ``mapInArrow``.

    ``make_row()`` runs once per task, inside the worker: it does the lazy
    kernel imports, builds options and per-task memos, and returns
    ``row(*values)``. ``row`` receives one input row's values as Python
    objects, in ``df.columns`` order, and yields zero or more output
    tuples in ``schema`` order. Input columns are read with
    ``to_pylist()``; each output column is built with ``pa.array`` at the
    Arrow type of the declared schema (derived once, here on the driver),
    with NaN read as null as pandas-based UDFs do. An exception raised by
    ``row`` fails the task.

    ``schema`` is a ``StructType`` or a DDL string."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa

        row = make_row()
        for batch in batches:
            out = [
                r
                for vals in zip(*(c.to_pylist() for c in batch.columns))
                for r in row(*vals)
            ]
            cols = list(zip(*out)) if out else [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(c, type=f.type, from_pandas=True)
                    for c, f in zip(cols, arrow_schema)
                ],
                schema=arrow_schema,
            )

    return df.mapInArrow(run, schema=schema)


def extract_spans(
    docs: DataFrame,
    options: ExtractionOptions | None = None,
    salt: bool = True,
) -> DataFrame:
    """docs_raw → wide result frame (spans + per-doc lineage columns).

    ``salt=False`` skips the size-aware repartition — correct and ~2x
    faster when the corpus table is already bucketed by doc_id (the
    production layout: Iceberg ``bucket(doc_id)`` / parquet partitionBy,
    BENCH.md design notes). Keep the default for ad-hoc unbucketed inputs
    where one scan partition could hoard the mega-doc tail.

    Select ``doc_id, part_id, spans`` for the output table;
    ``metrics_from_results`` aggregates the lineage columns.
    """
    options = options or ExtractionOptions()
    prepared = salt_by_size(docs) if salt else docs
    return prepared.mapInArrow(
        lambda it: _extract_batches(it, options), schema=RESULT_SCHEMA
    )


def salt_by_size(
    docs: DataFrame,
    n_partitions: int | None = None,
    mega_threshold_bytes: int = 2_000_000,
) -> DataFrame:
    """Skew mitigation (SURVEY.md §2.8): normal docs shuffle on a
    hash(doc_id) salt; mega docs (payload above threshold) are round-robin
    spread so no task serializes several of them. No global ordering or
    window — scales to arbitrarily many partitions."""
    spark = docs.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sized = docs.withColumn(
        "_payload",
        F.expr("aggregate(spans, 0L, (acc, s) -> acc + length(coalesce(s.text, '')))"),
    )
    # ONE scan, one shuffle: normal docs salt on hash(doc_id); mega docs use
    # an independent hash family so their placement decorrelates from the
    # small-doc layout (two megas only collide by independent 1/N chance,
    # and the 64-doc Arrow batch cap bounds the damage). A filtered
    # two-branch union would scan the source twice — fatal at 100 TB.
    salt = F.when(
        F.col("_payload") <= mega_threshold_bytes,
        F.pmod(F.xxhash64("doc_id"), F.lit(n_partitions)),
    ).otherwise(F.pmod(F.xxhash64(F.lit("mega"), "doc_id"), F.lit(n_partitions)))
    return sized.repartition(n_partitions, salt).drop("_payload")


def metrics_from_results(results: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage/metrics table (FIXTURES.md §1.4), keyed by
    (run_id, part_id) — written beside the spans so a resumed run knows
    which partitions completed (reference analogue: batch progress
    callbacks, batch/mod.rs:102)."""
    return (
        results.groupBy("part_id")
        .agg(
            F.count("*").alias("docs_in"),
            F.sum(F.col("ok").cast("long")).alias("docs_ok"),
            F.sum((~F.col("ok")).cast("long")).alias("docs_err"),
            F.sum("n_spans").alias("spans_out"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("wall_ms").alias("wall_ms"),
            F.max(F.when(F.col("mode") != "strict", F.col("mode")).otherwise(F.lit("strict"))).alias(
                "mode"
            ),
            F.first(F.col("error"), ignorenulls=True).alias("error_sample"),
        )
        .withColumn("run_id", F.lit(run_id))
        .select(*METRICS_SCHEMA)
    )


def resume_filter(docs: DataFrame, done_metrics: DataFrame | None) -> DataFrame:
    """Checkpoint resume: anti-join against completed partitions
    (SURVEY.md §2.8 'Resume'). ``done_metrics`` rows mark finished
    (run_id, part_id) units; docs in those partitions are skipped without
    recomputation. The join side is tiny (one row per partition) — Spark
    broadcasts it automatically under AQE."""
    if done_metrics is None:
        return docs
    done_parts = done_metrics.select("part_id").distinct()
    return docs.join(F.broadcast(done_parts), on="part_id", how="left_anti")


def run_extraction(
    docs: DataFrame,
    run_id: str,
    options: ExtractionOptions | None = None,
    done_metrics: DataFrame | None = None,
    salt: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Full job: resume-filter → salt → extract → (spans_df, metrics_df)."""
    todo = resume_filter(docs, done_metrics)
    results = extract_spans(todo, options, salt=salt)
    spans = results.select("doc_id", "part_id", "spans")
    metrics = metrics_from_results(results, run_id)
    return spans, metrics
