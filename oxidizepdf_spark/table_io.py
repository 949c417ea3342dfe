"""Table layer: Iceberg-first with a plain-Parquet fallback.

The engine's corpus-level analogue of the reference's xref offsets is the
table format's partition index (SURVEY.md §1.3): pruning partitions of the
corpus table is what xref offsets do inside one file. The API below targets
Iceberg identifiers when an Iceberg catalog is configured on the session
(``spark.sql.catalog.<name>``), and degrades to directory-partitioned
Parquet when the runtime jar is absent (this sandbox) — same call sites,
same partition column, same pruning behavior via Catalyst partition
discovery.

Input/output schemas (BASELINE.json input_hint / FIXTURES.md §1):

    docs_raw(doc_id string, part_id int,
             spans array<struct<kind,text,media_ref,offset>>)
    docs_spans(doc_id string, part_id int, spans ...)          -- output
    run_metrics(run_id, part_id, docs_in, docs_ok, docs_err,
                spans_out, bytes_in, wall_ms, mode, error_sample)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)


def default_cpus() -> int:
    """Cores for a local master: ``$SPARK_GRAFT_CPUS`` when set, else the
    CPUs this process may run on. The one owner of that default."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "oxidizepdf-spark",
    master: str | None = None,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 4096,
) -> SparkSession:
    """Session tuned for the extraction workload.

    - Arrow exchange on; ``maxRecordsPerBatch`` bounds how many documents
      one Python batch holds. Batch BYTES are already capped by
      ``maxPartitionBytes`` (a batch never spans scan partitions), so the
      record cap only guards the many-small-docs case — measured A/B on
      the 50k-doc headline: 256 → 18.0k docs/s, 4096 → 21.3k (+18%, the
      per-batch Python/Arrow fixed costs amortized). Worst case stays
      ~one decompressed scan partition per in-flight worker; drop the cap
      for corpora of multi-MB documents with tight executor memory
    - AQE on: runtime coalescing + skew-join mitigation for the corpus-level
      joins (resume anti-join, dedup self-joins)
    """
    if master is None:
        cpus = cpus or default_cpus()
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(
            8, int(master.split("[")[-1].rstrip("]*") or 32) if "[" in master else 32
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def _iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None (parquet fallback)."""
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and "iceberg" in (v or "").lower():
            return k.split(".", 3)[3].split(".")[0]
    return None


def write_table(
    df: DataFrame,
    target: str,
    partition_by: tuple[str, ...] = ("part_id",),
    mode: str = "overwrite",
) -> None:
    """Write to an Iceberg identifier (``catalog.db.tbl``) when an Iceberg
    catalog is live, else to a Parquet directory path partitioned by the
    same columns (partition pruning still applies via Catalyst)."""
    spark = df.sparkSession
    cat = _iceberg_catalog(spark)
    if cat is not None and "/" not in target:
        writer = df.writeTo(f"{cat}.{target}")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)


def read_table(spark: SparkSession, target: str) -> DataFrame:
    cat = _iceberg_catalog(spark)
    if cat is not None and "/" not in target:
        return spark.read.table(f"{cat}.{target}")
    return spark.read.parquet(target)


def prune_partitions(df: DataFrame, part_ids: list[int]) -> DataFrame:
    """Explicit partition pruning (SURVEY.md §4): the .where on the
    partition column reaches the scan as PartitionFilters — check with
    ``df.explain('formatted')``."""
    return df.where(F.col("part_id").isin(part_ids))


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str = "doc_id",
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed, sorted managed table — the co-located-join layout for
    relations that are repeatedly joined on the same key at corpus scale
    (extraction output joined with labels/metadata/dedup verdicts). Two
    tables bucketed identically on the join key sort-merge-join with NO
    exchange on either side; at 100 TB that deletes the dominant shuffle.
    Iceberg's analogue is a bucket(N, col) partition transform — this uses
    the session-catalog bucketBy so the sandbox (no Iceberg jar) exercises
    the identical planner behavior."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.read.table(table_name)
