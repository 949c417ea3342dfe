"""``extract_mixed`` and ``extract_1core``: the headline extraction job,
``pipeline.extract_spans(salt=False)`` over a staged ``gen_doc`` corpus
with an aggregate over every result column, after a warm-up pass."""

from __future__ import annotations

import os
import time

import common
import corpora
import layers as shared_layers
import spark_session
from eventlog import EventLog

N_DOCS = 16000
N_FILES = 4          # one scan task per file: one wave on 4 cores
STAGE_REPEATS = 3    # set-up steps that repeat cheaply are timed as a median
# pass times keep falling over the first few passes of a fresh session
# (Python workers forked, JIT-compiled scan and Arrow paths)
WARM_PASSES = 4
MIN_PASSES = 3


def _pass(spark, docs):
    """One timed pass: extraction plus an aggregate that reads every
    result column, so no column is pruned away."""
    from pyspark.sql import functions as F

    from oxidizepdf_spark.pipeline import extract_spans

    res = extract_spans(docs, salt=False)
    row = res.agg(
        F.count("*").alias("docs"),
        F.sum("n_spans").alias("n_spans"),
        F.sum(F.col("ok").cast("long")).alias("ok"),
        F.count("error").alias("errors"),
        F.sum("n_pages").alias("pages"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("wall_ms").alias("wall_ms"),
        F.bit_xor(F.xxhash64("doc_id", "part_id", "spans", "ok", "mode",
                             "error", "n_pages", "n_spans", "bytes_in",
                             "task_partition")).alias("digest"),
    ).collect()[0].asDict()
    row.pop("wall_ms")  # time-dependent; summed only so the column is read
    return row


def _passes(spark, docs, seconds: float, label: str):
    walls, aggs = [], []
    t_end = time.perf_counter() + seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
        spark_session.describe(spark, label)
        t0 = time.perf_counter()
        aggs.append(_pass(spark, docs))
        walls.append(time.perf_counter() - t0)
    return walls, aggs


def _read_docs(spark, path: str):
    # one task per staged file on every core count, so the 1-core and
    # n-core legs run the identical task set
    per = max(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(per))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    return spark.read.parquet(path)


def run(workload: str, seed: int, seconds: float, trace: bool, paths: dict,
        cores: int) -> dict:
    detail: dict = {"n_docs": N_DOCS, "n_files": N_FILES, "cores": cores}
    setup: dict = {}

    t0 = time.perf_counter()
    from oxidizepdf_spark.kernel import content  # builds the C extension

    setup["c_build_s"] = time.perf_counter() - t0
    detail["c_fast_path"] = int(content._CSCAN is not None)

    t0 = time.perf_counter()
    spark = spark_session.start(cores, f"perfbench-{workload}")
    setup["session_s"] = time.perf_counter() - t0

    corpus = os.path.join(paths["data"], "corpus")
    stage_s = []
    for _ in range(STAGE_REPEATS):
        dt, expected = common.timed(
            corpora.stage_docs, corpus, N_DOCS, seed, N_FILES)
        stage_s.append(dt)
    setup["stage_s"] = common.median(stage_s)

    docs = _read_docs(spark, corpus)
    spark_session.describe(spark, "warm")
    t0 = time.perf_counter()
    reference = _pass(spark, docs)
    for _ in range(WARM_PASSES - 1):
        _pass(spark, docs)
    setup["warm_s"] = time.perf_counter() - t0
    setup_s = sum(setup.values())

    with common.PeakRss() as rss:
        walls, aggs = _passes(spark, docs, seconds, "pass")
    wall = common.median(walls)

    # correctness, outside every timed section
    attempted, failed = 0, 0
    n_spans_expected = sum(len(v) for v in expected.values())
    if (reference["docs"], reference["ok"], reference["n_spans"]) != (
            N_DOCS, N_DOCS, n_spans_expected):
        failed += N_DOCS
    attempted += N_DOCS
    for agg in aggs:  # every timed pass must reproduce the warm-up result
        attempted += N_DOCS
        if agg != reference:
            failed += N_DOCS
    from oxidizepdf_spark.pipeline import extract_spans

    spark_session.describe(spark, "check")
    out = extract_spans(docs, salt=False).select("doc_id", "spans").toArrow()
    got = out.to_pydict()
    bad, sample = corpora.span_rows_equal(expected, got["doc_id"], got["spans"])
    distinct = set(got["doc_id"])
    missing = N_DOCS - len(distinct & expected.keys())
    duplicated = len(got["doc_id"]) - len(distinct)
    attempted += N_DOCS
    failed += min(N_DOCS, bad + missing + duplicated)
    detail.update(check_bad_sample=sample, pass_walls_s=[round(w, 4) for w in walls],
                  setup_parts_s={k: round(v, 4) for k, v in setup.items()},
                  stage_runs_s=[round(s, 4) for s in stage_s])

    result = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "docs_per_s": N_DOCS / wall,
            "wall_s": wall,
            "setup_s": setup_s,
        },
        "peak_rss_mb": rss.peak,
        "detail": detail,
    }
    if trace:
        with spark_session.event_log(spark, paths["eventlog"]):
            t_walls, t_aggs = _passes(spark, docs, seconds, "pass")
    spark_session.stop(spark)
    if trace:
        result["attempted"] += N_DOCS * len(t_aggs)
        result["failed"] += N_DOCS * sum(a != reference for a in t_aggs)
        log = EventLog(paths["eventlog"])
        execs = log.executions_described(spark_session.DESC).get("pass")
        layers, extra, mism = extract_layers(log, execs, len(t_walls), seed,
                                             N_DOCS)
        layers["trace.overhead_share"] = common.median(t_walls) / wall - 1.0
        result["layers"], result["layers_extra"] = layers, extra
        result["attempted"] += layers["kernel.docs"]
        result["failed"] += mism
        detail["traced_pass_walls_s"] = [round(w, 4) for w in t_walls]
    return result


def extract_layers(log: EventLog, execs, n_actions: int, seed: int,
                   n_docs: int, mega_doc_rate: float = 0.02,
                   writes: bool = False) -> tuple[dict, dict, int]:
    """``(layers, extra, mismatches)`` of an extraction workload's traced
    section: the shared per-layer metrics (``layers.shared``), and the
    extraction-only ones with their units. ``pipeline.kernel_share`` is the
    replayed kernel time per document scaled to the corpus, over
    ``pipeline.py_run_s``; ``pipeline.extract_passes`` counts the stages
    running the extraction operator per action. Table writes are reported
    only for a workload that ``writes``."""
    layers, parts = shared_layers.shared(log, execs, n_actions, seed, n_docs,
                                         mega_doc_rate)
    per, k = parts["per"], parts["kernel"]
    py_run = per["py_run_s"]
    extra = {
        "pipeline.kernel_share": (
            (k["per_doc_s"] * n_docs / py_run) if py_run else 0.0, "ratio"),
        "pipeline.extract_passes": (len(parts["stages"]) / n_actions, "count"),
    }
    if writes:
        extra.update({
            "table_io.write_s": (per["table_io.write_s"], "s"),
            "table_io.write_mb": (per["table_io.write_mb"], "MB"),
            "table_io.files_written": (per["table_io.files_written"], "count"),
        })
    return layers, extra, k["mismatches"]
