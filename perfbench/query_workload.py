"""``query_suite``: five of the 19 queries of ``bench_extra.suite`` over
seeded ``documents``/``embeddings`` tables of sf0.1 size and shape (see
``corpora.stage_query_tables``), each timed as a ``noop``-sink write (every
column computed, nothing collected). A first pass collects each query's
rows and warms the session; those rows are checked against the DuckDB
oracle of ``tools/check_oracle.py`` where the registry has one, and by row
count otherwise.

The five cover the query layer's mechanisms: ``mapInPandas`` closures
over the kernel (markdown export, image codecs), the suffix-array
substring pass, a JVM-side SQL fold (minhash LSH) and the driver-iterated
k-means. All 19 do not fit the benchmark's time budget: on 4 vCPUs the
cold pass, the warm-up pass and two timed passes of all 19 take about
115 s at this size, against about 55 s for these five."""

from __future__ import annotations

import os
import sys
import time

import common
import corpora
import extract_workloads
import layers as shared_layers
import spark_session
from eventlog import EventLog

N_DOCS = 5000  # the sf0.1 row counts
N_VECS = 2000
STAGE_REPEATS = 3
# A query's second run still takes up to twice its steady time (the JVM is
# still compiling its plan's code), its third about 1.2 times: warm-up is
# the collecting pass plus one noop pass, and each query's wall is its
# median over at least two timed noop passes. Passes after the warm-up
# agree within about 10%; runs of the same code differ by more (whole
# runs 10-20% faster or slower), so a third timed pass is not worth its
# 9 s.
MIN_PASSES = 2
QUERIES = (
    "dedup_minhash_lsh", "ann_ivf_kmeans_topk", "text_exact_substring_bytes",
    "pdf_export_markdown", "pdf_decode_image_codecs",
)
# the chosen query without an oracle emits one row per document
ROW_COUNT_ONLY = N_DOCS


def _suite():
    import bench_extra
    from oxidizepdf_spark import queries as Q

    suite = bench_extra.suite(Q)
    return Q, {name: suite[name] for name in QUERIES}


def _oracle_rows(tables: str, names) -> dict:
    """Canonical (columns, rows) of each oracle query, from DuckDB."""
    import duckdb

    from oxidizepdf_spark.queries import build_oracles

    oracles = build_oracles()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables, t + '.parquet')}'")
    out = {}
    for name in names:
        if name in oracles:
            df = con.execute(oracles[name]).df()
            out[name] = (list(df.columns),
                         [tuple(r) for r in df.itertuples(index=False, name=None)])
    con.close()
    return out


def _check(name: str, cols, rows, oracle: dict) -> bool:
    import check_oracle

    if name not in oracle:
        return len(rows) == ROW_COUNT_ONLY
    ocols, orows = oracle[name]
    return check_oracle.rows_to_set(cols, rows) == check_oracle.rows_to_set(
        ocols, orows)


def _timed_pass(spark, Q, qs, tables: str, label: str) -> dict:
    walls = {}
    for name, fn in qs.items():
        spark_session.describe(spark, f"{label}:{name}")
        t0 = time.perf_counter()
        fn(spark, tables).write.format("noop").mode("overwrite").save()
        walls[name] = time.perf_counter() - t0
        Q.release_persisted()
    return walls


def run(workload: str, seed: int, seconds: float, trace: bool, paths: dict,
        cores: int) -> dict:
    sys.path.insert(0, os.path.join(common.ROOT, "tools"))
    detail: dict = {"n_docs": N_DOCS, "n_vecs": N_VECS, "cores": cores}
    setup: dict = {}
    t0 = time.perf_counter()
    from oxidizepdf_spark.kernel import content  # builds the C extension

    setup["c_build_s"] = time.perf_counter() - t0
    detail["c_fast_path"] = int(content._CSCAN is not None)

    tables = os.path.join(paths["data"], "tables")
    stage_s = []
    for _ in range(STAGE_REPEATS):
        dt, _ = common.timed(corpora.stage_query_tables, tables, seed,
                             N_DOCS, N_VECS)
        stage_s.append(dt)
    setup["stage_s"] = common.median(stage_s)

    t0 = time.perf_counter()
    spark = spark_session.start(cores, f"perfbench-{workload}")
    setup["session_s"] = time.perf_counter() - t0
    Q, qs = _suite()

    # warm-up: collect every query once (the rows are checked below), then
    # one noop pass
    collected, warm_s = {}, 0.0
    for name, fn in qs.items():
        spark_session.describe(spark, f"warm:{name}")
        t0 = time.perf_counter()
        df = fn(spark, tables)
        collected[name] = (df.columns, [tuple(r) for r in df.collect()])
        warm_s += time.perf_counter() - t0
        Q.release_persisted()
    warm_s += sum(_timed_pass(spark, Q, qs, tables, "warm").values())
    setup["warm_s"] = warm_s

    passes = []
    t_end = time.perf_counter() + seconds
    with common.PeakRss() as rss:
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            passes.append(_timed_pass(spark, Q, qs, tables, "pass"))
    # each query's median over the passes, summed over the suite
    query_walls = {n: common.median([p[n] for p in passes]) for n in qs}
    wall = sum(query_walls.values())

    # correctness, outside the timed section
    oracle = _oracle_rows(tables, qs)
    failed_q = [n for n, (cols, rows) in collected.items()
                if not _check(n, cols, rows, oracle)]
    detail.update(
        oracle_checked=sorted(oracle), rows_only=sorted(set(qs) - set(oracle)),
        failed_queries=failed_q,
        pass_walls_s=[round(sum(p.values()), 4) for p in passes],
        query_walls_s={n: round(w, 4) for n, w in query_walls.items()},
        setup_parts_s={k: round(v, 4) for k, v in setup.items()},
        stage_runs_s=[round(s, 4) for s in stage_s],
    )
    result = {
        "attempted": len(qs),
        "failed": len(failed_q),
        "e2e": {
            # documents-table rows per second of suite time: a restatement
            # of wall_s, printed because every workload prints every
            # end-to-end metric
            "docs_per_s": N_DOCS / wall,
            "wall_s": wall,
            "setup_s": sum(setup.values()),
        },
        "peak_rss_mb": rss.peak,
        "detail": detail,
    }
    if trace:
        with spark_session.event_log(spark, paths["eventlog"]):
            t_walls = _timed_pass(spark, Q, qs, tables, "traced")
    spark_session.stop(spark)
    if trace:
        layers, extra, mism = query_layers(
            EventLog(paths["eventlog"]), t_walls, seed)
        layers["trace.overhead_share"] = sum(t_walls.values()) / wall - 1.0
        result["layers"], result["layers_extra"] = layers, extra
        result["attempted"] += layers["kernel.docs"]
        result["failed"] += mism
    return result


def query_layers(log: EventLog, walls: dict, seed: int) -> tuple[dict, dict, int]:
    """``(layers, extra, mismatches)`` of the traced suite pass: the shared
    per-layer metrics (``layers.shared``; the kernel replay is the sample
    ``extract_mixed`` replays for the same seed), and the suite's own
    ones with their units: each query's traced wall and the suite's Python
    run, worker-init and shuffle totals."""
    by_query = log.executions_described(spark_session.DESC + "traced:")
    execs = set().union(*by_query.values()) if by_query else set()
    layers, parts = shared_layers.shared(log, execs, 1, seed,
                                         extract_workloads.N_DOCS)
    per = parts["per"]
    extra = {f"queries.{n}_s": (w, "s") for n, w in walls.items()}
    extra.update({
        "queries.py_run_s": (per["py_run_s"], "s"),
        "queries.py_init_s": (per["workerenv.py_init_s"], "s"),
        "queries.shuffle_mb": (per["shuffle_mb"], "MB"),
    })
    return layers, extra, parts["kernel"]["mismatches"]
