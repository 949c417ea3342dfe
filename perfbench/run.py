#!/usr/bin/env python3
"""The engine's benchmark: one workload per invocation, run from the root
of a checkout.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \
        --seconds 8 --trace 0

Workloads (inputs are generated from ``--seed`` into ``.perfbench_work/``;
the engine only sees the staged tables):

- ``extract_mixed``: ``pipeline.extract_spans(salt=False)`` plus an
  aggregate over every result column, at ``local[nproc]``, on a staged
  ``corpus.gen_doc`` corpus with the default mix (2% 50-page mega docs,
  5% corrupt-startxref docs, 15% HTML, 30% interleaved text/media).
- ``query_suite``: five of the 19 queries of ``bench_extra.suite`` (see
  ``query_workload.QUERIES``) over seeded ``documents``/``embeddings``
  tables of sf0.1 size and shape, each timed as a ``noop``-sink write.
- ``extract_1core``: the ``extract_mixed`` job and corpus at ``local[1]``,
  the process pinned to one CPU (the affinity ``taskset -c`` sets): the N
  leg of the N -> 4N scaling pair, from which ``summary.py`` derives
  ``scaling_eff``.
- ``job_skewed``: ``jobs/extract_job.py`` under
  ``spark-submit --master local[nproc] --py-files <zip>``, timed from
  launch to exit, on a corpus with a 10% mega-doc rate; default salted
  path, writes spans and run_metrics.

``BENCHMARK.json`` lists the first two; the last two run on demand,
left out to keep a full set of repeated runs under an hour on 4 cores.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
untraced section, then repeats the timed section with Spark's event log
attached (uncompressed), replays the kernel over a seeded sample, and
prints every per-layer metric, including the trace's own overhead; the
metrics only some workloads measure (``queries.*``,
``pipeline.kernel_share``, ...) go on the line before. Correctness is
checked outside every timed section; the line before the result holds
the details (host window before and after, per-pass walls, set-up parts,
failed_share). Every process a run starts has exited before it prints.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. Seed 90210 is held out
of development, for confirming claims.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import common

WORKLOADS = ("extract_mixed", "query_suite", "extract_1core", "job_skewed")

END_TO_END = {
    "docs_per_s": "1/s",
    "wall_s": "s",
    "setup_s": "s",
}

# Per-layer metrics, from the traced section of a ``--trace 1`` run; every
# workload measures each of them (see ``layers.py``). The end-to-end metric
# each should move:
# - kernel.*: replay over a seeded sample of 1500 documents of the seed's
#   gen_doc corpus (seconds are totals over the sample); docs_per_s on the
#   extract workloads, the query suite barely. kernel.c_fast_path is the
#   run's own fact: the C scanner compiled and loaded.
# - workerenv.*: Python worker start/init from Spark's SQL metrics, per
#   timed pass; wall_s of job_skewed most (cold workers), setup_s
#   everywhere, wall_s of query_suite.
# - pipeline.*: the section's Python operators per timed pass or job
#   launch (the extraction mapInArrow; the suite's mapInPandas closures);
#   py_run/to/from_python move docs_per_s of the extract workloads and
#   wall_s of query_suite; shuffle_write_mb (shuffle below the Python
#   operators: the salt shuffle) and task_skew (median over the Python
#   stages of slowest over median task) move job_skewed, and read 0 and ~1
#   on extract_mixed.
# - table_io.scan_*: scan everywhere (small).
# - peak_rss_mb: summed PSS of the process tree over the timed section.
#   It is not gated: how many Python workers the daemon keeps alive at the
#   sampled moment moves it by 15-50% between runs of the same code.
# - trace.overhead_share: traced over untraced timed wall, minus one.
# What only some workloads measure goes on the line before the result,
# under "layers_extra": pipeline.kernel_share (replayed kernel time scaled
# to the corpus over pipeline.py_run_s) and pipeline.extract_passes on the
# extract workloads, table_io.write_* on job_skewed, and queries.* (each
# query's traced wall; the suite's Python run, worker-init and shuffle
# totals) on query_suite; all move wall_s of their own workload.
PER_LAYER = {
    "peak_rss_mb": "MB",
    "kernel.reader.open_s": "s",
    "kernel.pages.tree_s": "s",
    "kernel.fonts.page_fonts_s": "s",
    "kernel.pages.content_s": "s",
    "kernel.content.interpret_s": "s",
    "kernel.textstate.finalize_s": "s",
    "kernel.html_s": "s",
    "kernel.extract.other_s": "s",
    "kernel.docs": "count",
    "kernel.pages": "count",
    "kernel.content_bytes": "bytes",
    "kernel.spans": "count",
    "kernel.recovered_docs": "count",
    "kernel.c_fast_path": "count",
    "workerenv.py_start_s": "s",
    "workerenv.py_init_s": "s",
    "workerenv.py_init_ms_p50": "ms",
    "pipeline.py_run_s": "s",
    "pipeline.to_python_mb": "MB",
    "pipeline.from_python_mb": "MB",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.task_skew": "ratio",
    "table_io.scan_s": "s",
    "table_io.scan_mb": "MB",
    "trace.overhead_share": "ratio",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = common.missing_program_files()
    if missing:
        print(f"perfbench: program files missing from {common.ROOT}: "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2

    cores = common.nproc()
    if args.workload == "extract_1core":
        os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
        cores = 1
    paths = common.prepare_environment(args.workload)
    os.chdir(paths["work"])  # stray Spark files (warehouse, derby) land here

    host_before = common.host_window()
    if args.workload in ("extract_mixed", "extract_1core"):
        import extract_workloads as wl
    elif args.workload == "job_skewed":
        import job_workload as wl
    else:
        import query_workload as wl
    res = wl.run(args.workload, args.seed, args.seconds, bool(args.trace),
                 paths, cores)
    common.wait_gone(common.descendants(os.getpid()))
    host_after = common.host_window()

    attempted, failed = int(res["attempted"]), int(res["failed"])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host_before": host_before, "host_after": host_after,
        "failed_share": {"value": failed / max(attempted, 1), "unit": "ratio"},
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in res["e2e"].items()},
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        **res["detail"],
    }
    if args.trace:
        layers = {**res["layers"], "peak_rss_mb": res["peak_rss_mb"],
                  "kernel.c_fast_path": res["detail"]["c_fast_path"]}
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in PER_LAYER.items()}
        detail["layers_extra"] = {k: {"value": float(v), "unit": u}
                                  for k, (v, u) in res["layers_extra"].items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps(detail), flush=True)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
