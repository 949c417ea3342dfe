"""Per-layer metrics every workload's traced section measures the same way,
so each workload prints every per-layer metric of ``BENCHMARK.json``.

- kernel.*: the single-process kernel replay (``kernel_replay``) over a
  seeded sample of the workload seed's ``gen_doc`` corpus. On the extract
  workloads that is a sample of the staged corpus; on ``query_suite`` it is
  the sample ``extract_mixed`` replays for the same seed.
- workerenv.*, pipeline.*, table_io.scan_*: Spark's SQL metrics of the
  traced section, per action (a timed pass or a job launch). ``pipeline.*``
  reads the section's Python operators: the extraction ``mapInArrow`` on
  the extract workloads, the queries' ``mapInPandas`` closures and Python
  UDFs on ``query_suite``.

Metrics only some workloads can measure (``pipeline.kernel_share``,
``pipeline.extract_passes``, ``table_io.write_*``, ``queries.*``) are
printed on the line before the result, with their units.
"""

from __future__ import annotations

import kernel_replay
from eventlog import EventLog, spark_layer_metrics

REPLAY_SAMPLE = 1500


def shared(log: EventLog, execs, n_actions: int, seed: int, n_docs: int,
           mega_doc_rate: float = 0.02) -> tuple[dict, dict]:
    """``(layers, parts)``: the shared per-layer metrics, and the parts
    the workloads derive their own metrics from (``per``: Spark metrics
    per action; ``stages``: the Python stages; ``kernel``: the full replay
    result, ``mismatches`` and ``per_doc_s`` included)."""
    spark_m = spark_layer_metrics(log, execs)
    per = {k: v / n_actions for k, v in spark_m.items()}
    stages = log.python_stages(execs)
    k = kernel_replay.replay(seed, n_docs, REPLAY_SAMPLE, mega_doc_rate)
    layers = {key: v for key, v in k.items() if key.startswith("kernel.")}
    layers.update({
        "workerenv.py_start_s": per["workerenv.py_start_s"],
        "workerenv.py_init_s": per["workerenv.py_init_s"],
        "workerenv.py_init_ms_p50": spark_m["workerenv.py_init_ms_p50"],
        "pipeline.py_run_s": per["py_run_s"],
        "pipeline.to_python_mb": per["to_python_mb"],
        "pipeline.from_python_mb": per["from_python_mb"],
        "pipeline.shuffle_write_mb": per["shuffle_below_python_mb"],
        "pipeline.task_skew": log.task_skew(stages),
        "table_io.scan_s": per["table_io.scan_s"],
        "table_io.scan_mb": per["table_io.scan_mb"],
    })
    return layers, {"per": per, "stages": stages, "kernel": k}
