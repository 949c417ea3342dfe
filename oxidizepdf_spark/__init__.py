"""oxidizepdf_spark — a PySpark-native PDF content-extraction engine.

A from-scratch reimplementation of the *parse path* of the reference
library bzsanti/oxidizePdf (pure Rust, /root/reference) as a Spark-first
pipeline: the per-document PDF object graph, filters, tokenizers and the
text-state interpreter live inside vectorized pandas/Arrow UDF kernels
(``oxidizepdf_spark.kernel``), while corpus-level concerns — partition
pruning, salted repartitioning for skewed mega-PDFs, lineage + metrics,
checkpoint/resume — are expressed with the DataFrame API
(``oxidizepdf_spark.pipeline``).

Input/output data model (BASELINE.json input_hint):

    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

The engine consumes interleaved text+media documents (a ``raw_pdf`` span
carries the PDF bytes; ``text``/``media`` spans pass through) and emits
the extracted span sequence with per-row span-sequence equality
(kind, text, media_ref, order) against the reference's behavior.
"""

__version__ = "0.1.0"

# Spark worker setup (workerenv.py has the full story). In worker
# processes only, skip PySpark's per-task re-read of Spark's own runtime
# archives, matched by resolved path under $SPARK_HOME: the spark-core jar
# (15 MB, cached by two zipimporters) cost 50-120 ms per task, under
# 0.1 ms once skipped. Also gc.freeze() the import-time heap the daemon
# would otherwise walk after every task. Importing this package is the one
# step every worker performs before running any of its functions; the
# driver and non-Spark processes are left untouched.
from .workerenv import setup_worker as _setup_worker

_setup_worker()
del _setup_worker
