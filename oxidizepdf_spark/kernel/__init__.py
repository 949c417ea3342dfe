"""Per-document parse kernels.

Everything in this subpackage is plain Python/numpy — no Spark imports.
These functions run *inside* Arrow-batched UDFs (``mapInArrow``); one
call handles one document, the outer loop over an Arrow batch is driven
by the pipeline layer. The PDF object graph never crosses the DataFrame
boundary (SURVEY.md §1.1 key insight).
"""
