"""Shared physical-plan assertions for the plan-shape tests."""

from __future__ import annotations

# every physical operator that runs Python code in a worker
PYTHON_OPERATORS = (
    "PythonUDF",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
)


def assert_no_python_operator(plan: str) -> None:
    """The plan runs entirely in the JVM: no Python UDF or map operator."""
    found = [op for op in PYTHON_OPERATORS if op in plan]
    assert not found, f"Python operators {found} in plan:\n{plan}"
