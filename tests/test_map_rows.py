"""pipeline.map_rows: the one Arrow transport for per-row Python stages."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from plan_checks import assert_no_python_operator


@pytest.fixture(scope="module")
def spark():
    from oxidizepdf_spark.table_io import get_spark

    s = get_spark(app_name="pytest-map-rows", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _ints(spark, n: int, partitions: int = 1):
    return spark.range(n, numPartitions=partitions).selectExpr(
        "id", "CAST(id AS STRING) AS s"
    )


def test_zero_one_and_many_rows_per_input(spark):
    from oxidizepdf_spark.pipeline import map_rows

    def make_row():
        def row(i, s):
            for k in range(i % 3):  # 0, 1 or 2 output rows
                yield i, f"{s}-{k}"

        return row

    df = map_rows(_ints(spark, 9), make_row, "id long, tag string")
    got = sorted(tuple(r) for r in df.collect())
    want = sorted((i, f"{i}-{k}") for i in range(9) for k in range(i % 3))
    assert got == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    # the "no Python operator" plan checks catch a query on this adapter
    with pytest.raises(AssertionError, match="MapInArrow"):
        assert_no_python_operator(plan)


def test_all_inputs_dropped_gives_empty_frame(spark):
    from oxidizepdf_spark.pipeline import map_rows

    def make_row():
        def row(i, s):
            return ()

        return row

    df = map_rows(_ints(spark, 5), make_row, "id long")
    assert df.collect() == []


def test_nulls_in_int_and_string_columns(spark):
    from oxidizepdf_spark.pipeline import map_rows

    def make_row():
        def row(i, s):
            yield (
                None if i % 2 else int(i),
                None if i % 3 == 0 else s,
                float("nan") if i == 4 else float(i),
            )

        return row

    df = map_rows(_ints(spark, 6), make_row, "n int, s string, x double")
    rows = sorted(df.collect(), key=lambda r: r["x"] if r["x"] is not None else 4)
    assert [r["n"] for r in rows] == [0, None, 2, None, 4, None]
    assert [r["s"] for r in rows] == [None, "1", "2", None, "4", "5"]
    # NaN reads as null, as it does through a pandas-based UDF
    assert [r["x"] for r in rows] == [0.0, 1.0, 2.0, 3.0, None, 5.0]


def test_nested_array_of_struct_output(spark):
    """The spans_flat input shape: array<struct<kind, text, media_ref, offset>>."""
    from oxidizepdf_spark.pipeline import map_rows

    def make_row():
        def row(i, s):
            spans = [
                {"kind": "text", "text": f"t{j}", "media_ref": None, "offset": j}
                for j in range(i)
            ]
            yield str(i), int(i) % 8, spans

        return row

    df = map_rows(
        _ints(spark, 4),
        make_row,
        "doc_id string, part_id int, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    got = {r["doc_id"]: r for r in df.collect()}
    assert set(got) == {"0", "1", "2", "3"}
    assert got["0"]["spans"] == []
    assert [tuple(s) for s in got["3"]["spans"]] == [
        ("text", "t0", None, 0), ("text", "t1", None, 1), ("text", "t2", None, 2),
    ]
    assert got["3"]["part_id"] == 3


def test_make_row_runs_once_per_task_not_per_batch(spark):
    """With 7-row Arrow batches, each task sees several batches; a per-task
    counter set up in make_row must keep counting across all of them."""
    from oxidizepdf_spark.pipeline import map_rows

    def make_row():
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        seen = [0]

        def row(i, s):
            seen[0] += 1
            yield part, seen[0]

        return row

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        rows = map_rows(
            _ints(spark, 60, partitions=2), make_row, "part int, seen long"
        ).collect()
    finally:
        spark.conf.set(key, old)
    per_task: dict[int, list[int]] = {}
    for r in rows:
        per_task.setdefault(r["part"], []).append(r["seen"])
    assert sorted(per_task) == [0, 1]
    for seen in per_task.values():
        assert sorted(seen) == list(range(1, 31))


def test_raising_row_fails_the_job(spark):
    from oxidizepdf_spark.pipeline import map_rows

    def make_row():
        def row(i, s):
            if i == 3:
                raise ValueError("row-3-is-bad")
            yield (i,)

        return row

    with pytest.raises(Exception, match="row-3-is-bad"):
        map_rows(_ints(spark, 10), make_row, "id long").collect()


def test_package_has_no_pandas_row_udfs():
    """Per-row stages go through map_rows; the only pandas operators left
    are the grouped applyInPandas* ones."""
    pkg = Path(__file__).resolve().parent.parent / "oxidizepdf_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\b(mapInPandas|pandas_udf)\(", line):
                offenders.append(f"{path.name}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
