"""Gopher/MassiveText repetition filter (queries.q_text_repetition_quality).

In the 50-row driver registry since round 9; this differential also
runs BOTH sides — the Spark query and ORACLE_REPETITION_QUALITY on
DuckDB over the sf0.001 documents table — and compares every row,
mirroring the driver gate. The thresholds (top-2-gram <= 0.20,
top-3-gram <= 0.18) are the published Rae et al. 2021
repetition-removal settings.
"""

from __future__ import annotations

import pytest

from plan_checks import assert_no_python_operator


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_repetition_quality_differential(spark):
    import duckdb

    from oxidizepdf_spark.queries import (
        ORACLE_REPETITION_QUALITY,
        q_text_repetition_quality,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["n_words"], r["dup_word_frac"],
                      r["top_bigram_frac"], r["top_trigram_frac"],
                      r["keep"])
        for r in q_text_repetition_quality(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')")
    exp = {r[0]: tuple(r[1:])
           for r in con.sql(ORACLE_REPETITION_QUALITY).fetchall()}
    assert set(got) == set(exp) and len(got) >= 25
    for doc_id, g in got.items():
        e = exp[doc_id]
        assert g[0] == e[0] and g[4] == e[4], (doc_id, g, e)
        for gi, ei in zip(g[1:4], e[1:4]):
            assert abs(gi - ei) < 1e-6, (doc_id, g, e)
    # the signals discriminate: the synthetic corpus spans a real range
    # of bigram concentration even where no document trips the Gopher
    # thresholds at this scale
    fracs = [g[2] for g in got.values()]
    assert max(fracs) > 2 * min(fracs) and max(fracs) > 0.02


def test_repetition_quality_plan_is_jvm_native(spark):
    from oxidizepdf_spark.queries import q_text_repetition_quality

    plan = q_text_repetition_quality(
        spark, "/root/testdata/sf0.001")._jdf.queryExecution() \
        .executedPlan().toString()
    # no Python workers anywhere: the n-gram build is transform/sequence
    assert_no_python_operator(plan)
