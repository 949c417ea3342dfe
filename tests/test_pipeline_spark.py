"""Spark pipeline tests: end-to-end span equality through mapInArrow,
skew salting, per-partition metrics, and checkpoint-resume semantics.
"""

from __future__ import annotations

import pytest

from oxidizepdf_spark.corpus import generate_corpus


@pytest.fixture(scope="module")
def spark():
    from oxidizepdf_spark.table_io import get_spark

    s = get_spark(app_name="pytest-pipeline", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _docs_df(spark, pairs):
    from oxidizepdf_spark.table_io import DOCS_SCHEMA

    return spark.createDataFrame(
        [
            (
                r["doc_id"],
                r["part_id"],
                [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in r["spans"]
                ],
            )
            for r, _ in pairs
        ],
        schema=DOCS_SCHEMA,
    )


def test_pipeline_span_equality(spark):
    from oxidizepdf_spark.pipeline import run_extraction

    pairs = list(generate_corpus(n_docs=60, seed=11))
    docs = _docs_df(spark, pairs)
    spans_df, metrics_df = run_extraction(docs, run_id="t")
    got = {r["doc_id"]: r["spans"] for r in spans_df.collect()}
    assert len(got) == 60
    for _, exp in pairs:
        g = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got[exp["doc_id"]]
        ]
        w = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in exp["spans"]
        ]
        assert g == w, exp["doc_id"]
    m = {r["part_id"]: r for r in metrics_df.collect()}
    assert sum(r["docs_in"] for r in m.values()) == 60
    assert all(r["docs_err"] == 0 for r in m.values())


def test_error_as_data_not_task_failure(spark):
    from oxidizepdf_spark.pipeline import extract_spans
    from oxidizepdf_spark.table_io import DOCS_SCHEMA

    docs = spark.createDataFrame(
        [
            ("bad-1", 0, [("raw_pdf", "garbage bytes not a pdf", None, 0)]),
            ("bad-2", 0, [("raw_pdf", "b85:!!!!invalid", None, 0)]),
        ],
        schema=DOCS_SCHEMA,
    )
    rows = extract_spans(docs).collect()
    assert len(rows) == 2
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id["bad-1"]["ok"] is False
    assert "parse" in by_id["bad-1"]["error"]
    assert by_id["bad-2"]["ok"] is False  # b85 decode failure → kernel error


def test_resume_anti_join(spark):
    from oxidizepdf_spark.pipeline import resume_filter, run_extraction

    pairs = list(generate_corpus(n_docs=40, seed=3))
    docs = _docs_df(spark, pairs)
    # first run over partitions 0-3 only (simulate partial completion)
    done_docs = docs.where("part_id < 4")
    _, done_metrics = run_extraction(done_docs, run_id="r1")
    done_metrics = done_metrics.cache()
    remaining = resume_filter(docs, done_metrics)
    rem_parts = {r["part_id"] for r in remaining.select("part_id").distinct().collect()}
    assert rem_parts == {p for p in range(4, 8)} & {
        r["part_id"] for r in docs.select("part_id").distinct().collect()
    }
    # no doc from a completed partition is recomputed
    assert remaining.where("part_id < 4").count() == 0


def test_salt_by_size_spreads_megas(spark):
    from pyspark.sql import functions as F

    from oxidizepdf_spark.pipeline import salt_by_size
    from oxidizepdf_spark.table_io import DOCS_SCHEMA

    # 8 mega docs (3MB payloads) + 80 small ones
    rows = []
    for i in range(8):
        rows.append((f"mega-{i}", 0, [("text", "x" * 3_000_000, None, 0)]))
    for i in range(80):
        rows.append((f"small-{i}", 0, [("text", "y", None, 0)]))
    docs = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    salted = salt_by_size(docs, n_partitions=4, mega_threshold_bytes=2_000_000)
    dist = (
        salted.withColumn("p", F.spark_partition_id())
        .where(F.col("doc_id").startswith("mega"))
        .groupBy("p")
        .count()
        .collect()
    )
    # megas spread over >1 partition, no partition hoards more than half
    assert len(dist) >= 2
    assert max(r["count"] for r in dist) <= 4


def test_partition_pruning_reaches_scan(spark, tmp_path):
    from oxidizepdf_spark.pipeline import run_extraction
    from oxidizepdf_spark.table_io import prune_partitions, read_table, write_table

    pairs = list(generate_corpus(n_docs=30, seed=9))
    docs = _docs_df(spark, pairs)
    path = str(tmp_path / "docs_raw")
    write_table(docs, path, partition_by=("part_id",))
    back = read_table(spark, path)
    pruned = prune_partitions(back, [0, 1])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part_id" in plan
    assert pruned.select("part_id").distinct().count() <= 2


def test_pipeline_determinism_run_twice_exceptall(spark):
    """SURVEY §5 determinism check: two runs over the identical corpus
    produce exactly the same exploded span relation (exceptAll empty both
    directions) — no ordering, salting, or memoization nondeterminism."""
    from pyspark.sql import functions as F

    from oxidizepdf_spark.pipeline import extract_spans

    pairs = list(generate_corpus(n_docs=40, seed=23))
    docs = _docs_df(spark, pairs)

    def flat(df):
        return df.select(
            "doc_id", F.posexplode("spans").alias("i", "s")
        ).select("doc_id", "i", "s.kind", "s.text", "s.media_ref", "s.offset")

    a = flat(extract_spans(docs))
    b = flat(extract_spans(docs))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_per_document_password_column(spark):
    """A `password` column on the input table unlocks each document with
    its own credential (PasswordProvider at corpus scale); docs with a
    wrong/missing password degrade to error='encrypted', never failures."""
    import base64

    from oxidizepdf_spark.corpus import build_encrypted_pdf
    from oxidizepdf_spark.pipeline import extract_spans

    def row(doc_id, pw_build, pw_supplied):
        pdf = build_encrypted_pdf(
            f"secret {doc_id}", method="aes-128", user_pw=pw_build
        )
        payload = "b85:" + base64.b85encode(pdf).decode()
        return (doc_id, 0, [("raw_pdf", payload, None, 0)], pw_supplied)

    docs = spark.createDataFrame(
        [
            row("right-a", b"alpha", "alpha"),
            row("right-b", b"bravo", "bravo"),
            row("wrong", b"alpha", "bravo"),
            row("none", b"alpha", None),
        ],
        "doc_id string, part_id int, spans array<struct<kind string, "
        "text string, media_ref string, offset int>>, password string",
    )
    got = {
        r["doc_id"]: r
        for r in extract_spans(docs, salt=False).collect()
    }
    assert got["right-a"]["ok"] and got["right-a"]["spans"][0]["text"] == "secret right-a"
    assert got["right-b"]["ok"] and got["right-b"]["spans"][0]["text"] == "secret right-b"
    assert not got["wrong"]["ok"] and got["wrong"]["error"] == "encrypted"
    assert not got["none"]["ok"] and got["none"]["error"] == "encrypted"


def test_minhash_lsh_bucket_cap(spark, tmp_path):
    """A 1k-doc byte-identical cluster lands in ONE (band, band_hash)
    bucket per band; without the cap the self-join emits C(1000,2) ≈ 500k
    pairs from a single bucket (and |bucket|² at web scale). With
    LSH_BUCKET_CAP the candidate set is bounded at C(cap, 2) — identical
    docs share all bands, so each band selects the same cap-lowest
    doc_ids."""
    from oxidizepdf_spark.queries import (
        LSH_BUCKET_CAP,
        q_dedup_minhash_lsh,
        release_persisted,
    )

    text = " ".join(f"w{i % 37}" for i in range(120))
    docs = spark.createDataFrame(
        [(i, text, "en", "synthetic", len(text)) for i in range(1000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    n_pairs = q_dedup_minhash_lsh(spark, sf_dir).count()
    release_persisted()
    expected = LSH_BUCKET_CAP * (LSH_BUCKET_CAP - 1) // 2
    assert n_pairs == expected


def test_connected_components_long_chain(spark):
    """A 30-node chain has diameter 29 — the exact topology a fixed
    iteration cap silently truncated before the fixpoint loop. Every node
    must label down to the chain head, plus a separate triangle and a
    2-cycle keep their own representatives."""
    from oxidizepdf_spark.queries import connected_components, release_persisted

    chain = [(i, i + 1) for i in range(100, 130)]  # 31 nodes, diameter 30
    tri = [(500, 501), (501, 502), (500, 502)]
    pair = [(900, 901)]
    pairs = spark.createDataFrame(
        chain + tri + pair, "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster"]
        for r in connected_components(pairs).collect()
    }
    release_persisted()
    assert all(got[i] == 100 for i in range(100, 131))
    assert got[500] == got[501] == got[502] == 500
    assert got[900] == got[901] == 900
    assert len(got) == 36
