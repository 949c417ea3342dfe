"""Seeded inputs, staged into the benchmark's own work directory.

The program under test only ever sees the staged tables; the expected
span rows stay in the benchmark process for the correctness check.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The query suite's tables follow the measured shape of the engine's sf0.1
# test tables, the suite's usual input, which a checkout does not hold.
# documents: 5000 rows; text of 10-100 words (uniform, mean 54.1) drawn
# evenly from the 30 words below (8829-9182 uses each); lang counts en 2059,
# zh 753, es 744, fr 742, de 702; source src{i % 20}; exactly 250 rows (5%)
# hold another row's text plus " dup"; n_chars = len(text). embeddings: 2000
# unit vectors of dimension 64, labels 0-9 (182-218 rows each).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def stage_docs(
    path: str,
    n_docs: int,
    seed: int,
    n_files: int,
    mega_doc_rate: float = 0.02,
) -> dict:
    """Write ``n_docs`` documents from ``corpus.gen_doc`` as ``n_files``
    single-row-group parquet files of equal payload (one scan task per
    file).

    Returns doc_id -> expected span tuples ``(kind, text, media_ref,
    offset)``.
    """
    from oxidizepdf_spark.corpus import all_cases, gen_doc

    cases = all_cases()
    rows, expected = [], {}
    for i in range(n_docs):
        in_row, exp_row = gen_doc(i, seed, cases, mega_doc_rate=mega_doc_rate)
        rows.append(
            {"doc_id": in_row["doc_id"], "part_id": in_row["part_id"],
             "spans": in_row["spans"]}
        )
        expected[in_row["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in exp_row["spans"]
        ]
    # the engine's docs_raw schema (table_io.DOCS_SCHEMA) in Arrow terms
    schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("part_id", pa.int32()),
            ("spans", pa.list_(pa.struct([
                ("kind", pa.string()), ("text", pa.string()),
                ("media_ref", pa.string()), ("offset", pa.int32()),
            ]))),
        ]
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for j, part in enumerate(_balanced(rows, n_files)):
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       os.path.join(path, f"part-{j:05d}.parquet"))
    return expected


def _balanced(rows: list, n_files: int) -> list[list]:
    """Spread documents over files so every file holds about the same
    payload (largest first onto the lightest file). Scan tasks then carry
    equal work, and where a seed happens to place its mega documents does
    not decide a pass's slowest task. Each file keeps doc_id order."""
    size = [sum(len(s["text"] or "") for s in r["spans"]) for r in rows]
    load = [0] * n_files
    parts: list[list[int]] = [[] for _ in range(n_files)]
    for i in sorted(range(len(rows)), key=lambda i: (-size[i], i)):
        j = load.index(min(load))
        load[j] += size[i]
        parts[j].append(i)
    return [[rows[i] for i in sorted(p)] for p in parts]


def stage_query_tables(path: str, seed: int, n_docs: int = 5000,
                       n_vecs: int = 2000, dim: int = 64) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` for the query suite,
    at sf0.1 size by default."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 101, n_docs)
    texts = [
        " ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n))
        for n in n_words
    ]
    originals = list(texts)
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = originals[int(rng.integers(n_docs))] + " dup"
    langs = rng.choice(LANGS, n_docs, p=LANG_P).tolist()
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(path, "documents.parquet"),
    )
    emb = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }),
        os.path.join(path, "embeddings.parquet"),
    )


def span_rows_equal(expected: dict, doc_ids, spans_col) -> tuple[int, list]:
    """Count documents whose output span sequence differs from
    ``expected`` (kind, text, media_ref, offset order). ``spans_col`` is a
    list of lists of span dicts. Returns ``(n_bad, sample_bad_ids)``."""
    bad = []
    for doc_id, spans in zip(doc_ids, spans_col):
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in spans or ()]
        if got != expected.get(doc_id):
            bad.append(doc_id)
    return len(bad), bad[:5]
