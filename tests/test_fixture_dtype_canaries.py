"""Canaries: embeddings/documents queries must survive plausible
driver-side fixture re-encodings, the failure class that zeroed round 3
(events ``ts`` switched int64-nanos → timestamp[us] between rounds).

Each test writes a tiny fixture in TWO encodings the generator could
plausibly ship (float32 vs float64 embeddings; int32 vs int64 counters),
runs representative registry queries against both, and asserts identical
results — so a silent regeneration surfaces as a unit failure here, not
as a zeroed correctness round.  Embedding components are multiples of
1/64 (exactly representable in float32) so cross-encoding equality is
well-defined.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from aws_insurancelake_etl_spark.queries import all_queries, gate_scope


def _write_embeddings(tmp: str, sub: str, float_type: pa.DataType) -> str:
    sf_dir = os.path.join(tmp, sub)
    os.makedirs(sf_dir)
    vecs = [[(i * 7 + d) % 64 / 64.0 for d in range(8)] for i in range(12)]
    table = pa.table(
        {
            "vec_id": pa.array(range(12), type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(float_type)),
            "label": pa.array([i % 3 for i in range(12)], type=pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "embeddings.parquet"))
    return sf_dir


def _write_documents(tmp: str, sub: str, int_type: pa.DataType) -> str:
    sf_dir = os.path.join(tmp, sub)
    os.makedirs(sf_dir)
    texts = [f"alpha beta gamma delta doc {i} the end" for i in range(10)]
    table = pa.table(
        {
            "doc_id": pa.array(range(10), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en", "de"] * 5),
            "source": pa.array([f"src{i % 2}" for i in range(10)]),
            "n_chars": pa.array([len(t) for t in texts], type=int_type),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def _rows(spark, query, sf_dir):
    with gate_scope(spark):
        return sorted(tuple(r) for r in query(spark, sf_dir).collect())


def test_embedding_queries_survive_float32_and_float64(spark):
    queries = all_queries()
    with tempfile.TemporaryDirectory(prefix="emb-canary-") as tmp:
        d32 = _write_embeddings(tmp, "f32", pa.float32())
        d64 = _write_embeddings(tmp, "f64", pa.float64())
        for name in ("ann_cosine_topk", "emb_label_norm_stats", "emb_semdedup_keep"):
            r32 = _rows(spark, queries[name], d32)
            r64 = _rows(spark, queries[name], d64)
            assert r32 == r64, f"{name} differs across embedding encodings"
            assert r32, f"{name} returned no rows on the canary fixture"


def test_document_queries_survive_int32_and_int64_counters(spark):
    queries = all_queries()
    with tempfile.TemporaryDirectory(prefix="docs-canary-") as tmp:
        d32 = _write_documents(tmp, "i32", pa.int32())
        d64 = _write_documents(tmp, "i64", pa.int64())
        for name in ("docs_lang_rebalance", "docs_source_cap", "text_token_stats"):
            r32 = _rows(spark, queries[name], d32)
            r64 = _rows(spark, queries[name], d64)
            assert r32 == r64, f"{name} differs across counter encodings"
            assert r32, f"{name} returned no rows on the canary fixture"
