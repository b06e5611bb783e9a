"""Resumable build: kill after partition p, restart, identical index +
lineage rows (SURVEY §5 test item 4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sequential_query_expansion_spark.index import checkpoint as cp


@pytest.fixture(scope="module")
def docs_df(spark, tiny_corpus):
    pages = tiny_corpus.pages.sort_values("url").reset_index(drop=True)
    pdf = pages[["text"]].copy()
    pdf["doc_id"] = range(len(pdf))
    return spark.createDataFrame(pdf[["doc_id", "text"]]).repartition(4).persist()


def _postings_signature(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "postings"))
    return (
        df.select(
            "term",
            "df",
            "cf",
            F.round("max_score", 9).alias("ms"),
            F.size("blocks").alias("nb"),
        )
        .orderBy("term")
        .collect()
    )


def test_build_resume_identical(spark, docs_df, tmp_path_factory):
    out1 = str(tmp_path_factory.mktemp("idx_full"))
    out2 = str(tmp_path_factory.mktemp("idx_resume"))

    idx1 = cp.build_index_checkpointed(spark, docs_df, out1, num_buckets=16)
    sig_full = _postings_signature(spark, out1)

    # build #2, then simulate a crash that lost 5 buckets mid-merge
    cp.build_index_checkpointed(spark, docs_df, out2, num_buckets=16)
    lost = [1, 3, 7, 8, 15]
    cp.invalidate_buckets(out2, lost)
    man = cp._load_manifest(out2)
    assert set(man["buckets_done"]).isdisjoint(lost)

    # untouched buckets must not be rewritten on resume
    kept_dir = os.path.join(out2, "postings", "bucket=0")
    mtime_before = os.path.getmtime(kept_dir) if os.path.isdir(kept_dir) else None

    idx2 = cp.build_index_checkpointed(spark, docs_df, out2, num_buckets=16)
    sig_resumed = _postings_signature(spark, out2)

    assert sig_full == sig_resumed
    assert idx1.n_docs == idx2.n_docs
    if mtime_before is not None:
        assert os.path.getmtime(kept_dir) == mtime_before

    man = cp._load_manifest(out2)
    assert "blocked" in man["stages"]
    assert set(man["buckets_done"]) == set(range(16))


def test_lineage_metrics_written(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_metrics"))
    cp.build_index_checkpointed(spark, docs_df, out, num_buckets=8)
    m = spark.read.parquet(os.path.join(out, "build_metrics"))
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"flat", "blocked"} <= stages
    assert m.filter(F.col("rows") <= 0).count() == 0


def test_loaded_index_queries(spark, docs_df, tmp_path_factory, tiny_corpus):
    from sequential_query_expansion_spark.scoring.bm25 import (
        query_term_table, score_topk,
    )

    out = str(tmp_path_factory.mktemp("idx_load"))
    cp.build_index_checkpointed(spark, docs_df, out, num_buckets=8)
    idx = cp.load_index(spark, out)
    qdf = spark.createDataFrame(tiny_corpus.queries)
    res = score_topk(idx, query_term_table(qdf), k=5)
    assert res.count() > 0


@pytest.fixture(scope="module")
def dv_build(spark, docs_df, tmp_path_factory):
    """(out_dir, Spark jobs run) of one build with doc vectors; the job
    window is taken as perfbench/spans.py takes it, after the cache of
    ``docs_df`` is materialized."""
    docs_df.count()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    out = str(tmp_path_factory.mktemp("idx_dv"))
    lo = dag.nextJobId()
    cp.build_index_checkpointed(spark, docs_df, out, num_buckets=8,
                                with_doc_vectors=True)
    return out, dag.nextJobId() - lo


def test_build_lineage_rows_are_true(spark, dv_build):
    """Lineage comes from the written files' footers: per stage and
    table the rows sum to the table's row count, and a bucketed table's
    rows per partition_id are its rows per bucket."""
    import pyarrow.parquet as pq

    out, _ = dv_build
    m = pq.read_table(os.path.join(out, "build_metrics")).to_pandas()
    assert set(m.columns) == {"stage", "table", "partition_id", "rows",
                              "wall_ms", "ts"}
    expected = {("flat", "postings_flat"), ("flat", "docmap"),
                ("flat", "doc_len"), ("flat", "vocab"),
                ("blocked", "postings"), ("doc_vectors", "doc_vectors")}
    assert set(zip(m.stage, m.table)) == expected
    for stage, table in expected:
        got = m[(m.stage == stage) & (m.table == table)]
        df = spark.read.parquet(os.path.join(out, table))
        assert got.rows.sum() == df.count(), (stage, table)
        if table in ("postings_flat", "postings"):
            per_bucket = {
                r["bucket"]: r["count"]
                for r in df.groupBy("bucket").count().collect()
            }
            assert dict(zip(got.partition_id, got.rows)) == per_bucket


def test_build_job_count(dv_build):
    """Pins the Spark jobs of a checkpointed build on the 300-doc
    fixture. Lineage read from file footers costs none: each stage used
    to add three (schema-inference read, groupBy count, append write),
    so the same build ran 33 jobs when flat, blocked and doc_vectors
    re-read their tables."""
    assert dv_build[1] == 24
