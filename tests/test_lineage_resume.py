"""Checkpoint-resume protocol: a second run must skip committed buckets,
re-emitted buckets must be idempotent, and the final output must equal a
single-shot run exactly."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ocr_spark.config import PipelineConfig
from ocr_spark.fixtures import corpus_dataframes
from ocr_spark.lineage import (
    LINEAGE_SCHEMA,
    bucket_of,
    done_buckets,
    run_resumable,
)
from ocr_spark.pipeline import run_extraction

N_DOCS = 60
SEED = 7
BUCKETS = 8


def _corpus(spark):
    return corpus_dataframes(spark, seed=SEED, n_docs=N_DOCS)


def test_resume_skips_done_buckets_and_completes(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = _corpus(spark)

    # Run 1: only half the buckets (simulates a crash after partial commit).
    spans_half = spans_df.filter(
        bucket_of(F.col("doc_id"), BUCKETS) < BUCKETS // 2
    )
    s1 = run_resumable(
        spark, spans_half, media_df, out, lin, "r1", n_buckets=BUCKETS
    )
    assert s1["skipped_buckets"] == 0
    done_after_1 = done_buckets(spark, lin, "r1")
    assert done_after_1 and max(done_after_1) < BUCKETS // 2

    # Run 2: full input — must process only the remaining buckets.
    s2 = run_resumable(
        spark, spans_df, media_df, out, lin, "r1", n_buckets=BUCKETS
    )
    assert s2["skipped_buckets"] == len(done_after_1)
    assert s2["processed_buckets"] == BUCKETS - len(done_after_1)

    # Final output == single-shot pipeline output, doc for doc.
    committed = spark.read.parquet(out)
    oneshot = run_extraction(spark, spans_df, media_df, PipelineConfig())
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                   for s in r.spans_out]
        for r in committed.collect()
    }
    want = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                   for s in r.spans_out]
        for r in oneshot.collect()
    }
    assert got == want
    assert len(got) == N_DOCS


def test_reemit_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = _corpus(spark)

    run_resumable(spark, spans_df, media_df, out, lin, "r1",
                  n_buckets=BUCKETS)
    n1 = spark.read.parquet(out).count()
    # Re-run under a NEW run_id (no buckets marked done for it): every
    # bucket is re-emitted via dynamic partition overwrite — no duplicates.
    run_resumable(spark, spans_df, media_df, out, lin, "r2",
                  n_buckets=BUCKETS)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == N_DOCS
    ids = spark.read.parquet(out).groupBy("doc_id").count()
    assert ids.filter(F.col("count") > 1).count() == 0


def test_lineage_rows_account_for_all_docs(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = _corpus(spark)
    run_resumable(spark, spans_df, media_df, out, lin, "r1",
                  n_buckets=BUCKETS)
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lin)
    rows = lineage.collect()
    assert sum(r.docs_in for r in rows) == N_DOCS
    assert sum(r.docs_out for r in rows) == N_DOCS
    assert all(r.status == "done" for r in rows)
    assert all(r.bytes_out > 0 for r in rows if r.docs_out > 0)


def _parquet_files(root):
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root)
        for f in fs if f.endswith(".parquet")
    )


def test_lineage_commit_appends_one_file_of_typed_rows(spark, tmp_path):
    """Each commit appends exactly one lineage file, whose columns carry
    LINEAGE_SCHEMA's types and whose rows state what was committed."""
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = _corpus(spark)
    half = bucket_of(F.col("doc_id"), BUCKETS) < BUCKETS // 2

    s1 = run_resumable(spark, spans_df.filter(half), media_df, out, lin,
                       "r1", n_buckets=BUCKETS)
    assert len(_parquet_files(lin)) == 1
    s2 = run_resumable(spark, spans_df, media_df, out, lin, "r1",
                       n_buckets=BUCKETS)
    assert len(_parquet_files(lin)) == 2

    lineage = spark.read.parquet(lin)
    assert lineage.schema == StructType.fromDDL(LINEAGE_SCHEMA)
    docs_in = {
        r.bucket: r["count"] for r in spans_df
        .groupBy(bucket_of(F.col("doc_id"), BUCKETS).alias("bucket"))
        .count().collect()
    }
    walls = {b: s1["wall_ms"] if b < BUCKETS // 2 else s2["wall_ms"]
             for b in docs_in}
    want = sorted(
        ("r1", b, BUCKETS, n, n,
         sum(map(os.path.getsize, _parquet_files(f"{out}/bucket={b}"))),
         walls[b], "done")
        for b, n in docs_in.items()
    )
    got = sorted(
        (r.run_id, r.bucket, r.n_buckets, r.docs_in, r.docs_out,
         r.bytes_out, r.wall_ms, r.status)
        for r in lineage.collect()
    )
    assert got == want
