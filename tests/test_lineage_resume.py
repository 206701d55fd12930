"""Checkpoint-resume protocol: a second run must skip committed buckets,
re-emitted buckets must be idempotent, and the final output must equal a
single-shot run exactly."""

from __future__ import annotations

import os

import pytest
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


def test_run_resumable_rejects_bucket_counts_below_one(spark, tmp_path):
    spans_df, media_df = _corpus(spark)
    for n in (0, -1):
        with pytest.raises(ValueError, match="n_buckets"):
            run_resumable(spark, spans_df, media_df, str(tmp_path / "out"),
                          str(tmp_path / "lineage"), "r1", n_buckets=n)
    assert not os.path.exists(tmp_path / "out")


def test_nothing_pending_commits_no_lineage_then_a_real_run_does(
    spark, tmp_path
):
    """An empty input, then a fully committed rerun of a sparse input (10
    docs over 64 buckets, so most buckets never get a lineage row), each
    process nothing and append no lineage row; a non-empty run between
    them commits into the same directories."""
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = corpus_dataframes(spark, seed=SEED, n_docs=10)

    empty = run_resumable(spark, spans_df.limit(0), media_df, out, lin,
                          "r1", n_buckets=64)
    assert empty["processed_buckets"] == 0
    assert _parquet_files(lin) == []

    first = run_resumable(spark, spans_df, media_df, out, lin, "r1",
                          n_buckets=64)
    n_buckets_hit = spans_df.select(
        bucket_of(F.col("doc_id"), 64)).distinct().count()
    assert first["processed_buckets"] == n_buckets_hit < 64
    rows = spark.read.schema(LINEAGE_SCHEMA).parquet(lin).collect()
    assert len(rows) == n_buckets_hit
    assert sum(r.docs_in for r in rows) == sum(r.docs_out for r in rows) == 10
    assert spark.read.parquet(out).count() == 10

    rerun = run_resumable(spark, spans_df, media_df, out, lin, "r1",
                          n_buckets=64)
    assert rerun["skipped_buckets"] == n_buckets_hit
    assert rerun["processed_buckets"] == 0
    assert len(_parquet_files(lin)) == 1
    assert spark.read.parquet(out).count() == 10


def test_lineage_counts_input_rows_in_and_distinct_docs_out(spark, tmp_path):
    """A doc_id repeated in the input is one input row more in docs_in
    but one document in docs_out (the splice groups by doc_id)."""
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    spans_df, media_df = _corpus(spark)
    first_id = spans_df.first().doc_id
    doubled = spans_df.unionByName(spans_df.filter(F.col("doc_id") == first_id))
    run_resumable(spark, doubled, media_df, out, lin, "r1", n_buckets=BUCKETS)

    bucket = bucket_of(F.col("doc_id"), BUCKETS).alias("bucket")
    rows_in = {r.bucket: r["count"]
               for r in doubled.groupBy(bucket).count().collect()}
    docs = {r.bucket: r["count"] for r in
            doubled.select("doc_id").distinct().groupBy(bucket).count()
            .collect()}
    got = {r.bucket: (r.docs_in, r.docs_out) for r in
           spark.read.schema(LINEAGE_SCHEMA).parquet(lin).collect()}
    assert got == {b: (rows_in[b], docs[b]) for b in rows_in}
    assert sum(n for n, _ in got.values()) == N_DOCS + 1
    assert sum(n for _, n in got.values()) == N_DOCS


def test_lineage_counts_without_partition_type_inference(spark, tmp_path):
    """With partition type inference off, the sink's bucket column reads
    back as a string; docs_out and bytes_out must still find their bucket."""
    spans_df, media_df = _corpus(spark)
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "false")
    try:
        run_resumable(spark, spans_df, media_df, str(tmp_path / "out"),
                      str(tmp_path / "lineage"), "r1", n_buckets=BUCKETS)
    finally:
        spark.conf.unset(key)
    rows = spark.read.schema(LINEAGE_SCHEMA).parquet(
        str(tmp_path / "lineage")).collect()
    assert sum(r.docs_out for r in rows) == N_DOCS
    assert all(r.docs_out == r.docs_in and r.bytes_out > 0 for r in rows)


def test_lineage_counts_read_no_data_beyond_doc_id(spark, tmp_path):
    """The lineage counts add one input pass that reads only doc_id to the
    pipeline's two, and one read of the sink that decodes no data column
    (docs_out and bytes_out come from file metadata)."""
    from perfbench.ledger import StatusStore

    spans_df, media_df = _corpus(spark)
    spans_path = str(tmp_path / "spans_in")
    spans_df.write.parquet(spans_path)
    out = str(tmp_path / "out")
    store = StatusStore(spark)
    # a scan's description abbreviates its location past this length
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        mark = store.mark()
        run_resumable(spark, spark.read.parquet(spans_path), media_df,
                      out, str(tmp_path / "lineage"), "r1",
                      n_buckets=BUCKETS)
        execs = store.since(mark)
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")

    def scans(path):
        loc = os.path.abspath(path)
        return [n.desc for ex in execs for n in ex.nodes
                if n.name.startswith("Scan parquet") and loc in n.desc]

    spans_scans = scans(spans_path)
    assert len(spans_scans) == 3
    assert sum("ReadSchema: struct<doc_id:string>" in d
               for d in spans_scans) == 1
    (sink_scan,) = scans(out)
    assert "ReadSchema: struct<>" in sink_scan
