"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

- at a smoke size, every workload prints every metric BENCHMARK.json
  names, with its unit, in both modes;
- the oracle gate fails when two spans of a document are swapped, and on
  a lineage count mismatch;
- the oracle agrees with the committed truth at seed 42, 5,000 docs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gate, host  # noqa: E402
from perfbench.ledger import parse_metric  # noqa: E402
from perfbench.workloads import WORKLOADS, generate, write_parquet  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300,
    )
    assert proc.returncode == 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    for value in result["metrics"].values():
        assert isinstance(value["value"], (int, float))


def test_benchmark_json_names_every_workload():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {w["name"]: w["why"] for w in SPEC["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()}


@pytest.fixture(scope="module")
def spark():
    host.scratch_env(ROOT)
    session = host.start_session(2)
    yield session
    host.stop_session(session)


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    from ocr_spark.config import PipelineConfig

    wl = WORKLOADS["flagship_sink"]
    corpus = generate(wl, 7, 40)
    spans_dir, media_dir = write_parquet(
        corpus, str(tmp_path_factory.mktemp("corpus")))
    expected, summary, _ = gate.expected_records(
        corpus.span_rows, corpus.media_rows, PipelineConfig())
    return (spark.read.parquet(spans_dir), spark.read.parquet(media_dir),
            expected, summary)


def _check(out, expected, summary):
    return (gate.compare_records(gate.collect_records(out), expected),
            gate.compare_summary(gate.summary_from_row(
                out.agg(*gate.summary_aggs()).first().asDict()), summary))


def test_gate_fails_on_swapped_spans(spark, small):
    from pyspark.sql import functions as F

    from ocr_spark.pipeline import run_extraction

    spans_df, media_df, expected, summary = small
    out = run_extraction(spark, spans_df, media_df)
    assert _check(out, expected, summary) == ([], [])

    victim = next(d for d, rec in sorted(expected.items()) if rec[1] >= 2)
    swapped = out.withColumn("spans_out", F.when(
        F.col("doc_id") == victim,
        F.expr("concat(array(spans_out[1], spans_out[0]), "
               "slice(spans_out, 3, size(spans_out) - 2))"),
    ).otherwise(F.col("spans_out")))
    per_doc, whole = _check(swapped, expected, summary)
    assert per_doc == [f"{victim}: ['spans_digest'] differ from the oracle"]
    assert whole == ["record checksum differs from the oracle"]


def test_gate_fails_on_lineage_mismatch(spark, small, tmp_path):
    from ocr_spark.lineage import run_resumable

    spans_df, media_df, expected, _ = small
    run_resumable(spark, spans_df, media_df, str(tmp_path / "out"),
                  str(tmp_path / "lineage"), "r1", n_buckets=4)
    rows = [r.asDict() for r in
            spark.read.parquet(str(tmp_path / "lineage")).collect()]
    assert gate.check_lineage(rows, "r1", len(expected)) == []

    rows[0]["docs_out"] -= 1
    assert gate.check_lineage(rows, "r1", len(expected)) != []
    assert gate.check_lineage(rows, "other-run", len(expected)) != []


def test_oracle_matches_committed_truth():
    from ocr_spark.config import PipelineConfig

    truth = pq.read_table(
        os.path.join(ROOT, "fixtures", "truth", "extract_pipeline.parquet"),
        filters=[("n_docs", "=", 5000)],
    ).to_pylist()
    corpus = generate(WORKLOADS["flagship_sink"], 42, 5000)
    expected, _, _ = gate.expected_records(
        corpus.span_rows, corpus.media_rows, PipelineConfig())
    committed = {r["doc_id"]: tuple(r[c] for c in gate.RECORD_COLS)
                 for r in truth}
    assert len(committed) == 5000
    assert gate.compare_records(expected, committed) == []


@pytest.mark.parametrize("text, total, skew", [
    ("1,000", 1000.0, 1.0),
    ("16.1 MiB", 16.1 * 2**20, 1.0),
    ("total (min, med, max (stageId: taskId))\n"
     "1.5 s (323 ms, 396 ms, 444 ms (stage 12.0: task 41))", 1.5, 444 / 396),
    ("(min, med, max (stageId: taskId)):\n(1, 2, 3 (stage 1.0: task 5))",
     2.0, 1.5),
    ("total (min, med, max (stageId: taskId))\n"
     "2.2 MiB (1071.2 KiB, 1172.4 KiB, 1172.4 KiB (driver))", 2.2 * 2**20,
     1.0),
])
def test_parse_metric(text, total, skew):
    metric = parse_metric(text)
    assert metric.total == pytest.approx(total)
    assert metric.skew == pytest.approx(skew)
