"""End-to-end ``spark-submit --py-files`` packaging smoke.

The job script is copied to a NEUTRAL working directory and launched
with the repo stripped from PYTHONPATH, so ``ocr_spark`` is importable
ONLY from the shipped zip — the real cluster contract (reference north
star: "runs via spark-submit --py-files").  Covers: archive build, a
fresh-JVM resumable extraction run, and the second-run resume path
(all buckets skipped) across separate spark-submit invocations.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit(spark_submit, zip_path, job, args, cwd):
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)
    }
    env["SPARK_DRIVER_MEMORY"] = "4g"
    r = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            # local-mode tuning get_spark can't apply under master="submit"
            "--conf", "spark.locality.wait=0s",
            "--py-files", zip_path, job, *args,
        ],
        capture_output=True, text=True, cwd=cwd, env=env, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    payloads = [l for l in r.stdout.splitlines() if l.startswith("{")]
    assert payloads, r.stdout[-2000:]
    return json.loads(payloads[-1])


def test_spark_submit_pyfiles_extraction_and_resume(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    from tools.pyfiles import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path / "ocr_spark.zip"))
    job = str(tmp_path / "job.py")  # neutral cwd: no repo on sys.path
    shutil.copy(os.path.join(REPO, "jobs", "run_extraction.py"), job)

    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    args = [
        "--synthetic", "24", "--out", out, "--lineage", lin,
        "--run-id", "s1", "--buckets", "6",
    ]
    first = _submit(spark_submit, zip_path, job, args, str(tmp_path))
    assert first["processed_buckets"] == 6
    assert first["skipped_buckets"] == 0

    # separate JVM, same run-id: lineage marks every bucket done
    second = _submit(spark_submit, zip_path, job, args, str(tmp_path))
    assert second["skipped_buckets"] == 6
    assert second["processed_buckets"] == 0

    # the committed output is readable and complete
    import duckdb

    n = duckdb.sql(
        f"select count(*) from read_parquet('{out}/*/*.parquet')"
    ).fetchone()[0]
    assert n == 24


def test_spark_submit_pyfiles_stream_ingest_resume(tmp_path):
    """The streaming-ingest job under the real cluster launch contract:
    a fresh-JVM availableNow drain, then a SECOND spark-submit with the
    same checkpoint + store — it must process ONLY the new drop, still
    deduped against the store committed by the first JVM (the
    cross-process resume semantics the checkpoint + tags exist for)."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    from tools.pyfiles import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path / "ocr_spark.zip"))
    job = str(tmp_path / "job.py")
    shutil.copy(os.path.join(REPO, "jobs", "run_stream_ingest.py"), job)

    base = [
        "--input", str(tmp_path / "in"),
        "--store", str(tmp_path / "store"),
        "--out", str(tmp_path / "outp"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--drop-docs", "100", "--max-files-per-trigger", "1",
    ]
    first = _submit(
        spark_submit, zip_path, job,
        base + ["--synthetic-drops", "2", "--start", "0"],
        str(tmp_path),
    )
    assert first["batches"] == 2 and first["docs_in"] == 200
    assert first["docs_dropped"] > 0      # cross-drop dups died in-JVM

    second = _submit(
        spark_submit, zip_path, job,
        base + ["--synthetic-drops", "1", "--start", "200"],
        str(tmp_path),
    )
    # only the new drop is processed; its %10==6 docs duplicate texts
    # committed by the FIRST JVM's store snapshots
    assert second["batches"] == 1 and second["docs_in"] == 100
    assert second["docs_dropped"] > 0

    import duckdb

    n = duckdb.sql(
        "select count(distinct doc_id) from "
        f"read_parquet('{tmp_path}/outp/*/*.parquet')"
    ).fetchone()[0]
    assert n == first["docs_kept"] + second["docs_kept"]


_GUARD_JOB = '''
import json

from pyspark.sql import SparkSession


def report(batches):
    import sys

    import pandas as pd

    from ocr_spark import pyworker

    for _ in batches:
        pass
    yield pd.DataFrame({"needed": [sys.version_info < (3, 13)],
                        "installed": [pyworker.installed()],
                        "source": [pyworker.__file__]})


spark = SparkSession.builder.getOrCreate()
rows = (spark.range(0, 64, numPartitions=8)
        .mapInPandas(report, "needed boolean, installed boolean, "
                             "source string")
        .collect())
print(json.dumps({"rows": [r.asDict() for r in rows]}))
'''


def test_spark_submit_pyfiles_installs_worker_guard(tmp_path):
    """Workers that import ``ocr_spark`` only from the ``--py-files``
    archive still install the zip-archive guard in every task."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    from tools.pyfiles import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path / "ocr_spark.zip"))
    job = tmp_path / "job.py"
    job.write_text(_GUARD_JOB)
    rows = _submit(spark_submit, zip_path, str(job), [], str(tmp_path))["rows"]
    assert len(rows) == 8
    assert all(r["installed"] == r["needed"] for r in rows), rows
    assert all("ocr_spark.zip" in r["source"] for r in rows), rows
