"""Large-N stress point through the REAL sink (not noop): synthetic
interleaved corpus → full pipeline → bucket-partitioned parquet +
per-bucket lineage, timed end to end, lineage-verified, and appended as a
harness-generated addendum block to BENCH/BASELINE.md (below the MANUAL
ADDENDA marker — the numbers in the evidence file come from this script,
never from hand-editing).

Usage: python tools/stress_bench.py [n_docs] [--buckets B] [--out MD]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools.mdappend import append_addendum  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("n_docs", type=int, nargs="?", default=1_000_000)
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    p.add_argument("--out", help="markdown file to append the addendum to")
    args = p.parse_args()
    # '*' is a valid SPARK_GRAFT_CPUS (the session default); resolve it
    # here like bench.py does — int('*') died before doing any work.
    cpus = str(args.cpus)
    if not cpus.isdigit():
        cpus = str(os.cpu_count() or 8)

    from pyspark.sql import functions as F

    from ocr_spark.corpus import corpus_dataframes_distributed
    from ocr_spark.lineage import run_resumable
    from ocr_spark.session import get_spark

    spark = get_spark(
        "ocr-spark-stress", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 4,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # try/finally: a lineage mismatch exits non-zero and any mid-run
    # exception propagates — either way the bucket-partitioned sink
    # (multiple GB at 1M docs) must not stay stranded in /tmp.
    work = tempfile.mkdtemp(prefix="ocrspark_stress_")
    try:
        _run(spark, F, corpus_dataframes_distributed, run_resumable,
             args, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def _run(spark, F, corpus_dataframes_distributed, run_resumable,
         args, cpus: str, work: str) -> None:
    out_dir, lineage_dir = f"{work}/out", f"{work}/lineage"
    spans, media = corpus_dataframes_distributed(
        spark, seed=42, n_docs=args.n_docs
    )
    t0 = time.monotonic()
    summary = run_resumable(
        spark, spans, media, out_dir=out_dir, lineage_dir=lineage_dir,
        run_id="stress", n_buckets=args.buckets,
    )
    wall = time.monotonic() - t0

    lin = spark.read.parquet(lineage_dir)
    agg = lin.agg(
        F.sum("docs_in").alias("docs_in"),
        F.sum("docs_out").alias("docs_out"),
        F.sum("bytes_out").alias("bytes_out"),
        F.count(F.lit(1)).alias("n_buckets"),
    ).first()
    ok = int(agg["docs_in"]) == int(agg["docs_out"]) == args.n_docs
    result = {
        "metric": "stress_real_sink",
        "n_docs": args.n_docs,
        "wall_s": round(wall, 1),
        # extraction+data-commit only (run_resumable's own clock) — the
        # difference to wall_s is the resume check, the per-bucket input
        # count, the committed-file metadata read and the lineage commit
        "pipeline_wall_s": round(summary["wall_ms"] / 1000, 1),
        "docs_per_sec": round(args.n_docs / wall, 1),
        "buckets": int(agg["n_buckets"]),
        "docs_in": int(agg["docs_in"]),
        "docs_out": int(agg["docs_out"]),
        "gb_out": round(int(agg["bytes_out"]) / 1e9, 3),
        "lineage_accounts_all_docs": ok,
        "cpus": int(cpus),
        "processed_buckets": summary["processed_buckets"],
    }
    print(json.dumps(result))
    if not ok:
        print("LINEAGE MISMATCH — not appending evidence", file=sys.stderr)
        sys.exit(1)

    if args.out:
        stamp = time.strftime("%Y-%m-%d %H:%M")
        block = (
            f"\n## Stress point — real sink, {args.n_docs:,} docs "
            f"(generated by tools/stress_bench.py, {stamp})\n\n"
            f"```json\n{json.dumps(result)}\n```\n\n"
            f"- {result['docs_per_sec']:,} docs/s wall-inclusive "
            f"(executor-side corpus generation + full pipeline + "
            f"bucket-partitioned parquet sink + lineage commit, "
            f"local[{cpus}]).\n"
            f"- lineage accounts {result['docs_in']:,} in = "
            f"{result['docs_out']:,} out across {result['buckets']} "
            f"buckets; {result['gb_out']} GB committed.\n"
        )
        append_addendum(args.out, block)
        print(f"appended addendum to {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
