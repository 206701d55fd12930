"""Extraction benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Set-up starts a ``local[4]`` session, generates the workload's corpus from
the seed and writes it to parquet (three times; the median counts), then
makes one warm-up call whose output is checked doc by doc against the
oracle.  ``setup_s`` is session start + generation + warm-up.

``--trace 0`` then calls the flagship for ``--seconds`` seconds and at
least the workload's number of calls, with a fixed-cost CPU burn before
each call, checks every call's output against the oracle, and reports the
end-to-end metrics.  ``--trace 1`` instead times each layer (see
``perfbench/layers.py``) and reports the per-layer metrics.  The last stdout line is the JSON result;
the line before it is a report with the samples, the host-noise control
and the input descriptors.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gate, host  # noqa: E402
from perfbench.workloads import WORKLOADS, generate, write_parquet  # noqa: E402

SETUP_REPEATS = 3
# Sink buckets: one bucket file per shuffle partition, about 125 docs per
# file at this corpus size (the job's default of 64 would write files of
# ~15 docs here, a small-files shape production does not have).
N_BUCKETS = 8


def noop_call(out, summary: gate.Summary, tag: str):
    """Time one noop-sink write of ``out``; the oracle summary is
    gathered inside the same pass.  Returns (wall seconds, problems)."""
    from pyspark.sql import Observation

    obs = Observation(f"gate_{tag}")
    observed = out.observe(obs, *gate.summary_aggs())
    t0 = time.perf_counter()
    observed.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    return wall, gate.compare_summary(gate.summary_from_row(obs.get), summary)


def local1_leg(leg_dir: str, calls: int) -> dict:
    """The scaling leg: the flagship on the parquet in ``leg_dir`` at
    local[1], one warm-up call then ``calls`` timed ones, each checked
    against ``leg_dir/summary.json``."""
    from ocr_spark.config import PipelineConfig
    from ocr_spark.pipeline import run_extraction

    with open(f"{leg_dir}/summary.json") as fh:
        summary = gate.Summary(**json.load(fh))
    spark = host.start_session(1)
    try:
        out = run_extraction(spark, spark.read.parquet(f"{leg_dir}/spans"),
                             spark.read.parquet(f"{leg_dir}/media"),
                             PipelineConfig())
        walls, problems, failed = [], [], 0
        for i in range(calls + 1):
            wall, found = noop_call(out, summary, f"local1_{i}")
            walls.append(wall)
            problems += found
            failed += bool(found)
    finally:
        host.stop_session(spark)
    return {"local1_s": walls[1:], "attempted": calls + 1, "failed": failed,
            "problems": problems}


class Run:
    """One workload at one seed: set-up, then the timed or traced calls."""

    def __init__(self, workload: str, seed: int, scale: float, work: str,
                 scratch: str):
        from ocr_spark.config import PipelineConfig

        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.n_docs = max(8, round(self.wl.n_docs * scale))
        self.work = work
        self.scratch = scratch
        self.cfg = PipelineConfig()
        self.setup_parts: dict[str, float] = {}
        self.problems: list[str] = []

    # ------------------------------------------------------------ set-up

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.spark = host.start_session(host.CORES)
        session_s = time.perf_counter() - t0
        gen_s = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            corpus = generate(self.wl, self.seed, self.n_docs)
            dirs = write_parquet(corpus, f"{self.work}/input{i}")
            gen_s.append(time.perf_counter() - t0)
        self.corpus = corpus
        self.descriptors = corpus.descriptors()
        self.spans_df = self.spark.read.parquet(dirs[0])
        self.media_df = self.spark.read.parquet(dirs[1])
        self.spans_dir = dirs[0]

        t0 = time.perf_counter()
        self.expected, self.summary, self.doc_lines = gate.expected_records(
            corpus.span_rows, corpus.media_rows, self.cfg)
        self.setup_parts["oracle_s"] = time.perf_counter() - t0

        # Warm-up: a pipeline run whose output is checked doc by doc (for
        # the sink workload a run_resumable call and its committed output).
        t0 = time.perf_counter()
        if self.wl.sink:
            self.problems += self.call("warmup")[1]
            output = self.spark.read.parquet(self.last_sink[1])
        else:
            output = self.pipeline()
        self.problems += gate.compare_records(gate.collect_records(output),
                                              self.expected)
        warm_s = time.perf_counter() - t0
        self.setup_parts.update(session_s=session_s,
                                gen_s=statistics.median(gen_s),
                                warmup_s=warm_s)
        host.control_burn(self.spark)  # warms the control, not counted
        return session_s + statistics.median(gen_s) + warm_s

    # ------------------------------------------------------------ one call

    def pipeline(self):
        from ocr_spark.pipeline import run_extraction

        return run_extraction(self.spark, self.spans_df, self.media_df,
                              self.cfg)

    def call(self, tag: str) -> tuple[float, list[str]]:
        """One call of the workload's flagship path: (wall seconds of the
        call alone, oracle problems)."""
        return self.sink_call(tag) if self.wl.sink else self.noop_call(tag)

    def noop_call(self, tag: str) -> tuple[float, list[str]]:
        """``run_extraction`` to the noop sink."""
        return noop_call(self.pipeline(), self.summary, tag)

    def sink_call(self, tag: str) -> tuple[float, list[str]]:
        """``lineage.run_resumable`` into fresh sink and lineage dirs; the
        committed output and lineage are read back and checked."""
        from ocr_spark.lineage import run_resumable

        base = f"{self.work}/sink_{tag}"
        out_dir, lineage_dir = f"{base}/out", f"{base}/lineage"
        t0 = time.perf_counter()
        result = run_resumable(self.spark, self.spans_df, self.media_df,
                               out_dir, lineage_dir, run_id=tag,
                               n_buckets=N_BUCKETS, cfg=self.cfg)
        wall = time.perf_counter() - t0
        self.last_sink = (result, out_dir)
        committed = self.spark.read.parquet(out_dir)
        problems = gate.compare_summary(
            gate.summary_from_row(
                committed.agg(*gate.summary_aggs()).first().asDict()),
            self.summary,
        )
        lineage = [r.asDict() for r in
                   self.spark.read.parquet(lineage_dir).collect()]
        problems += gate.check_lineage(lineage, tag, self.n_docs)
        return wall, problems

    # ------------------------------------------------------------ trace 0

    def timed(self, seconds: float):
        """Returns (metrics, report, attempted, failed) for ``--trace 0``."""
        walls, controls, attempted, failed = [], [], 0, 0
        deadline = time.monotonic() + seconds
        with host.MemorySampler() as mem:
            while attempted < self.wl.calls or time.monotonic() < deadline:
                controls.append(host.control_burn(self.spark))
                attempted += 1
                try:
                    wall, problems = self.call(str(attempted))
                except Exception:  # a failed call is counted, not fatal
                    traceback.print_exc()
                    failed += 1
                    continue
                walls.append(wall)
                if problems:
                    failed += 1
                    print(f"call {attempted}: {problems}", file=sys.stderr)
                if self.wl.sink:
                    shutil.rmtree(f"{self.work}/sink_{attempted}")
        if not walls:
            raise RuntimeError(f"all {attempted} timed calls raised")
        metrics = {
            "docs_per_s": (self.n_docs / statistics.median(walls), "1/s"),
            "peak_pss_mb": (mem.peak / 2**20, "MB"),
        }
        return metrics, {"call_s": walls, "control_s": controls}, \
            attempted, failed


def _metric_json(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the workload's doc count (smoke tests)")
    ap.add_argument("--local1-leg", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    scratch = host.scratch_env(ROOT)
    if args.local1_leg:  # child process of the traced run
        from perfbench.layers import SCALING_CALLS

        print(json.dumps(local1_leg(args.local1_leg, SCALING_CALLS)))
        return 0
    work = os.path.join(scratch, "work", f"{args.workload}-{os.getpid()}")
    run = Run(args.workload, args.seed, args.scale, work, scratch)
    try:
        setup_s = run.setup()
        if args.trace:
            from perfbench.layers import traced

            metrics, report, attempted, failed = traced(run, args.seconds)
        else:
            metrics, report, attempted, failed = run.timed(args.seconds)
            metrics["setup_s"] = (setup_s, "s")
    finally:
        if getattr(run, "spark", None) is not None:
            host.stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    for problem in run.problems:
        print(f"oracle gate: {problem}", file=sys.stderr)
    report.update(workload=args.workload, seed=args.seed, cores=host.CORES,
                  cpus=os.cpu_count(), docs=run.n_docs,
                  inputs=run.descriptors, setup=run.setup_parts)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": not run.problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _metric_json(metrics),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
