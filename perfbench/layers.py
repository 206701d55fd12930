"""The traced run: per-layer numbers for one workload, measured from
outside the program.

Each layer is timed by materializing a plan prefix built from the
pipeline's public functions (``explode_spans``, ``text_path``,
``media_path``, ``splice_documents``) to the noop sink; a layer's self
time is the difference between two prefixes.  The text and media paths
share one stage, so ``splice.self_s`` (no-fields prefix minus both path
prefixes) reads below zero when they overlap.  After each action the SQL
status store gives the operators' rows, bytes, Python time and per-task
skew, and each layer's Python kernel is also timed in-process on the
same inputs.  Spans (name, start, end, parent, workload, seed) are kept
in memory and written to ``.perfbench/traces`` at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, replace

from perfbench import host
from perfbench.ledger import Execution, StatusStore

REPS = 2  # calls per prefix and of the full plan; the median counts
SCALING_CALLS = 2


class Tracer:
    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "seed": self.seed,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_s(self, rec: dict) -> float:
        """Duration minus the part of it the span's children cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == rec["id"])
        covered, edge = 0.0, rec["start"]
        for start, end in kids:
            start = max(start, edge)
            if end > start:
                covered += end - start
                edge = end
        return rec["end"] - rec["start"] - covered

    def write(self, directory: str) -> str:
        os.makedirs(directory, exist_ok=True)
        path = os.path.join(
            directory, f"{self.workload}-seed{self.seed}-{os.getpid()}.json")
        for rec in self.spans:
            rec["self_s"] = self.self_s(rec)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
        return path


def kernel_s(fn, items, budget_s: float = 1.0) -> float:
    """Seconds per item of ``fn`` in-process, over the first items that
    fit in ``budget_s`` (0.0 when there are none)."""
    n, started = 0, time.perf_counter()
    for item in items:
        fn(item)
        n += 1
        if time.perf_counter() - started > budget_s:
            break
    return (time.perf_counter() - started) / n if n else 0.0


def _python_node(ex: Execution, name: str, above_aggregate: bool):
    for node in ex.named(name):
        has_agg = any(n.name.startswith("ObjectHashAggregate")
                      for n in node.below())
        if has_agg == above_aggregate:
            return node
    return None


def _first_below(node, name: str):
    return next((n for n in node.below() if n.name.startswith(name)), None) \
        if node is not None else None


def _share(items: int, per_item_s: float, self_s: float) -> float:
    """Useful fraction of a layer: in-process kernel time for its items
    over the core-seconds the layer held."""
    return items * per_item_s / (self_s * host.CORES) if self_s > 0 else 0.0


def traced(run, seconds: float):
    """Returns (metrics, report, attempted, failed) for ``--trace 1``."""
    from ocr_spark.constants import REF_YEAR
    from ocr_spark.extraction.fields import extract_fields
    from ocr_spark.boilerplate import strip_boilerplate
    from ocr_spark.pipeline import (explode_spans, media_path,
                                    splice_documents, text_path)
    from ocr_spark.preproc import get_preprocessor
    from ocr_spark.recognizer import get_recognizer

    tr = Tracer(run.wl.name, run.seed)
    store = StatusStore(run.spark)
    cfg = run.cfg
    attempted = failed = 0
    m: dict[str, tuple[float, str]] = {}

    def timed_prefix(name: str, df) -> tuple[float, list[Execution]]:
        walls = []
        with tr.span(f"layer.{name}"):
            for _ in range(REPS):
                mark = store.mark()
                with tr.span("spark.action"):
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t0)
                with tr.span("status_store.read"):
                    execs = store.since(mark)
        return statistics.median(walls), execs

    exploded = explode_spans(run.spans_df, cfg.max_spans_per_doc)
    text = text_path(exploded, cfg)
    media = media_path(exploded, run.media_df, cfg)
    no_fields = splice_documents(text.unionByName(media), cfg).drop("fields")

    explode_s, ex_explode = timed_prefix("explode", exploded)
    text_s, _ = timed_prefix("text_path", text)
    nostrip_s, _ = timed_prefix(
        "text_path.nostrip", text_path(exploded, replace(cfg, strip_html=False)))
    media_s, _ = timed_prefix("media_path", media)
    nofields_s, _ = timed_prefix("splice.nofields", no_fields)

    # The full plan: untraced calls (exactly the --trace 0 call) against
    # traced ones (a span around the call and a status-store read after).
    untraced, traced_walls, controls = [], [], []
    ex_full: list[Execution] = []
    for i in range(REPS):
        controls.append(host.control_burn(run.spark))
        wall, problems = run.noop_call(f"untraced{i}")
        untraced.append(wall)
        attempted, failed = attempted + 1, failed + bool(problems)
        with tr.span("layer.full"):
            mark = store.mark()
            with tr.span("spark.action"):
                wall, problems = run.noop_call(f"traced{i}")
            with tr.span("status_store.read") as read:
                ex_full = store.since(mark)
            traced_walls.append(wall + read["end"] - read["start"])
        attempted, failed = attempted + 1, failed + bool(problems)
    full_s = statistics.median(untraced)
    (full,) = [e for e in ex_full if e.named("ObjectHashAggregate")] or [None]

    # Python kernels in-process, on the same inputs.
    texts = [s["text"] for r in run.corpus.span_rows for s in r["spans"]
             if s["kind"] == "text"]
    contents = [bytes(mr["content"]) for mr in run.corpus.media_rows]
    recognizer = get_recognizer(cfg.recognizer_backend, cfg.fake_work_iters)
    preproc = get_preprocessor(cfg.preproc_backend)
    with tr.span("kernel.strip"):
        strip_k = kernel_s(strip_boilerplate, texts)
    with tr.span("kernel.ocr"):
        ocr_k = kernel_s(lambda c: recognizer.recognize(
            preproc(c, cfg.deskew, cfg.binarize), cfg.media_time_budget_s),
            contents)
    with tr.span("kernel.fields"):
        fields_k = kernel_s(lambda ls: extract_fields(ls, REF_YEAR),
                            run.doc_lines)

    strip_node = _python_node(full, "ArrowEvalPython", False) if full else None
    fields_node = _python_node(full, "ArrowEvalPython", True) if full else None
    ocr_node = (full.named("MapInPandas") or [None])[0] if full else None
    salted = _first_below(ocr_node, "Exchange")
    aggs = full.named("ObjectHashAggregate") if full else []
    final_agg = next((a for a in aggs if _first_below(a, "ObjectHashAggregate")),
                     None)
    splice_x = _first_below(final_agg, "Exchange")

    def get(node, name):
        return node.get(name) if node is not None else 0.0

    def skew(node, name):
        metric = node.metric(name) if node is not None else None
        return metric.skew if metric is not None else 1.0

    run_py, init_py = "time to run Python workers", \
        "time to initialize Python workers"
    text_self = text_s - explode_s
    strip_self = text_s - nostrip_s
    media_self = media_s - explode_s
    splice_self = nofields_s - text_s - media_s
    fields_self = full_s - nofields_s
    n_text, n_media = len(texts), int(get(ocr_node, "number of output rows"))

    m["explode.wall_s"] = (explode_s, "s")
    m["explode.rows"] = (sum(n.get("number of output rows")
                             for ex in ex_explode
                             for n in ex.named("Generate")), "count")
    m["text_path.self_s"] = (text_self, "s")
    m["strip.self_s"] = (strip_self, "s")
    m["strip.spans"] = (n_text, "count")
    m["strip.python_run_s"] = (get(strip_node, run_py), "s")
    m["strip.python_init_s"] = (get(strip_node, init_py), "s")
    m["strip.kernel_us_per_span"] = (strip_k * 1e6, "us")
    m["strip.kernel_share"] = (_share(n_text, strip_k, strip_self), "ratio")
    m["media_path.self_s"] = (media_self, "s")
    m["media.rows"] = (n_media, "count")
    m["media.exchange_bytes"] = (get(salted, "shuffle bytes written"), "B")
    m["media.exchange_skew"] = (skew(salted, "local bytes read"), "ratio")
    m["ocr.python_run_s"] = (get(ocr_node, run_py), "s")
    m["ocr.python_init_s"] = (get(ocr_node, init_py), "s")
    m["ocr.task_skew"] = (skew(ocr_node, run_py), "ratio")
    m["ocr.kernel_us_per_image"] = (ocr_k * 1e6, "us")
    m["ocr.kernel_share"] = (_share(n_media, ocr_k, media_self), "ratio")
    for reason, n in run.summary.reasons.items():
        m[f"ocr.quarantined.{reason}"] = (n, "count")
    m["splice.self_s"] = (splice_self, "s")
    m["splice.shuffle_bytes"] = (get(splice_x, "shuffle bytes written"), "B")
    m["splice.sort_fallback_tasks"] = (
        sum(a.get("number of sort fallback tasks") for a in aggs), "count")
    m["splice.task_skew"] = (skew(final_agg, "time in aggregation build"),
                             "ratio")
    m["fields.self_s"] = (fields_self, "s")
    m["fields.lines"] = (sum(map(len, run.doc_lines)), "count")
    m["fields.python_run_s"] = (get(fields_node, run_py), "s")
    m["fields.python_init_s"] = (get(fields_node, init_py), "s")
    m["fields.kernel_us_per_doc"] = (fields_k * 1e6, "us")
    m["fields.kernel_share"] = (_share(run.n_docs, fields_k, fields_self),
                                "ratio")

    sink_s = write_s = n_files = sink_bytes = scans = 0.0
    if run.wl.sink:
        mark = store.mark()
        with tr.span("layer.run_resumable"):
            wall, problems = run.sink_call("traced_sink")
            execs = store.since(mark)
        attempted, failed = attempted + 1, failed + bool(problems)
        result, out_dir = run.last_sink
        files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir)
                 for f in fs if f.endswith(".parquet")]
        sink_s = wall - result["wall_ms"] / 1000
        write_s = result["wall_ms"] / 1000 - full_s
        n_files, sink_bytes = len(files), sum(map(os.path.getsize, files))
        # scans of the spans input by run_resumable's own executions (the
        # gate reads the sink and lineage back only after them)
        spans_loc = os.path.abspath(run.spans_dir)
        scans = sum(1 for ex in execs for n in ex.nodes
                    if n.name.startswith("Scan parquet") and spans_loc in n.desc)
    m["lineage.prepass_commit_s"] = (sink_s, "s")
    m["sink.write_s"] = (write_s, "s")
    m["sink.files"] = (n_files, "count")
    m["sink.bytes"] = (sink_bytes, "B")
    m["sink_bytes_per_doc"] = (sink_bytes / run.n_docs, "B/doc")
    m["lineage.input_scans"] = (scans, "count")

    m["trace_overhead_frac"] = (
        statistics.median(traced_walls) / full_s - 1, "ratio")
    m["host.control_s"] = (statistics.median(controls), "s")
    m["host.cpus"] = (os.cpu_count(), "count")
    for k, v in run.descriptors.items():
        m[f"input.{k}"] = (v, "B" if k.endswith("bytes") else "count")

    # Scaling: the same noop plan on the same parquet at local[1], in a
    # second driver and JVM started only after this one's JVM has ended.
    one = []
    if run.wl.scaling:
        host.stop_session(run.spark)
        run.spark = None
        leg_dir = os.path.dirname(run.spans_dir)
        with open(f"{leg_dir}/summary.json", "w") as fh:
            json.dump(asdict(run.summary), fh)
        with tr.span("scaling.local1"):
            proc = subprocess.run(
                [sys.executable,
                 os.path.join(os.path.dirname(__file__), "run.py"),
                 "--workload", run.wl.name, "--seed", str(run.seed),
                 "--seconds", str(seconds), "--local1-leg", leg_dir],
                stdout=subprocess.PIPE, text=True, timeout=100, check=True)
        leg = json.loads(proc.stdout.strip().splitlines()[-1])
        one = leg["local1_s"]
        attempted, failed = attempted + leg["attempted"], failed + leg["failed"]
        for problem in leg["problems"]:
            print(f"local[1] leg: {problem}", file=sys.stderr)
    # docs/s at local[4] over 4 x docs/s at local[1]; 0 when not measured
    m["scaling_eff"] = (
        statistics.median(one) / (host.CORES * full_s) if one else 0.0,
        "ratio")

    path = tr.write(os.path.join(run.scratch, "traces"))
    report = {"trace_file": os.path.relpath(path, os.path.dirname(run.scratch)),
              "prefix_s": {"explode": explode_s, "text_path": text_s,
                           "text_path.nostrip": nostrip_s, "media_path": media_s,
                           "splice.nofields": nofields_s, "full": full_s},
              "traced_full_s": traced_walls, "untraced_full_s": untraced,
              "local1_full_s": one, "control_s": controls}
    return m, report, attempted, failed

