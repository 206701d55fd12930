"""The benchmark's workloads and their input generator.

Inputs come from ``ocr_spark.fixtures.build_doc``, the pure function of
``(seed, doc_index)`` that ``corpus_dataframes_distributed`` also calls,
so a workload's corpus is the flagship's own synthetic corpus.  They are
written to parquet here, during set-up, in a pinned number of files; the
pipeline only ever sees that parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.fixtures import build_doc

# One input file per scan task, the same at every core count.
INPUT_FILES = 8

SPANS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])
MEDIA_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("content", pa.binary()),
    ("fmt", pa.string()), ("width", pa.int32()), ("height", pa.int32()),
    ("truth_lines", pa.list_(pa.string())),
])


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    why: str
    heavy_frac: float = 0.02  # share of 50-200-span, 90%-media documents
    sink: bool = False        # True: lineage.run_resumable, real sink
    scaling: bool = False     # True: the traced run also times local[1]
    # Timed calls per run at least.  Calls get faster over the first few
    # after the warm-up, so a run always makes the same number and the
    # median sits at the same point of that curve.
    calls: int = 6


# Sizes keep one call at a few seconds on 4 cores, so that a run of the
# benchmark holds a cold start, a warm-up and the timed calls.
WORKLOADS = {w.name: w for w in (
    Workload(
        "flagship_sink", 1000, sink=True,
        why="the default corpus through lineage.run_resumable: the "
            "production path, and the only one with the pre-pass, the sink "
            "and lineage",
    ),
    Workload(
        "media_heavy", 160, heavy_frac=1.0, scaling=True,
        why="every doc heavy (about 90% media): OCR, the salted exchange, "
            "the splice over large arrays and the fields cascade dominate",
    ),
)}


@dataclass
class Corpus:
    span_rows: list[dict]
    media_rows: list[dict]

    def descriptors(self) -> dict[str, int]:
        spans = [s for r in self.span_rows for s in r["spans"]]
        return {
            "docs": len(self.span_rows),
            "spans": len(spans),
            "media": sum(s["kind"] == "media" for s in spans),
            "text_bytes": sum(len(s["text"].encode()) for s in spans
                              if s["kind"] == "text"),
            "media_bytes": sum(len(m["content"]) for m in self.media_rows),
            "max_spans_per_doc": max(len(r["spans"]) for r in self.span_rows),
        }


def generate(wl: Workload, seed: int, n_docs: int) -> Corpus:
    span_rows, media_rows = [], []
    for d in range(n_docs):
        span_row, doc_media = build_doc(seed, d, heavy_frac=wl.heavy_frac)
        span_rows.append(span_row)
        media_rows.extend(doc_media)
    return Corpus(span_rows, media_rows)


def write_parquet(corpus: Corpus, base: str) -> tuple[str, str]:
    """``base/spans`` and ``base/media``, INPUT_FILES files each."""
    dirs = []
    for name, rows, schema in (("spans", corpus.span_rows, SPANS_SCHEMA),
                               ("media", corpus.media_rows, MEDIA_SCHEMA)):
        path = f"{base}/{name}"
        os.makedirs(path)
        n = len(rows)
        for i in range(INPUT_FILES):
            part = rows[i * n // INPUT_FILES:(i + 1) * n // INPUT_FILES]
            pq.write_table(pa.Table.from_pylist(part, schema),
                           f"{path}/part-{i:05d}.parquet")
        dirs.append(path)
    return dirs[0], dirs[1]
