"""Oracle gate: the pipeline's output checked document by document against
the pure-Python oracle (``tests/oracle.expected_document``), in the
encoding the committed truth uses (``tools/gen_truth.spans_digest``).

One per-document record is ``(doc_id, n_spans, n_errors, spans_digest,
*FIELD_ORDER)``.  The benchmark compares records one by one on its check
call, and during timed calls compares an order-independent checksum of
the records (the sum of a 60-bit slice of each record's md5) that Spark
computes inside the pass that does the work (``DataFrame.observe``), so
a timed call is checked without a second pass over its output.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.config import PipelineConfig
from ocr_spark.driver_contract import _spans_digest_col
from ocr_spark.extraction.fields import FIELD_ORDER
from tests.oracle import expected_document
from tools.gen_truth import spans_digest

RECORD_COLS = ("doc_id", "n_spans", "n_errors", "spans_digest", *FIELD_ORDER)
# Quarantine reasons the corpus can produce; anything else counts as
# "other" (ocr_error:..., oversized_doc:..., unknown_kind:..., null_kind).
REASONS = ("decode_error", "missing_media", "timeout")
_SEP = "\x1d"
_NULL = "∅"


def _enc(value) -> str:
    if value is None:
        return _NULL
    if isinstance(value, bool):  # Spark casts booleans to 'true'/'false'
        return "true" if value else "false"
    return str(value)


def record_key(record: tuple) -> int:
    digest = hashlib.md5(_SEP.join(map(_enc, record)).encode("utf-8"))
    return int(digest.hexdigest()[:15], 16)


def reason_of(error: str) -> str:
    return error if error in REASONS else "other"


@dataclass(frozen=True)
class Summary:
    """What a whole output must add up to."""

    docs: int
    checksum: int
    reasons: dict[str, int]


def expected_records(
    span_rows: list[dict], media_rows: list[dict], cfg: PipelineConfig
) -> tuple[dict[str, tuple], Summary, list[list[str]]]:
    """Oracle records by doc_id, their summary, and each document's
    recognized lines (the fields kernel's input)."""
    media_by_ref = {m["media_ref"]: m for m in media_rows}
    records: dict[str, tuple] = {}
    reasons: Counter = Counter({r: 0 for r in (*REASONS, "other")})
    doc_lines: list[list[str]] = []
    for span_row in span_rows:
        exp = expected_document(span_row, media_by_ref, cfg)
        records[exp["doc_id"]] = (
            exp["doc_id"], len(exp["spans_out"]), len(exp["errors"]),
            spans_digest(exp["spans_out"]),
            *(exp["fields"][k] for k in FIELD_ORDER),
        )
        reasons.update(reason_of(e[2]) for e in exp["errors"])
        doc_lines.append([
            line for kind, text, _ref, _off in exp["spans_out"]
            if kind == "media" and text is not None
            for line in text.split("\n")
        ])
    summary = Summary(len(records), sum(map(record_key, records.values())),
                      dict(reasons))
    return records, summary, doc_lines


# ---------------------------------------------------------------- Spark side

def record_columns() -> list[Column]:
    """The per-document record, computed from the pipeline's output."""
    return [
        F.col("doc_id"),
        F.size("spans_out").alias("n_spans"),
        F.size("errors").alias("n_errors"),
        _spans_digest_col().alias("spans_digest"),
        *[F.col(f"fields.{c}").alias(c) for c in FIELD_ORDER],
    ]


def _key_col(cols: list[Column]) -> Column:
    enc = [F.coalesce(c.cast("string"), F.lit(_NULL)) for c in cols]
    digest = F.md5(F.concat_ws(_SEP, *enc))
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("decimal(38,0)")


def summary_aggs() -> list[Column]:
    """Aggregates over an output DataFrame that give its Summary; usable
    both in ``DataFrame.observe`` and in ``DataFrame.agg``."""
    def n_reason(pred) -> Column:
        return F.sum(F.size(F.filter("errors", lambda e: pred(e["error"]))))

    return [
        F.count(F.lit(1)).alias("docs"),
        F.sum(_key_col(record_columns())).alias("checksum"),
        *[n_reason(lambda err, r=r: err == r).alias(r) for r in REASONS],
        n_reason(lambda err: ~err.isin(*REASONS)).alias("other"),
    ]


def summary_from_row(row: dict) -> Summary:
    return Summary(
        int(row["docs"]), int(row["checksum"] or 0),
        {r: int(row[r] or 0) for r in (*REASONS, "other")},
    )


def collect_records(out: DataFrame) -> dict[str, tuple]:
    return {r[0]: tuple(r) for r in out.select(*record_columns()).collect()}


# ---------------------------------------------------------------- checks

def compare_records(
    actual: dict[str, tuple], expected: dict[str, tuple], limit: int = 5
) -> list[str]:
    """Per-document differences, at most ``limit`` of each kind."""
    problems = []
    missing = sorted(expected.keys() - actual.keys())
    extra = sorted(actual.keys() - expected.keys())
    if missing:
        problems.append(f"{len(missing)} docs missing, e.g. {missing[:limit]}")
    if extra:
        problems.append(f"{len(extra)} unexpected docs, e.g. {extra[:limit]}")
    wrong = [d for d in sorted(expected.keys() & actual.keys())
             if actual[d] != expected[d]]
    for d in wrong[:limit]:
        cols = [c for c, a, e in zip(RECORD_COLS, actual[d], expected[d])
                if a != e]
        problems.append(f"{d}: {cols} differ from the oracle")
    if len(wrong) > limit:
        problems.append(f"... {len(wrong)} docs differ in all")
    return problems


def compare_summary(actual: Summary, expected: Summary) -> list[str]:
    problems = []
    if actual.docs != expected.docs:
        problems.append(f"docs {actual.docs} != {expected.docs}")
    if actual.checksum != expected.checksum:
        problems.append("record checksum differs from the oracle")
    if actual.reasons != expected.reasons:
        problems.append(
            f"quarantine by reason {actual.reasons} != {expected.reasons}"
        )
    return problems


def check_lineage(rows: list[dict], run_id: str, n_docs: int) -> list[str]:
    """A committed run: every lineage row done, docs_in == docs_out ==
    n_docs summed over the run's buckets."""
    mine = [r for r in rows if r["run_id"] == run_id]
    if not mine:
        return [f"no lineage rows for run {run_id!r}"]
    problems = []
    not_done = [r["bucket"] for r in mine if r["status"] != "done"]
    if not_done:
        problems.append(f"buckets not done: {not_done[:5]}")
    docs_in = sum(r["docs_in"] for r in mine)
    docs_out = sum(r["docs_out"] for r in mine)
    if not docs_in == docs_out == n_docs:
        problems.append(
            f"lineage docs_in={docs_in} docs_out={docs_out} n_docs={n_docs}"
        )
    return problems
