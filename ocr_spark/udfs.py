"""Vectorized Python surface of the engine: three pandas UDFs + one
mapInPandas stage.  Everything else in the pipeline is native Catalyst.

Deliberate Python boundary (mirrors SURVEY.md §2.11):
- ``ocr_media_batch``      mapInPandas — model inference wants executor-local
  caching and true batching;
- ``extract_fields_udf``   array<string> → struct — the W1/W2 strategy
  cascades' control flow is impractical to prove equal in pure Catalyst, so
  the pinned-behavior Python runs once per Arrow batch;
- ``split_name_udf``       (nombre, curp) → struct — bounded search loop;
- ``strip_boilerplate_udf``text → text — per-span heuristics with thresholds.

The boundary's fixed cost is paid per task, not per pickled closure:
unpickling a UDF (``read_udfs``) takes about 0.3 ms, while the worker's
per-task ``importlib.invalidate_caches()`` re-read every zip archive on
the worker's path (0.15-0.25 s) until ``ocr_spark.pyworker`` made the
re-read conditional on the archive changing.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from ocr_spark.boilerplate import strip_boilerplate
from ocr_spark.constants import REF_YEAR
from ocr_spark.extraction.fields import FIELD_ORDER, extract_fields
from ocr_spark.extraction.name_split import split_name_by_curp
from ocr_spark.recognizer import RecognizeResult, get_recognizer

FIELDS_SCHEMA = StructType(
    [
        StructField(
            name, BooleanType() if name == "es_ine" else StringType(), True
        )
        for name in FIELD_ORDER
    ]
)

NAME_PARTS_SCHEMA = StructType(
    [
        StructField("apellido_paterno", StringType(), True),
        StructField("apellido_materno", StringType(), True),
        StructField("nombres", StringType(), True),
    ]
)

OCR_OUT_SCHEMA = (
    "doc_id string, offset int, media_ref string, lines array<string>, "
    "error string"
)


def make_extract_fields_udf(ref_year: int = REF_YEAR):
    """Struct-returning pandas UDF over the per-doc line array."""

    @pandas_udf(FIELDS_SCHEMA)
    def extract_fields_udf(lines: pd.Series) -> pd.DataFrame:
        records = [
            extract_fields(list(item) if item is not None else [], ref_year)
            for item in lines
        ]
        return pd.DataFrame(records, columns=list(FIELD_ORDER))

    return extract_fields_udf


@pandas_udf(NAME_PARTS_SCHEMA)
def split_name_udf(nombre: pd.Series, curp: pd.Series) -> pd.DataFrame:
    records = [
        split_name_by_curp(n if isinstance(n, str) else "",
                           c if isinstance(c, str) else "")
        for n, c in zip(nombre, curp)
    ]
    return pd.DataFrame(
        records, columns=["apellido_paterno", "apellido_materno", "nombres"]
    )


@pandas_udf(StringType())
def strip_boilerplate_udf(text: pd.Series) -> pd.Series:
    # Scalar loop on purpose: the operator is regex-bound, and measured
    # batch twins (pandas .str, Arrow/RE2 kernels) came out 0.75-1.0x of
    # this loop — see the vectorization note in ocr_spark/boilerplate.py.
    return pd.Series(
        [strip_boilerplate(t) if isinstance(t, str) else None for t in text],
        dtype=object,
    )


def make_ocr_batch_fn(backend: str, time_budget_s: float,
                      fake_work_iters: int = 0,
                      preproc_backend: str = "fake",
                      deskew: bool = True, binarize: bool = True,
                      hard_kill: bool = False):
    """mapInPandas stage: (doc_id, offset, media_ref, content) batches →
    (doc_id, offset, media_ref, lines, error).

    The recognizer is fetched through the executor-local cache on first use
    inside the worker process (never per row, never per task).  Per-image
    overruns and decode failures become quarantined rows (``error`` set,
    ``lines`` empty) — the document fails, never the job.
    """

    def ocr_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.preproc import get_preprocessor

        # hard_kill=True → the cached process-isolated wrapper: child-process
        # isolation with a real kill on overrun, the only defense against a
        # backend that HANGS (the soft check below only fires after
        # recognize returns).  Cached either way — one recognizer (and one
        # child process) per Python worker, reused across tasks.
        recognizer = get_recognizer(backend, fake_work_iters, hard_kill)
        preproc = get_preprocessor(preproc_backend)
        do_preproc = deskew or binarize
        for pdf in batches:
            lines_out: list[list[str]] = []
            error_out: list[str | None] = []
            for content in pdf["content"]:
                if content is None:
                    result = RecognizeResult([], error="missing_media")
                else:
                    started = time.monotonic()
                    try:
                        raw = bytes(content)
                        if do_preproc:
                            raw = preproc(raw, deskew, binarize)
                        result = recognizer.recognize(raw, time_budget_s)
                    except Exception as exc:  # fail the span, not the task
                        result = RecognizeResult([], error=f"ocr_error:{exc}")
                    if result.error is None and (
                        time.monotonic() - started > time_budget_s
                    ):
                        result = RecognizeResult([], error="timeout")
                # Recognized lines are spliced via array_join('\n') and
                # split back for the field cascade; an embedded newline in a
                # single OCR "line" (out-of-contract backend) would shift
                # every line boundary downstream — normalize it away here.
                # \r too: a CRLF backend would otherwise leave carriage
                # returns inside line text for the extraction regexes.
                lines_out.append(
                    [ln.replace("\r", " ").replace("\n", " ")
                     for ln in result.lines]
                )
                error_out.append(result.error)
            out = pdf[["doc_id", "offset", "media_ref"]].copy()
            out["lines"] = lines_out
            out["error"] = error_out
            yield out

    return ocr_media_batch
