"""Single-process replay of a workload's rows through the layer
functions, for the per-layer numbers.

The replay calls each layer's public function directly, in the order
``functions.udfs.extract_row`` / ``parse_row`` dispatch them, through
a call hook: ``spans.untraced_call`` for the kernel-time baseline, a
``spans.Tracer`` for the traced pass.  Its outputs are checked against
the goldens like the Spark outputs, so a replay that drifted from the
engine's dispatch shows up as failed documents.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

from receipt_scanner_spark.extract.html_fast import extract_main_text_fast
from receipt_scanner_spark.extract.imaging import (
    apply_orientation,
    decode_pixels,
    exif_orientation,
)
from receipt_scanner_spark.extract.ocr import ocr_pixels
from receipt_scanner_spark.extract.pdf import OCR_UNAVAILABLE_ERROR, process_pdf
from receipt_scanner_spark.extract.sniff import (
    maybe_gunzip,
    sniff_format,
    unsupported_error,
)
from receipt_scanner_spark.functions.udfs import build_process_udf, process_udf
from receipt_scanner_spark.parsers.amount import parse_amount
from receipt_scanner_spark.parsers.date import parse_date

from . import inputs as inputs_mod
from .spans import Tracer, self_time_by_name, untraced_call

LAYERS = ("sniff", "html_fast", "pdf", "imaging", "ocr", "amount", "date")
REPLAY_DOCS = 2_000  # replayed prefix of each workload's rows
CHUNK = 100  # docs per interleaved untraced / traced / UDF-batch slice
ROUNDS = 2  # passes over the replayed rows in each of the three modes


def _sniff(html):
    data = maybe_gunzip(html)
    return data, sniff_format(data)


def _decode(data: bytes):
    return apply_orientation(decode_pixels(data), exif_orientation(data))


def replay_doc(html, text, call, ocr_arrays):
    """One document: (format, extracted_text, error, amount, date)."""
    data, fmt = call("sniff", _sniff, html)
    out, error = None, None
    if fmt == "html":
        out = call("html_fast", extract_main_text_fast, data)
    elif fmt == "pdf":
        out, error = call("pdf", process_pdf, bytes(data), None, ocr_arrays)
    elif fmt.startswith("image/"):
        if text is not None:
            out = text
        elif ocr_arrays is None:
            error = OCR_UNAVAILABLE_ERROR
        else:
            try:
                out = ocr_arrays(call("imaging", _decode, bytes(data)))
            except NotImplementedError as exc:
                error = f"OCR error: {exc}"
            except Exception as exc:
                error = f"OCR error: {type(exc).__name__}"
    elif fmt == "empty":
        out = text or ""
    elif fmt == "text":
        out = bytes(data).decode("utf-8", errors="replace")
    else:
        error = unsupported_error(fmt)
    amount = date = None
    if out is not None:
        amount = call("amount", parse_amount, out)["match"]
        date = call("date", parse_date, out)["match"]
    return fmt, out, error, amount, date


class Replay:
    def __init__(self, pages: pd.DataFrame, ocr: bool):
        head = pages.iloc[:REPLAY_DOCS]
        self.urls = list(head.url)
        self.html = [None if h is None else bytes(h) for h in head.html]
        self.text = [t if isinstance(t, str) else None for t in head.text]
        self.ocr = ocr
        self.ocr_chars = 0
        udf = build_process_udf(ocr_arrays=ocr_pixels) if ocr else process_udf
        self.udf_fn = udf.func

    @property
    def n_docs(self) -> int:
        return len(self.urls)

    def run(self, lo: int, hi: int, call, tracer: Tracer | None = None):
        """Replay rows [lo, hi); returns their per-document outputs."""

        def ocr_arrays(px):
            t = call("ocr", ocr_pixels, px)
            if tracer is not None:
                self.ocr_chars += len(t)  # one traced round's worth
            return t

        hook = ocr_arrays if self.ocr else None
        outs = []
        for doc_id in range(lo, hi):
            h, t = self.html[doc_id], self.text[doc_id]
            if tracer is None:
                outs.append(replay_doc(h, t, call, hook))
            else:
                tracer.trace_id = doc_id
                outs.append(tracer.call("doc", replay_doc, h, t, call, hook))
        return outs

    def run_udf_batch(self, lo: int, hi: int) -> pd.DataFrame:
        """The engine's fused UDF body (``process_udf.func``) over rows
        [lo, hi) as one Arrow batch would hand them over, outside Spark."""
        return self.udf_fn(pd.Series(self.html[lo:hi], dtype=object),
                           pd.Series(self.text[lo:hi], dtype=object))

    def failed(self, outs, goldens: pd.DataFrame) -> int:
        frame = pd.DataFrame(
            [(u, o[1], o[3], o[4], o[2]) for u, o in zip(self.urls, outs)],
            columns=["url", *inputs_mod.GOLDEN_COLUMNS],
        )
        return inputs_mod.count_failed(frame, goldens)


def measure(replay: Replay, goldens: pd.DataFrame) -> tuple[dict, dict, Tracer]:
    """Replay every row untraced, traced and through the UDF body,
    interleaved CHUNK rows at a time (in rotating order) so that all
    three see the same host conditions.  Returns (per-layer metrics,
    check counts, tracer)."""
    n = replay.n_docs
    goldens = goldens[goldens.url.isin(replay.urls)]
    tracer = Tracer()
    plain_s = traced_s = udf_s = 0.0
    checks = {"attempted": 3 * n * ROUNDS, "failed": 0}
    for _ in range(ROUNDS):
        plain, traced, udf_parts = [], [], []
        replay.ocr_chars = 0
        for k, lo in enumerate(range(0, n, CHUNK)):
            hi = min(lo + CHUNK, n)
            for mode in ((0, 1, 2), (1, 2, 0), (2, 0, 1))[k % 3]:
                t0 = time.perf_counter()
                if mode == 0:
                    plain.extend(replay.run(lo, hi, untraced_call))
                    plain_s += time.perf_counter() - t0
                elif mode == 1:
                    traced.extend(replay.run(lo, hi, tracer.call, tracer))
                    traced_s += time.perf_counter() - t0
                else:
                    udf_parts.append(replay.run_udf_batch(lo, hi))
                    udf_s += time.perf_counter() - t0
        udf_out = pd.concat(udf_parts, ignore_index=True)
        udf_out.insert(0, "url", replay.urls)
        checks["failed"] += (replay.failed(plain, goldens) + replay.failed(traced, goldens)
                             + inputs_mod.count_failed(udf_out, goldens))
    n_calls = n * ROUNDS  # per-doc figures divide by every replayed doc

    self_ns = self_time_by_name(tracer.spans)
    calls = {name: 0 for name in LAYERS}
    for s in tracer.spans:
        if s.name in calls:
            calls[s.name] += 1
    calls = {name: c // ROUNDS for name, c in calls.items()}
    doc_us = sorted((s.end - s.start) / 1e3 for s in tracer.spans if s.name == "doc")

    html = [(len(h), o[1]) for h, o in zip(replay.html, traced) if o[0] == "html"]
    parsed = [o for o in traced if o[1] is not None]
    images = [o for o, t in zip(traced, replay.text)
              if o[0].startswith("image/") and t is None and replay.ocr]

    m: dict[str, float] = {}
    for name in LAYERS:
        m[f"{name}.calls"] = calls[name]
        m[f"{name}.us_per_doc"] = self_ns.get(name, 0) / n_calls / 1e3
    m["amount.chars_in"] = sum(len(o[1]) for o in parsed)
    m["amount.hit_ratio"] = _ratio(sum(o[3] is not None for o in parsed), len(parsed))
    m["date.hit_ratio"] = _ratio(sum(o[4] is not None for o in parsed), len(parsed))
    m["html_fast.bytes_in"] = sum(b for b, _ in html)
    m["html_fast.chars_out"] = sum(len(t) for _, t in html)
    m["pdf.errors"] = sum(1 for o in traced if o[0] == "pdf" and o[2] is not None)
    m["imaging.errors"] = sum(1 for o in images if o[2] is not None)
    m["ocr.chars_out"] = replay.ocr_chars
    m["udfs.assembly_us_per_doc"] = (udf_s - plain_s) / n_calls * 1e6
    m["kernel.doc_us_p50"] = statistics.median(doc_us)
    m["kernel.doc_us_p99"] = doc_us[min(len(doc_us) - 1, int(0.99 * len(doc_us)))]
    m["kernel.docs_per_s_1core"] = n_calls / plain_s
    layer_self_s = sum(self_ns.get(name, 0) for name in LAYERS) / 1e9
    m["trace.coverage"] = layer_self_s / plain_s
    m["trace.overhead_share"] = (traced_s - plain_s) / plain_s
    return m, checks, tracer


def _ratio(num: int, den: int) -> float:
    return num / den if den else 0.0
