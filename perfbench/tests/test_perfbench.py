"""The benchmark's own checks: seeded inputs are reproducible, the
golden check counts a planted wrong row, and the span arithmetic is
right on a hand-built tree.  No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import inputs  # noqa: E402
from perfbench.spans import Span, Tracer, self_time_by_name, self_times  # noqa: E402


def _digests(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


@pytest.mark.parametrize("workload", ["web_extract", "receipt_scans", "job_commit"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = inputs.prepare(tmp_path / "a", workload, seed=5)
    b = inputs.prepare(tmp_path / "b", workload, seed=5)
    assert _digests(a.root) == _digests(b.root)
    other = inputs.prepare(tmp_path / "c", workload, seed=6)
    assert _digests(a.root) != _digests(other.root)


def test_receipt_mix_is_recorded(tmp_path):
    inp = inputs.prepare(tmp_path, "receipt_scans", seed=5)
    assert inp.meta["mix"] == {"image/png": inputs.RECEIPT_IMAGES,
                               "pdf": inputs.RECEIPT_PDFS}
    assert 0 < inp.meta["receipt_unrenderable_share"] < 1


@pytest.fixture(scope="module")
def goldens():
    from receipt_scanner_spark.sources.pages import generate_pages

    return generate_pages(n_rows=300, seed=9)[1]


def test_exact_output_has_no_failures(goldens):
    assert inputs.count_failed(goldens.copy(), goldens) == 0


def test_planted_wrong_row_is_counted(goldens):
    results = goldens.copy()
    i = results.index[results.amount.notna()][3]
    results.loc[i, "amount"] = "0.01"
    assert inputs.count_failed(results, goldens) == 1
    assert inputs.expected_checksum(results) != inputs.expected_checksum(goldens)


def test_null_versus_empty_text_is_a_failure(goldens):
    results = goldens.copy()
    i = results.index[results.extracted_text == ""][0]
    results.loc[i, "extracted_text"] = None
    assert inputs.count_failed(results, goldens) == 1
    assert inputs.expected_checksum(results) != inputs.expected_checksum(goldens)


def test_missing_and_repeated_rows_are_counted(goldens):
    missing = goldens.drop(goldens.index[:2])
    assert inputs.count_failed(missing, goldens) == 2
    repeated = pd.concat([goldens, goldens.iloc[[0]]], ignore_index=True)
    assert inputs.count_failed(repeated, goldens) == 1


def test_self_time_on_hand_built_tree():
    spans = [
        Span("doc", 0, 100, -1, 7),
        Span("a", 10, 40, 0, 7),
        Span("b", 30, 60, 0, 7),  # overlaps a: [30, 40) counts once
        Span("a_child", 15, 20, 1, 7),
        Span("a", 70, 80, 0, 7),
    ]
    assert self_times(spans) == [100 - 50 - 10, 30 - 5, 30, 5, 10]
    assert self_time_by_name(spans) == {"doc": 40, "a": 35, "b": 30, "a_child": 5}


def test_tracer_records_nesting_and_trace_id():
    tracer = Tracer()
    tracer.trace_id = 3

    def outer():
        return tracer.call("inner", lambda: 5) + 1

    assert tracer.call("outer", outer) == 6
    outer_span, inner_span = tracer.spans
    assert (outer_span.name, outer_span.parent, outer_span.trace_id) == ("outer", -1, 3)
    assert (inner_span.name, inner_span.parent) == ("inner", 0)
    assert outer_span.start <= inner_span.start <= inner_span.end <= outer_span.end
    assert sum(self_times(tracer.spans)) == outer_span.end - outer_span.start
