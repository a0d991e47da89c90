"""natural_key: the reference CLI's naturalSort ordering (cli.js:162-197)
as a Spark sort expression, pinned by shape tests + a node differential
oracle (the comparator is extracted from the read-only reference at test
time and run under system node — no reference code lives in this repo)."""

import json
import os
import shutil
import subprocess

import pytest

from receipt_scanner_spark.functions.natsort import natural_key


def _spark_order(spark, names):
    df = spark.createDataFrame([(n,) for n in names], "url string")
    return [r["url"] for r in df.orderBy(natural_key("url"), "url").collect()]


def test_file2_before_file10(spark):
    names = ["file10", "file2", "file1", "file20.txt", "file3.txt"]
    assert _spark_order(spark, names) == [
        "file1", "file2", "file3.txt", "file10", "file20.txt"
    ]


def test_mixed_shapes(spark):
    names = ["img12.png", "img2.png", "IMG1.PNG", "a-2-b", "a-10-b", "b1", "10", "2"]
    out = _spark_order(spark, names)
    assert out.index("2") < out.index("10")
    assert out.index("IMG1.PNG") < out.index("img2.png") < out.index("img12.png")
    assert out.index("a-2-b") < out.index("a-10-b")
    # numbers sort before letter-initial names (JS string fallback: digits < letters)
    assert out.index("10") < out.index("a-2-b") and out.index("10") < out.index("b1")


def test_leading_zeros_tie_is_stable(spark):
    # JS comparator returns 0 for 002 vs 2; our key makes them equal too,
    # so the secondary url tiebreak decides deterministically
    assert _spark_order(spark, ["file002", "file2"]) == ["file002", "file2"]


def test_huge_numbers_order_exactly(spark):
    """21+-digit integers must order numerically (the earlier fixed-width
    lpad TRUNCATED them, inverting 1e20 vs 9.9e19); JS itself ties
    beyond float precision, we order exactly — documented divergence."""
    names = [
        "f100000000000000000000",  # 1e20 (21 digits)
        "f99999999999999999999",   # ~9.9e19 (20 digits)
        "f100000000000000000001",
        "f2",
    ]
    out = _spark_order(spark, names)
    assert out == [
        "f2",
        "f99999999999999999999",
        "f100000000000000000000",
        "f100000000000000000001",
    ]


def test_whitespace_token_ordering_matches_reference(spark):
    """Whitespace tokens keep the plain STRING key.  The JS comparator
    is intransitive around whitespace (' ' == '0' numerically yet
    ' ' < '-' < '0' as strings), so no sort key reproduces it exactly;
    the string key matches JS wherever JS itself is consistent —
    ws-vs-punctuation and ws-vs-letters string-compare, ws-vs-numbers
    sort ws first (ws < '0' ≤ zero-padded num_key) — and diverges only
    in the ' ' vs 0 tie (JS ties and stops; we order).  An earlier
    map-ws-to-zero-key draft inverted '1 2' vs '1-2' against the node
    reference; this pins the corrected ordering."""
    # node naturalSort: ' ' - '-' is NaN -> string compare, ' ' < '-'
    assert _spark_order(spark, ["1-2", "1 2"]) == ["1 2", "1-2"]
    assert _spark_order(spark, ["7/8", "7 8"]) == ["7 8", "7/8"]
    # ws sorts before digits, digits before letters (JS string fallback)
    out = _spark_order(spark, ["3", "  5", "  2", "a"])
    assert out == ["  2", "  5", "3", "a"]


@pytest.mark.skipif(shutil.which("node") is None, reason="node unavailable")
@pytest.mark.skipif(not os.path.isfile("/root/reference/cli.js"), reason="reference absent")
def test_differential_vs_reference_natural_sort(spark):
    """Extract naturalSort from the reference cli.js at test time and
    diff orderings on url/filename shapes (decimal-fraction tie shapes
    excluded — documented divergence: JS ties, we order)."""
    import random
    import string

    names = [
        "file1", "file10", "file2", "file2a", "a10b1", "a2b10", "a2b2",
        "receipt-2016-03-05.pdf", "receipt-2016-3-5.pdf", "x", "X2", "x10",
        "img001", "img1", "1-intro", "10-outro", "2-mid",
        "host/a/9", "host/a/10", "host/b/1", "A.B", "a.b.c", "a-b",
        "page.5", "page.10", "page.2",
        # whitespace tokens vs punctuation/digit/letter tokens (strict
        # orders in JS; the ' '-vs-0 TIE class is excluded — JS keeps
        # insertion order there while our key orders)
        "1 2", "1-2", "7 8", "7/8", "a 1", "a-1", "x 9", "x09y",
    ]
    # seeded random url-ish sweep (alphabet avoids the documented
    # decimal-fraction tie divergence: no '.' adjacent to digits)
    rng = random.Random(99)
    alpha = string.ascii_letters + string.digits + "-_/"
    names += [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 18)))
        for _ in range(150)
    ]
    names = sorted(set(names))
    script = """
const fs = require('fs');
const src = fs.readFileSync('/root/reference/cli.js', 'utf8');
const m = src.match(/function naturalSort[\\s\\S]*?\\n}/);
if (!m) { throw new Error('naturalSort not found'); }
const naturalSort = eval('(' + m[0] + ')');
const names = JSON.parse(process.argv[1]);
naturalSort(names);
console.log(JSON.stringify(names));
"""
    ref = json.loads(
        subprocess.run(
            ["node", "-e", script, json.dumps(names)],
            capture_output=True, text=True, check=True,
        ).stdout
    )
    assert _spark_order(spark, names) == ref
