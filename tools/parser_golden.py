"""Frozen golden corpus for the amount and date parsers.

The node differentials (tools/diff_amount_oracle.py,
tools/diff_date_repair_oracle.py) need the reference tree, which is
not always present.  This corpus freezes the parsers' current, node-
verified outputs instead, so a rewrite of their regex scans can be
checked for byte-identical results without the reference:

* ``amount_oracle``: ``diff_amount_oracle.gen_texts(20000)``
* ``date_oracle``: ``diff_date_repair_oracle.gen_texts(20000)``
* ``pages``: the extracted texts of ``generate_pages(n_rows=8000,
  seed=1)`` (what the pipeline's parsers receive)
* ``hand``: probes of ``IGNORECASE`` folding next to the Total/Balance
  Due keywords, currency codes and month names (Kelvin sign, dotted and
  dotless I, long s), BOM/NEL boundaries, ``Subtotal``/``TOTAL DUE`` and
  the month stems EN and ES share.

Every text runs through both ``parse_amount`` and ``parse_date``.  The
golden holds one sha256 per 1,000 texts per parser, over

* amount: ``(match, [(currency, amount | 'NaN', text, start, end), ...])``
* date: ``(match, [(index, text, date), ...])``

so a mismatch names its chunk.  tests/test_parser_golden.py compares;
regenerate only when a parser's output is meant to change:

    python tools/parser_golden.py    # rewrites tests/parser_golden.json
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from typing import Callable

sys.path.insert(0, ".")

CHUNK = 1000
GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "parser_golden.json",
)

_KEYWORD_PROBES = [
    "Total", "TOTAL", "total", "Total due", "TOTAL DUE", "Total Due:",
    "Balance Due", "BALANCE DUE", "balance due:", "Subtotal", "subtotal",
    "SubTotal:", "Grand Total", "TotalTotal", "Tota", "Balance",
    "Balance  Due",
]
_FOLD_CHARS = ["\u212a", "\u0130", "\u0131", "\u017f", "\ufeff", "\x85",
               "\xa0", "\u3000", "\x1c", "\t", "\n", " ", ""]
_AMOUNT_PROBES = ["5.00", "$5.00", "USD 5.00", "USD5", "$12", "1,234.56",
                  "1.234,56", "(5.00)", "(1,234.56)", "0.5", ".99", "5280.00",
                  "D\u212aK5.00", "U\u017fD5.00", "\u0130SK5.00",
                  "\u0131sk5", "IDR5", "\u212aES10", "usd5"]
_DATE_PROBES = [
    "Mar 5 2016", "Marzo 5 2016", "5 Mar 2016", "5 Marzo 2016",
    "May 5 2016", "Mayo 5 2016", "5 May 2016", "5 de Mayo de 2016",
    "Feb. 5, 2016", "Febrero 5 2016", "Jun 5 2016", "Junio 5 2016",
    "Jul 5 16", "Julio 5 16", "Sep 5 2016", "Sep. 5 2016",
    "Sept 5 2016", "Septiembre 5 2016", "5 Septiembre 2016",
    "Oct 5 2016", "Octubre 5 2016", "Nov 5 2016", "Noviembre 5 2016",
    "15 Dic 2016", "Dic-15-2016", "Ene 5 2016", "Abr 5 2016",
    "Ago 5 2016", "Aug 5 2016", "Mar05 2016", "05Mar 2016",
    "\u017fep 5 2016", "5 \u017fep 2016", "Augu\u017ft 5 2016",
    "Ago\u017fto 5 2016", "Apr\u0131l 5 2016", "Apr\u0130l 5 2016",
    "D\u0131c 5 2016", "5 D\u0130c 2016", "\u0130\u0130 Mar 5 2016",
    "2016-03-05", "03/05/2016", "2016/03/05", "5.3.16", "01'01'2016",
    "T12;45;59", "Jan01 2016", "01Jan 2016",
]


def hand_texts() -> list[str]:
    """Fixed probes: each keyword/amount and date probe alone, then
    joined with every fold character on either side."""
    out: list[str] = []
    for kw in _KEYWORD_PROBES:
        for amt in _AMOUNT_PROBES:
            for ch in _FOLD_CHARS:
                out.append(f"{ch}{kw}{ch}{amt}")
                out.append(f"x{ch}{kw} {amt}{ch}Total {amt}")
    for d in _DATE_PROBES:
        for ch in _FOLD_CHARS:
            out.append(f"{ch}{d}{ch}")
            out.append(f"Total{ch}{d} 5.00{ch}{d}")
    out += ["", " ", "(", "((5.00))", "Total", "Total 5.00 Total 6.00",
            "\u0130" * 8 + " Total 5.00 Mar 5 2016",
            "Total\u0130 5.00", "Tot\u0131l 5.00", "Tota\u212a 5.00"]
    return out


def pages_texts(n_rows: int = 8000, seed: int = 1) -> list[str]:
    from receipt_scanner_spark.functions.udfs import extract_row
    from receipt_scanner_spark.sources.pages import generate_pages

    pages, _goldens = generate_pages(n_rows=n_rows, seed=seed)
    out = []
    for r in pages.itertuples(index=False):
        _fmt, txt, _err = extract_row(r.html, r.text)
        if txt is not None:
            out.append(txt)
    return out


def corpus() -> dict[str, list[str]]:
    from tools.diff_amount_oracle import gen_texts as amount_texts
    from tools.diff_date_repair_oracle import gen_texts as date_texts

    return {
        "amount_oracle": amount_texts(20000),
        "date_oracle": date_texts(20000),
        "pages": pages_texts(),
        "hand": hand_texts(),
    }


def amount_record(text: str) -> list:
    from receipt_scanner_spark.parsers.amount import parse_amount

    r = parse_amount(text)
    return [r["match"], [
        [m.currency, "NaN" if math.isnan(m.amount) else m.amount,
         m.text, m.start, m.end]
        for m in r["matches"]
    ]]


def date_record(text: str) -> list:
    from receipt_scanner_spark.parsers.date import parse_date

    r = parse_date(text)
    return [r["match"], [
        [m.index, m.text, m.date.isoformat()] for m in r["matches"]
    ]]


PARSERS: dict[str, Callable[[str], list]] = {
    "amount": amount_record,
    "date": date_record,
}


def chunk_digests(texts: list[str], record: Callable[[str], list]) -> list[str]:
    out = []
    for i in range(0, len(texts), CHUNK):
        blob = json.dumps([record(t) for t in texts[i : i + CHUNK]])
        out.append(hashlib.sha256(blob.encode()).hexdigest())
    return out


def build() -> dict:
    golden: dict = {"chunk": CHUNK, "sources": {}}
    for name, texts in corpus().items():
        golden["sources"][name] = {
            "n_texts": len(texts),
            **{p: chunk_digests(texts, rec) for p, rec in PARSERS.items()},
        }
    return golden


def main() -> None:
    golden = build()
    with open(GOLDEN_PATH, "w") as f:
        json.dump(golden, f, indent=1)
        f.write("\n")
    for name, src in golden["sources"].items():
        print(f"{name}: {src['n_texts']} texts, "
              f"{len(src['amount'])} chunks per parser")
    print(f"wrote {GOLDEN_PATH}")


if __name__ == "__main__":
    main()
