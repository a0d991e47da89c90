"""Differential oracle: our amount parser vs the ACTUAL reference
implementation (/root/reference/lib/text_parser/amount_parser.js has
zero npm dependencies, so it runs directly under the system node).

Compares the winning match AND the full match list (currency, float
value incl. NaN, matched text) over a seeded fuzz corpus exercising:
unicode currency symbols from the \\p{Sc} class, valid/invalid ISO
codes, US/EU separator mixes, paren normalization, Total/Balance-Due
anchors, whitespace variety, and receipt-shaped multiline texts.

Usage: python tools/diff_amount_oracle.py [n_texts] -> exits non-zero
on any mismatch.
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys
import tempfile

sys.path.insert(0, ".")

REFERENCE_MODULE = "/root/reference/lib/text_parser/amount_parser.js"

NODE_SNIPPET = """
const amountParser = require(process.argv[3]);
const texts = JSON.parse(require('fs').readFileSync(process.argv[2], 'utf8'));
const out = texts.map(t => {
  const r = amountParser.parser(t);
  return { match: r.match === false ? null : r.match,
           matches: r.matches.map(m => [m.currency === undefined ? null : m.currency,
                                        Number.isNaN(m.amount) ? 'NaN' : m.amount, m.text]) };
});
process.stdout.write(JSON.stringify(out));
"""

SYMBOLS = ["$", "€", "£", "¥", "₹", "₩", "¢", "￥", "＄", "﷼", "₿"[:0] or "₨"]
CODES = ["USD", "EUR", "GBP", "JPY", "usd", "eur", "ZZZ", "XXX", "ABC", "CAD"]
KEYWORDS = ["", "total ", "Total: ", "TOTAL\t", "subtotal ", "balance due ",
            "Balance Due: ", "total due ", "amount ", "grand total "]
INTS = ["0", "5", "42", "100", "999", "1234", "5280", "1,234", "12,345",
        "1.234", "12.345", "1,234,567", "1.234.567", "01", "007"]
FRACS = ["", ".00", ".5", ".99", ",00", ",5", ".123", ".1", ",123"]
NOISE = ["lorem ipsum", "v1.2.3", "127.0.0.1", "12:10:30.45", "554.280.5434",
         "16.09.02", "(", ")", "#", "—", "  ", "\t", "\n",
         # JS-vs-Python \s divergence probes (see parsers/jsws.py): BOM
         # is \s in JS only; NEL + file-separators are \s in Python only
         "﻿", "\x85", "\x1c", "\xa0", " ", "　"]


def gen_texts(n: int, seed: int = 20260816) -> list[str]:
    rng = random.Random(seed)
    texts = []
    for _ in range(n):
        lines = []
        for _ in range(rng.randint(1, 8)):
            parts = []
            for _ in range(rng.randint(1, 4)):
                r = rng.random()
                if r < 0.55:
                    cur = rng.choice(SYMBOLS + CODES + ["", ""])
                    amt = rng.choice(INTS) + rng.choice(FRACS)
                    kw = rng.choice(KEYWORDS)
                    body = f"{kw}{cur}{amt}"
                    if rng.random() < 0.12:
                        body = f"({amt})"
                    parts.append(body)
                else:
                    parts.append(rng.choice(NOISE))
            lines.append(rng.choice([" ", "  ", "\t", "﻿", "\x85"]).join(parts))
        texts.append(rng.choice(["\n", " ", "\r\n", "﻿", "\xa0"]).join(lines))
    return texts


def main() -> None:
    if not os.path.isfile(REFERENCE_MODULE):
        print(f"reference absent: {REFERENCE_MODULE} not found, so this "
              "differential cannot run; tests/test_parser_golden.py holds "
              "the parser outputs it last verified", file=sys.stderr)
        sys.exit(2)
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    from receipt_scanner_spark.parsers.amount import parse_amount

    texts = gen_texts(n)
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(texts, f)
        texts_path = f.name
    with tempfile.NamedTemporaryFile("w", suffix=".js", delete=False) as f:
        f.write(NODE_SNIPPET)
        js_path = f.name
    try:
        oracle = json.loads(
            subprocess.run(["node", js_path, texts_path, REFERENCE_MODULE],
                           capture_output=True,
                           check=True, text=True).stdout
        )
    finally:
        os.unlink(texts_path)
        os.unlink(js_path)

    mismatches = 0
    for t, o in zip(texts, oracle):
        r = parse_amount(t)
        mine = {
            "match": r["match"],
            "matches": [
                [m.currency, "NaN" if math.isnan(m.amount) else m.amount, m.text]
                for m in r["matches"]
            ],
        }
        if mine != o:
            mismatches += 1
            if mismatches <= 5:
                print(f"MISMATCH on {t!r:.120}")
                print("  ref :", json.dumps(o)[:200])
                print("  mine:", json.dumps(mine)[:200])
    print(f"{len(texts)} texts, {mismatches} mismatches")
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
