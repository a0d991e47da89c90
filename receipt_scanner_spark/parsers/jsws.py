"""ECMA-262 whitespace, for byte-parity with the reference's JS regexes.

JS ``\\s`` (WhiteSpace + LineTerminator) differs from Python's ``\\s``
in BOTH directions:

* JS includes U+FEFF (BOM); Python does not;
* Python includes U+001C-001F (file/group/record/unit separators) and
  U+0085 (NEL); JS does not.

Every ``(^|\\s)`` / ``(?=$|\\s)`` boundary in the reference parsers
(amount_parser.js, date_parser.js) therefore needs this explicit class
instead of Python ``\\s`` — found by the node differential oracles
(tools/diff_date_repair_oracle.py, tools/diff_amount_oracle.py), which
both showed real divergences on BOM/NEL-adjacent text before the fix
and 0 mismatches after.

Use inside a character class: ``rf"(^|[{JS_WS}])"``.

Scanning helpers shared by the amount and date parsers:

* ``WsLed`` compiles a ``(^|\\s)``-led pattern with a twin led by the
  whitespace class alone, which sre can seek with its charset search;
* ``finditer_at`` runs ``finditer``'s scan only where a match can start.
"""

from __future__ import annotations

import re
from functools import cached_property
from typing import Iterator

JS_WS = (
    "\t\n\x0b\x0c\r \xa0 "
    " - "  # contiguous range — valid inside a [...] class
    "    　﻿"
)


class WsLed:
    """A pattern opening with the reference's ``(^|\\s)`` boundary.
    ``pat`` keeps the boundary; ``twin`` opens with the whitespace class
    alone.  Past position 0 ``^`` cannot match, so there the two match
    alike, and only the twin lets sre skip from one whitespace char to
    the next (a leading alternation defeats its charset search).  The
    body must not look behind, so the twin may also run on a suffix.
    ``capture`` makes the boundary group 1, for ``\\1`` in a
    replacement."""

    def __init__(self, body: str, flags: int = 0, capture: bool = False):
        o = "(" if capture else "(?:"
        self.pat = re.compile(rf"{o}^|[{JS_WS}])" + body, flags)
        self._twin_source = (rf"{o}[{JS_WS}])" + body, flags)

    @cached_property
    def twin(self) -> re.Pattern[str]:
        # compiled on first use: the keyword-anchored amount scans only
        # ever ``match`` with ``pat``
        return re.compile(*self._twin_source)

    def finditer(self, text: str) -> list[re.Match[str]]:
        first = self.pat.match(text)
        found = [first] if first else []
        found.extend(self.twin.finditer(text, first.end() if first else 1))
        return found

    def sub(self, repl: str, text: str) -> str:
        first = self.pat.match(text)
        if first is None:
            return self.twin.sub(repl, text)
        return first.expand(repl) + self.twin.sub(repl, text[first.end():])


def finditer_at(
    pat: re.Pattern[str], text: str, starts: list[int]
) -> Iterator[re.Match[str]]:
    """``pat.finditer(text)`` when no match can begin outside ``starts``
    (ascending): ``pat.match`` at each start at or past the previous
    match's end, as finditer resumes there."""
    end = 0
    for s in starts:
        if s >= end and (m := pat.match(text, s)):
            yield m
            end = m.end()
