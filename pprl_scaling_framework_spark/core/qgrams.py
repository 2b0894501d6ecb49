"""Q-gram generation/counting with the reference's exact padding semantics.

Parity target: ``lib/qgram/QGramUtil.java`` (reference paths per SURVEY.md):

- ``properString`` (:23-29): collapse each whitespace run to ``_``; pad a
  single ``_`` on each end only when not already starting/ending with ``_``.
- string q-grams (:201-216): empty string -> no grams; else sliding windows of
  length Q over the proper string, count = max(len - Q + 1, 0).
- numbers (:218-229): ``String.valueOf`` then pad with ``_`` both ends (no
  whitespace collapse).
- booleans (:231-251): ``_T_`` / ``_F_``; if Q >= 3 the single gram is the
  whole padded string.

These run inside Arrow-batched pandas UDFs on Spark; kept dependency-free so
they are unit-testable without a SparkSession.
"""

from __future__ import annotations

import re

PAD = "_"
# Java \s is ASCII-only ([ \t\n\x0B\f\r]); Python \s is Unicode-aware and
# would also collapse U+00A0/U+2028 etc., diverging from the reference.
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def proper_string(s: str) -> str:
    p = _WS.sub(PAD, s)
    if not p.startswith(PAD):
        p = PAD + p
    if not p.endswith(PAD):
        p = p + PAD
    return p


def _pad_only(s: str) -> str:
    if not s.startswith(PAD):
        s = PAD + s
    if not s.endswith(PAD):
        s = s + PAD
    return s


def qgrams_of_string(s: str, q: int) -> list[str]:
    if s == "":
        return []
    p = proper_string(s)
    n = len(p) - q + 1
    if n <= 0:
        return []
    return [p[i : i + q] for i in range(n)]


def qgrams_of_number(x: int | float, q: int) -> list[str]:
    # Java String.valueOf: floats always carry a decimal part ("5.0").
    if isinstance(x, float):
        s = repr(x)
    else:
        s = str(x)
    if s == "":
        return []
    p = _pad_only(s)
    n = len(p) - q + 1
    if n <= 0:
        return []
    return [p[i : i + q] for i in range(n)]


def qgrams_of_bool(b: bool | None, q: int) -> list[str]:
    if b is None:
        return []
    p = PAD + ("T" if b else "F") + PAD
    if q >= len(p):
        return [p]
    return [p[i : i + q] for i in range(len(p) - q + 1)]


def qgrams(value, q: int) -> list[str]:
    """Typed dispatch mirroring QGramUtil.generateQGrams(obj, type, Q)."""
    if value is None:
        return []
    if isinstance(value, bool):
        return qgrams_of_bool(value, q)
    if isinstance(value, (int, float)):
        return qgrams_of_number(value, q)
    return qgrams_of_string(str(value), q)


def unique_qgrams(value, q: int) -> list[str]:
    seen: dict[str, None] = {}
    for g in qgrams(value, q):
        seen.setdefault(g)
    return list(seen)


def qgram_count(value, q: int) -> int:
    """Count without materializing (QGramUtil.calcQgramsCount)."""
    if value is None:
        return 0
    if isinstance(value, bool):
        return 1 if q >= 3 else (3 - q + 1)
    if isinstance(value, (int, float)):
        s = repr(value) if isinstance(value, float) else str(value)
        if s == "":
            return 0
        return max(len(_pad_only(s)) - q + 1, 0)
    s = str(value)
    if s == "":
        return 0
    return max(len(proper_string(s)) - q + 1, 0)


def unique_qgram_count(value, q: int) -> int:
    return len(unique_qgrams(value, q))

