"""Reference-parity Unicode case handling.

The reference deliberately does NOT use full Unicode case folding; it ships
two *simplified* fold schemes and we must match both exactly:

1. **Table fold** (``UnicodeString::to_lower``, used when a whole string is
   lowercased before tokenization): explicit pair table covering ASCII,
   Latin-1 (skipping U+00D7 multiplication sign), Greek (incl. accented and
   final sigma), Cyrillic — ``/root/reference/src/core/unicode.cpp:11-166``.
2. **Range fold** (per-character comparison inside Levenshtein / Damerau /
   Hamming / Jaro): contiguous ranges only, *including* the Latin-1 U+00D7
   skip but NOT the accented-Greek table or final sigma —
   ``/root/reference/src/algorithms/levenshtein.cpp:24-50``.
   For pure-ASCII inputs those kernels compare ``c | 0x20`` which also
   equates some punctuation pairs (e.g. ``@`` vs `` ` ``) — a reference
   quirk we replicate (``levenshtein.cpp:19-22``).

Python's ``str.lower()`` implements full Unicode tolower and would diverge on
exotic codepoints (e.g. U+0130), so we build explicit translate tables.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Table fold (unicode.cpp:11-166): the string-level lowercase.
# ---------------------------------------------------------------------------


def _build_table_fold() -> dict[int, int]:
    t: dict[int, int] = {}
    # ASCII A-Z
    for c in range(ord("A"), ord("Z") + 1):
        t[c] = c + 32
    # Latin-1 Supplement: U+00C0..U+00DE minus U+00D7 (multiplication sign)
    for c in range(0x00C0, 0x00DE + 1):
        if c != 0x00D7:
            t[c] = c + 0x20
    # Greek: U+0391..U+03A9 minus U+03A2 (unassigned in the table)
    for c in range(0x0391, 0x03A9 + 1):
        if c != 0x03A2:
            t[c] = c + 0x20
    # Greek accented
    t.update(
        {
            0x0386: 0x03AC,
            0x0388: 0x03AD,
            0x0389: 0x03AE,
            0x038A: 0x03AF,
            0x038C: 0x03CC,
            0x038E: 0x03CD,
            0x038F: 0x03CE,
        }
    )
    # Cyrillic U+0410..U+042F
    for c in range(0x0410, 0x042F + 1):
        t[c] = c + 0x20
    # Final sigma special case (unicode.cpp:158-161)
    t[0x03C2] = 0x03C3
    return t


_TABLE_FOLD = _build_table_fold()


def fold_string(s: str) -> str:
    """Reference ``to_lower`` (table fold) applied to a whole string."""
    return s.translate(_TABLE_FOLD)


# ---------------------------------------------------------------------------
# Range fold (levenshtein.cpp:24-50): per-character comparisons.
# ---------------------------------------------------------------------------


def _positional_fold_cp(c: int) -> int:
    # Reference compares chars pairwise: if both < 128 -> (a|0x20)==(b|0x20),
    # else range-fold both (levenshtein.cpp:24-50).  Folding every char with
    # the rule below and comparing for equality is exactly equivalent:
    # ASCII|0x20 lands in 0x20..0x7F which never collides with the >=0x80
    # range-fold outputs, so mixed ASCII/non-ASCII pairs stay unequal, and
    # ASCII/ASCII pairs reproduce the |0x20 quirk (e.g. '@' == '`').
    if c < 128:
        return c | 0x20
    if 0x00C0 <= c <= 0x00DE and c != 0x00D7:
        return c + 32
    if 0x0391 <= c <= 0x03A9:
        return c + 32
    if 0x0410 <= c <= 0x042F:
        return c + 32
    return c


_POSITIONAL_FOLD = {
    c: _positional_fold_cp(c) for c in range(0x0450) if _positional_fold_cp(c) != c
}


def fold_chars_positional(s: str) -> str:
    """Fold a string for positional (char-by-char) case-insensitive
    comparison, matching ``unicode_chars_equal`` (levenshtein.cpp:24-50)
    including the ASCII ``c | 0x20`` punctuation-equating quirk."""
    return s.translate(_POSITIONAL_FOLD)
