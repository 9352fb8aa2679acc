"""Unicode analysis chain: tokenizer pattern + case/diacritics folding.

The reference's analyzers tokenize Unicode text and index desensitized
variants per annotation (reference analysis/BLStandardAnalyzer.java,
RemoveAllAccentsFilter.java; MatchSensitivity.java:14-17 defines the
four sensitivities s / i / ci / di). Our annotation forms:

- ``tokens``   : original case + accents  (the 's' view, stored)
- ``tokens_i`` : lowercased + accent-folded (the 'i' view; this is what
                 the postings/terms dict index)
- 'ci' / 'di'  : derived on demand (lower only / fold only)

The accent fold is a FIXED translate() mapping — precomposed Latin-1
Supplement + Latin Extended A/B codepoints mapped to their ASCII base
letter, combining marks U+0300-U+036F deleted — generated from
unicodedata at import time. A fixed table keeps the fold identical and
cheap across all three engines the oracle contract spans: Spark
(codegen ``translate``), Python (``str.translate``) and DuckDB
(``strip_accents`` agrees on this range). Semantically this is the
reference's StringUtil.stripAccents (NFD + drop combining marks),
restricted to the range where a single-codepoint ASCII base exists.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column, functions as F

# Shared Spark/DuckDB tokenizer (Java regex + RE2 both support \p{L}):
# any run of Unicode letters or digits is a token.
TOKEN_PATTERN = r"[\p{L}\p{N}]+"

# Python `re` has no \p{...}; [^\W_] is the equivalent word-char class
# (letters + digits + combining marks, minus underscore).
PY_TOKEN_PATTERN = r"[^\W_]+"


# codepoint ranges with single-base NFD decompositions: Latin-1
# Supplement + Extended A/B, Cyrillic, Latin Extended Additional,
# Greek (incl. Extended)
_FOLD_RANGES = ((0xC0, 0x250), (0x370, 0x530), (0x1E00, 0x2000))


def _build_fold_map() -> tuple[str, str]:
    frm, to = [], []
    for lo, hi in _FOLD_RANGES:
        for cp in range(lo, hi):
            ch = chr(cp)
            base = "".join(
                c
                for c in unicodedata.normalize("NFD", ch)
                if not unicodedata.combining(c)
            )
            if len(base) == 1 and base != ch:
                frm.append(ch)
                to.append(base)
    # bare combining marks (decomposed input) are deleted: translate()
    # drops match chars beyond the replacement string's length
    marks = "".join(chr(c) for c in range(0x300, 0x370))
    return "".join(frm) + marks, "".join(to)


FOLD_FROM, FOLD_TO = _build_fold_map()

_PY_FOLD_TABLE: dict[int, str | None] = {
    ord(ch): (FOLD_TO[i] if i < len(FOLD_TO) else None)
    for i, ch in enumerate(FOLD_FROM)
}

# the four match sensitivities (reference MatchSensitivity.java:14-17)
SENSITIVITIES = ("s", "i", "ci", "di")


def norm_sensitivity(sensitive) -> str:
    """Accept the legacy bool (True='s', False='i') or an explicit
    's'/'i'/'ci'/'di' string."""
    if sensitive is True:
        return "s"
    if sensitive is False:
        return "i"
    if sensitive not in SENSITIVITIES:
        raise ValueError(f"unknown sensitivity: {sensitive!r}")
    return sensitive


# ---- folding --------------------------------------------------------------

def _is_ascii(col: Column) -> Column:
    """Cheap exact ASCII test: UTF-8 byte length == char length."""
    return F.octet_length(col) == F.length(col)


def fold_col(col: Column | str) -> Column:
    """Accent-fold a string Column (JVM-side, codegen). ASCII strings
    short-circuit past the ~900-char translate map — measured 3x
    cheaper on a mostly-ASCII corpus (22s -> 7s per 56M tokens at 8
    cores); fully-accented corpora pay the translate only where it
    does work."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(_is_ascii(c), c).otherwise(F.translate(c, FOLD_FROM, FOLD_TO))


def fold_py(s: str) -> str:
    """The same fold for driver-side strings (query terms, literals)."""
    return s.translate(_PY_FOLD_TABLE)


def desensitize_py(s: str) -> str:
    """Full 'i' normalization of a query-side string."""
    return fold_py(s.lower())


def desensitize_col(col: Column | str, sens: str) -> Column:
    """Apply a sensitivity's normalization to a string Column."""
    c = F.col(col) if isinstance(col, str) else col
    if sens == "s":
        return c
    if sens == "ci":
        return F.lower(c)
    if sens == "di":
        return fold_col(c)
    # full 'i': ASCII short-circuits straight to lower()
    return F.when(_is_ascii(c), F.lower(c)).otherwise(
        F.translate(F.lower(c), FOLD_FROM, FOLD_TO)
    )


def desensitize_value(v: str, sens: str) -> str:
    if sens == "s":
        return v
    if sens == "ci":
        return v.lower()
    if sens == "di":
        return fold_py(v)
    return desensitize_py(v)


def insensitive_tokens_col(tokens_col: str = "tokens") -> Column:
    """tokens -> tokens_i (the stored-equivalent derived 'i' view)."""
    return F.transform(tokens_col, lambda t: desensitize_col(t, "i"))


# ---- Python-side tokenization --------------------------------------------

def py_token_pattern(pattern: str) -> str:
    """Python-re-compatible form of the engine tokenizer pattern."""
    return PY_TOKEN_PATTERN if pattern == TOKEN_PATTERN else pattern


def py_tokenize(text: str, pattern: str = TOKEN_PATTERN) -> list[str]:
    """Sensitive tokens of ``text`` under the engine tokenizer."""
    return re.findall(py_token_pattern(pattern), text)


def py_tokenize_insensitive(text: str, pattern: str = TOKEN_PATTERN) -> list[str]:
    return [desensitize_py(t) for t in py_tokenize(text, pattern)]
