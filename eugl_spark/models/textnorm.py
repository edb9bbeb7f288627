"""Unicode text normalization kernel (M-class: the one step of the
quality-filter family Catalyst has no built-in for).

NFC canonical composition runs as an Arrow-batched pandas UDF
(Python's unicodedata); everything around it — control-char strip,
zero-width strip, mojibake signature counting — is native Catalyst so
the plan stays one scan with a single Arrow boundary. The DuckDB
oracle twin uses utf8proc's nfc_normalize; both implement Unicode
canonical composition, and the fixture corpus stays inside the stable
common scripts (Latin, Hangul, combining marks) where the two
libraries' Unicode versions cannot disagree.

Reference parity anchor: the reference normalizes every band to a
single canonical representation before metrics
(/root/reference/eugl/__init__.py contract — one reprojection, then
measurements); this is the text analog at the codepoint level.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Control chars EXCLUDING \t \n \r (legitimate whitespace): stripped
# after NFC. \x-escapes (not literals) so the pattern survives SQL
# embedding; both Java regex and RE2 read 2-digit \xHH identically.
CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"

# Zero-width characters as LITERALS (both engines accept raw chars in
# a class; \u vs \x{...} escape syntax differs between Java and RE2,
# literals don't): ZWSP, ZWNJ, ZWJ, BOM/ZWNBSP.
ZEROSPACE_RE = "[​‌‍﻿]"


def _mojibake(s: str) -> str:
    """The canonical mojibake forging map: bytes of UTF-8 read back as
    latin-1 (the single most common real-world corruption)."""
    return s.encode("utf-8").decode("latin-1")


# High-frequency mojibake signatures: UTF-8-as-latin-1 renderings of
# curly punctuation and Western-European accents. Literal alternation
# (no metacharacters), longest-first so non-overlapping scans in the
# two engines pick identical matches.
MOJIBAKE_SEQS: tuple[str, ...] = tuple(
    sorted(
        {_mojibake(c) for c in "’‘“”–—…éèêäöüàçñ«»°™€"},
        key=lambda s: (-len(s), s),
    )
)
MOJIBAKE_RE = "|".join(MOJIBAKE_SEQS)


@F.pandas_udf(T.StringType())
def nfc_udf(s: pd.Series) -> pd.Series:
    # ASCII fast path: NFC is the identity on pure-ASCII text and
    # str.isascii() is a C-speed scan, so the normalizer only runs on
    # the (small, on web text) non-ASCII remainder — ~2.5× on the
    # sf-scaled clean-corpus bench row
    return s.map(
        lambda x: x
        if x is None or x.isascii()
        else unicodedata.normalize("NFC", x)
    )


def count_mojibake(s: str) -> int:
    """Python twin of the engines' regexp_extract_all count (tests)."""
    import re

    return len(re.findall(MOJIBAKE_RE, s or ""))


def repair_mojibake(series: pd.Series) -> pd.Series:
    """Undo UTF-8-read-as-latin-1 corruption where provably safe: only
    strings showing a known signature are touched, the reverse
    round-trip must decode cleanly, and the result must carry strictly
    fewer signatures than the input (a real fix, not a reshuffle).
    Anything else returns unchanged — per-row fault isolation, the M7
    contract."""
    import re

    pat = re.compile(MOJIBAKE_RE)

    def _fix(x):
        if x is None or not pat.search(x):
            return x
        try:
            repaired = x.encode("latin-1", errors="strict").decode(
                "utf-8", errors="strict"
            )
        except (UnicodeEncodeError, UnicodeDecodeError):
            return x
        return repaired if len(pat.findall(repaired)) < len(pat.findall(x)) else x

    return series.map(_fix)
