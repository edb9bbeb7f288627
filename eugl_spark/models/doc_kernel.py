"""The consolidated per-document QA kernel: ONE Arrow boundary, and the
one implementation of the two models.

Measured on this pipeline, the JVM string path (UTF8String→java.lang
.String round-trips per regexp call, ~14 passes/row) is memory-
bandwidth-bound: 4 independent pinned 8-core JVMs aggregate only
2.25× one JVM's throughput on this host. The north-star architecture
("all expressed as vectorized pandas/Arrow UDFs", BASELINE.json) is
also the bandwidth-efficient one: documents cross into Python ONCE as
UTF-8 Arrow batches; extraction, tokenization, metrics, langid,
perplexity and scrubbing run in a single kernel (numpy for the model
math, compiled-sre for the regex work — identical engines to the
oracle, making byte-parity structural); only scalar metrics and the
two text outputs return.

The models — M1, char-trigram language ID (the fmask analog), and M2,
word-bigram perplexity (the s2cloudless analog) — exist once, as
``_encode`` (byte buffer + word ids), ``_langid`` (trigram counting)
and ``_nll`` (bigram NLL). ``qa_batch`` runs them on its surviving
docs; ``langid_udf`` / ``perplexity_udf`` run the same three functions
on a token-string column for the registry's standalone model rows.

Catalyst keeps what it is good at: gating/verdict when-chains,
hashing/bucketing, joins, aggregation, pruning (the qa-struct and
keep columns stay native, so keep-only consumers never touch Python).

Mirrors oracle.label_row exactly: shared constants, same rule
precedence (constants.DROP_PRECEDENCE), count-based float formulas.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eugl_spark import constants as C

# C.RE_FLAGS (re.ASCII): pins \d/\s/\w/\b to the Java/RE2 semantics —
# see the contract note in constants.py
_SYMBOL = re.compile(C.SYMBOL_RE, C.RE_FLAGS)
_SCRUB = [(re.compile(p, C.RE_FLAGS), r) for p, r in C.SCRUB_RULES]
# superset gate: every scrub pattern needs '@' or a digit (email/ip/
# phone) or a literal toxic term, so one character-class scan plus
# C-level substring checks clears the clean majority without running
# the four pattern passes (which still define the semantics). The hint
# compiles with the SAME flags as the rules, so \d here matches
# exactly what the rules' \d can — the gate stays a superset by
# construction whatever the flags say
_SCRUB_HINT = re.compile(r"[@\d]", C.RE_FLAGS)


def _maybe_scrub(t: str) -> bool:
    if _SCRUB_HINT.search(t) is not None:
        return True
    return any(term in t for term in C.TOXIC_TERMS)
_HTML = [(re.compile(p, C.RE_FLAGS), r) for p, r in C.HTML_STRIP_RULES]
_WS = re.compile(C.WHITESPACE_COLLAPSE_RE, C.RE_FLAGS)
_NL = re.compile(C.NEWLINE_COLLAPSE_RE, C.RE_FLAGS)
_TRIM = re.compile(C.TRIM_RE, C.RE_FLAGS)
# Token strings contain only [a-z ] (constants.TOKEN_RE): a 27-symbol
# alphabet, so the trigram space is 27^3 = 19,683 and the langid LUTs
# stay cache-resident rather than thrashing a 2^24 table.
_ALPHA = 27


def _charmap() -> np.ndarray:
    m = np.zeros(256, dtype=np.int32)  # space and everything else → 0
    for i in range(26):
        m[ord("a") + i] = i + 1
    return m


_CHARMAP = _charmap()
# premultiplied charmaps for the trigram code (saves two full-buffer
# vector multiplies per batch)
_CM2 = _CHARMAP * (_ALPHA * _ALPHA)
_CM1 = _CHARMAP * _ALPHA


def _build_lut() -> list[np.ndarray]:
    """Lane-packed trigram LUTs: 4 languages per int64 in 16-bit
    lanes (bit 16·lane set ⇔ the trigram is in that language's
    profile), so per-language trigram counting takes ceil(len/4)
    gather+reduceat passes instead of len(LANGS). Lane safety is
    _langid's job: it sums at most _LANE_SEG positions per reduceat
    segment, so no lane can carry into its neighbor."""
    packs = [np.zeros(_ALPHA**3, dtype=np.int64) for _ in C.LANGS[::4]]
    for i, lang in enumerate(C.LANGS):
        for g in C.TRIGRAM_PROFILES[lang]:
            code = _CM2[ord(g[0])] + _CM1[ord(g[1])] + _CHARMAP[ord(g[2])]
            packs[i // 4][code] |= 1 << (16 * (i % 4))
    return packs


_LUT_PACKS = _build_lut()
# a lane gains at most one hit per buffer position: 2^15 positions per
# segment keep every lane sum below 2^16
_LANE_SEG = 1 << 15


def _global_vocab() -> tuple[dict[str, int], dict[str, np.ndarray], int]:
    """ONE sorted vocabulary over every language, so word ids and
    bigram-edge codes (a·G + b) agree across languages."""
    words = sorted({w for l in C.LANGS for w in C.WORDS[l]})
    gidx = {w: i for i, w in enumerate(words)}
    g = len(words)
    edges = {}
    for lang in C.LANGS:
        codes = sorted(
            gidx[a] * g + gidx[b] for a, b in C.BIGRAM_TABLES[lang]
        )
        edges[lang] = np.asarray(codes, dtype=np.int64)
    return gidx, edges, g


_GIDX, _EDGES, _G = _global_vocab()

# Exact numeric word encoding: a word of length L ≤ 13 over [a-z]
# maps injectively to Σ c_i·27^(K-1-i) (c=1..26, zero-padded tail),
# so vocabulary lookup, stop-word tests and bigram-edge membership are
# pure int64 array ops — no per-word Python string objects (measured:
# tokenizing 400k docs allocated ~24M small strings, the dominant
# allocator/bandwidth load under high worker concurrency).
_WORD_K = 13


def _word_code(w: str) -> int:
    code = 0
    for i in range(_WORD_K):
        code = code * 27 + (ord(w[i]) - 96 if i < len(w) else 0)
    return code


def _encode_vocab() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    # _word_code truncates at _WORD_K digits while the document side
    # marks longer tokens non-vocab (code = -1): a vocabulary word
    # over the cap would silently encode as its prefix and never match
    # (or collide with a real K-char word) — fail fast at model load
    too_long = [w for w in _GIDX if len(w) > _WORD_K]
    if too_long:  # ValueError, not assert: -O must not disable this
        raise ValueError(
            f"vocabulary words exceed _WORD_K={_WORD_K} chars: "
            f"{too_long[:5]} — raise _WORD_K (and re-verify int64 "
            "headroom: 27^K)"
        )
    items = sorted((_word_code(w), gid) for w, gid in _GIDX.items())
    codes = np.asarray([c for c, _ in items], dtype=np.int64)
    gids = np.asarray([g for _, g in items], dtype=np.int64)
    stop = np.asarray(
        sorted(_GIDX[w] for w in C.EN_STOPWORDS), dtype=np.int64
    )
    return codes, gids, stop


_VOCAB_CODES, _VOCAB_GIDS, _STOP_GIDS = _encode_vocab()
_NON_AZ = re.compile("[^a-z]+")

RESULT_TYPE = T.StructType(
    [
        T.StructField("text_extracted", T.StringType()),
        T.StructField("scrubbed_text", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("symbol_ratio", T.DoubleType()),
        T.StructField("n_words", T.LongType()),
        T.StructField("mean_word_len", T.DoubleType()),
        T.StructField("dup_line_fraction", T.DoubleType()),
        T.StructField("stopword_fraction", T.DoubleType()),
        T.StructField("lang", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("avg_nll", T.DoubleType()),
    ]
)


def _extract(html) -> str | None:
    if html is None:
        return None
    t = bytes(html).decode("utf-8", errors="replace")
    for pat, rep in _HTML:
        t = pat.sub(rep, t)
    for ent, ch in C.HTML_ENTITIES:
        t = t.replace(ent, ch)
    t = _WS.sub(" ", t)
    t = _NL.sub("\n", t)
    return _TRIM.sub("", t)


def qa_batch(text: pd.Series, html: pd.Series) -> pd.DataFrame:
    n = len(text)
    te: list[str | None] = [
        t if t is not None else _extract(h)
        for t, h in zip(text.tolist(), html.tolist())
    ]

    n_chars = np.array(
        [len(t) if t is not None else -1 for t in te], dtype=np.int64
    )
    out = {
        "text_extracted": te,
        "scrubbed_text": [None] * n,
        "n_chars": [None] * n,
        "symbol_ratio": np.full(n, np.nan),
        "n_words": np.full(n, -1, dtype=np.int64),
        "mean_word_len": np.full(n, np.nan),
        "dup_line_fraction": np.full(n, np.nan),
        "stopword_fraction": np.full(n, np.nan),
        "lang": [None] * n,
        "confidence": np.full(n, np.nan),
        "avg_nll": np.full(n, np.nan),
    }

    # cheap rules (no_content / too_short / too_long / symbol / dup)
    # computed per doc; expensive model stages only for survivors —
    # the land/ocean cheap-first gating, inside one kernel.
    tok_strs: list[str] = []
    tok_rows: list[int] = []
    scrubbed = out["scrubbed_text"]
    # Scrub slow path, batched: all hint-positive docs are joined with
    # a NUL sentinel and each rule runs ONCE over the joined string —
    # the regex engine scans the same bytes either way, but ~4 calls
    # per batch replace 4 calls per doc (measured ~0.4s/20k docs of
    # pure call overhead). Safe because every scrub pattern is
    # NUL-opaque: character classes exclude \x00 and \b treats it as
    # a non-word char, exactly like the string edges it replaces. The
    # rare doc CONTAINING a NUL keeps the per-doc path (join/split
    # would mis-align), preserving byte-identical oracle semantics.
    slow_rows: list[int] = []
    for i, t in enumerate(te):
        if t is None or t == "":
            continue
        if not _maybe_scrub(t):
            scrubbed[i] = t
        elif "\x00" in t:
            scrubbed_t = t
            for pat, rep in _SCRUB:
                scrubbed_t = pat.sub(rep, scrubbed_t)
            scrubbed[i] = scrubbed_t
        else:
            slow_rows.append(i)
    if slow_rows:
        joined = "\x00".join(te[i] for i in slow_rows)
        for pat, rep in _SCRUB:
            joined = pat.sub(rep, joined)
        for i, s in zip(slow_rows, joined.split("\x00")):
            scrubbed[i] = s
    for i, t in enumerate(te):
        if t is None or t == "":
            continue
        nc = n_chars[i]
        out["n_chars"][i] = int(nc)
        if nc < C.MIN_CHARS or nc > C.MAX_CHARS:
            continue
        sym = len(_SYMBOL.findall(t)) / nc
        out["symbol_ratio"][i] = sym
        if sym > C.MAX_SYMBOL_RATIO:
            continue
        lines = t.split("\n")
        dup = 1.0 - len(set(lines)) / len(lines)
        out["dup_line_fraction"][i] = dup
        if dup > C.MAX_DUP_LINE_FRACTION:
            continue
        # one regex pass builds the canonical token string; identical
        # to " ".join(TOKEN_RE.findall(t.lower())) — the oracle's form
        tok_strs.append(_NON_AZ.sub(" ", t.lower()).strip(" "))
        tok_rows.append(i)

    if tok_rows:
        rows = np.asarray(tok_rows, dtype=np.int64)
        n_docs = len(rows)
        buf, lens, starts, w_len, gid, doc_of = _encode(tok_strs)
        n_words = np.bincount(doc_of, minlength=n_docs)
        sum_len = np.bincount(doc_of, weights=w_len, minlength=n_docs)
        n_stop = np.bincount(
            doc_of[np.isin(gid, _STOP_GIDS)], minlength=n_docs
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            mean_word_len = np.where(n_words > 0, sum_len / n_words, np.nan)
            stopword_fraction = np.where(
                n_words > 0, n_stop / n_words, np.nan
            )
        langs, conf = _langid(buf, lens, starts)
        avg_nll = _nll(gid, doc_of, n_docs, langs)

        out["n_words"][rows] = n_words
        ok = n_words >= C.MIN_WORDS
        out["mean_word_len"][rows[ok]] = mean_word_len[ok]
        wl_ok = ok & (
            (mean_word_len >= C.MIN_MEAN_WORD_LEN)
            & (mean_word_len <= C.MAX_MEAN_WORD_LEN)
        )
        for j in np.flatnonzero(wl_ok):
            out["lang"][rows[j]] = langs[j]
        out["confidence"][rows[wl_ok]] = conf[wl_ok]
        in_target = np.asarray(
            [l in C.TARGET_LANGS for l in langs], dtype=bool
        )
        sw_mask = wl_ok & in_target
        out["stopword_fraction"][rows[sw_mask]] = stopword_fraction[sw_mask]
        nll_mask = sw_mask & (stopword_fraction >= C.MIN_STOPWORD_FRACTION)
        out["avg_nll"][rows[nll_mask]] = avg_nll[nll_mask]

    nw = out["n_words"]
    out["n_words"] = [int(v) if v >= 0 else None for v in nw]
    return pd.DataFrame(out)


def _encode(tok_strs: list[str]) -> tuple[np.ndarray, ...]:
    """Token strings → (buf, lens, starts, w_len, gid, doc_of).

    Doc i is buf[starts[i] : starts[i] + lens[i]] = " toks " and two
    sentinel spaces close the buffer, so every doc owns exactly lens[i]
    trigram positions. Per word, in buffer order: its length, its
    global-vocabulary id (-1 outside the vocabulary) and its doc.
    Everything is numpy over the one byte buffer — numeric word codes,
    no per-word Python objects."""
    n_docs = len(tok_strs)
    lens = np.fromiter(
        (len(x) + 2 for x in tok_strs), dtype=np.int64, count=n_docs
    )
    buf = np.frombuffer(
        ("".join(" " + x + " " for x in tok_strs) + "  ").encode("ascii"),
        dtype=np.uint8,
    )
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])

    # word spans: maximal non-space runs (docs are space-delimited and
    # space-padded, so runs never cross documents). The buffer starts
    # and ends with spaces, so letter/space transitions strictly
    # ALTERNATE start,end,start,end… — ONE transition scan + even/odd
    # split replaces the two per-direction flatnonzero passes
    is_letter = buf != 32
    trans = np.flatnonzero(is_letter[1:] != is_letter[:-1]) + 1
    w_starts = trans[0::2]
    w_len = trans[1::2] - w_starts
    doc_of = np.searchsorted(starts, w_starts, side="right") - 1

    # numeric word codes (Horner over K zero-padded base-27 digits)
    code = np.zeros(len(w_starts), dtype=np.int64)
    for i in range(_WORD_K):
        idx = w_starts + i
        ch = np.where(
            i < w_len, _CHARMAP[buf[np.minimum(idx, len(buf) - 1)]], 0
        ).astype(np.int64)
        code = code * 27 + ch
    # words longer than K can't be vocabulary words
    code[w_len > _WORD_K] = -1
    pos = np.searchsorted(_VOCAB_CODES, code)
    pos_c = np.minimum(pos, len(_VOCAB_CODES) - 1)
    in_vocab = (_VOCAB_CODES[pos_c] == code) & (code >= 0)
    gid = np.where(in_vocab, _VOCAB_GIDS[pos_c], -1)
    return buf, lens, starts, w_len, gid, doc_of


def _langid(
    buf: np.ndarray, lens: np.ndarray, starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """M1: per-doc (lang, confidence) from trigram profile hits —
    first-max argmax in LANGS order, "und" with no trigrams or below
    MIN_LANGID_CONFIDENCE, NaN confidence with no trigrams.

    A trigram spanning two docs has a space in its middle and is in
    no profile (profiles pad single words), so per-doc sums need no
    per-position doc ids. Exact at any doc length: the reduceat
    segments are the doc starts ∪ every _LANE_SEG positions, the lanes
    are unpacked per segment and only then summed per doc."""
    n_docs = len(lens)
    # premultiplied charmaps (_CM2/_CM1): three gathers + two adds
    codes3 = _CM2[buf[:-2]] + _CM1[buf[1:-1]] + _CHARMAP[buf[2:]]
    seg = np.union1d(starts, np.arange(0, len(codes3), _LANE_SEG))
    first = np.searchsorted(seg, starts)  # each doc's first segment
    counts = np.empty((len(C.LANGS), n_docs), dtype=np.int64)
    for g, pack in enumerate(_LUT_PACKS):
        sums = np.add.reduceat(pack[codes3], seg)
        for lane in range(min(4, len(C.LANGS) - 4 * g)):
            counts[4 * g + lane] = np.add.reduceat(
                (sums >> (16 * lane)) & 0xFFFF, first
            )
    n_grams = lens - 2
    counts[:, n_grams == 0] = 0
    best_i = counts.argmax(axis=0)
    best_n = counts[best_i, np.arange(n_docs)]
    with np.errstate(divide="ignore", invalid="ignore"):
        conf = np.where(n_grams > 0, best_n / n_grams, np.nan)
    langs = np.asarray(C.LANGS, dtype=object)[best_i]
    langs[(n_grams == 0) | (conf < C.MIN_LANGID_CONFIDENCE)] = "und"
    return langs, conf


def _nll(
    gid: np.ndarray, doc_of: np.ndarray, n_docs: int, langs: np.ndarray
) -> np.ndarray:
    """M2: per-doc mean word-bigram NLL under the doc's language
    (langs: object array; a value outside LANGS ⇒ NaN, as is a doc
    with under two words), from integer seen/unseen pair counts so the
    oracles reproduce it bit-exactly."""
    avg_nll = np.full(n_docs, np.nan)
    if len(gid) < 2:
        return avg_nll
    a, b = gid[:-1], gid[1:]
    same = doc_of[:-1] == doc_of[1:]
    pair_codes = np.where((a >= 0) & (b >= 0), a * _G + b, -1)
    pair_doc = doc_of[1:]
    n_pairs = np.bincount(pair_doc[same], minlength=n_docs)
    for l in C.LANGS:
        mask_docs = (langs == l) & (n_pairs > 0)
        if not mask_docs.any():
            continue
        seen = np.isin(pair_codes, _EDGES[l]) & same
        n_seen = np.bincount(pair_doc[seen], minlength=n_docs)
        with np.errstate(divide="ignore", invalid="ignore"):
            vals = -(
                n_seen * C.SEEN_LOGPROB
                + (n_pairs - n_seen) * C.UNSEEN_LOGPROB
            ) / n_pairs
        avg_nll[mask_docs] = vals[mask_docs]
    return avg_nll


@F.pandas_udf(RESULT_TYPE)
def qa_kernel_udf(text: pd.Series, html: pd.Series) -> pd.DataFrame:
    return qa_batch(text, html)


# The registry's standalone model rows: the same _encode/_langid/_nll
# over a column of space-joined [a-z]+ token strings (null ⇒ no tokens)
LANGID_TYPE = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)


@F.pandas_udf(LANGID_TYPE)
def langid_udf(token_str: pd.Series) -> pd.DataFrame:
    buf, lens, starts, *_ = _encode(token_str.fillna("").tolist())
    langs, conf = _langid(buf, lens, starts)
    return pd.DataFrame({"lang": langs, "confidence": conf})


@F.pandas_udf(T.DoubleType())
def perplexity_udf(token_str: pd.Series, lang: pd.Series) -> pd.Series:
    *_, gid, doc_of = _encode(token_str.fillna("").tolist())
    langs = lang.to_numpy(dtype=object)
    return pd.Series(_nll(gid, doc_of, len(langs), langs))


def _check_math():
    assert math.isfinite(C.SEEN_LOGPROB)


_check_math()
