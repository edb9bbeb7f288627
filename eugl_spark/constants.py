"""Shared constants for the quality-filter engine AND the pandas oracle.

Single source of truth for thresholds, regexes, word lists and model
data so the Spark engine and the single-node oracle can never drift —
the reference manually keeps two metric-dict shapes in sync
(/root/reference/eugl/gqa/geometric_utils.py:434-450 vs
/root/reference/eugl/gqa/tasks.py:536-548); we avoid that by
construction.

Every value here is deterministic and self-contained (no external
models, no network). The language-ID "model" is a character-trigram
profile per language; the perplexity "model" is a word-bigram
log-probability table over a fixed successor graph. Both are derived
from the word lists below by pure functions at import time.
"""

from __future__ import annotations

import math
import os
import re

# ---------------------------------------------------------------------------
# Languages & word lists (synthetic corpora are generated from these)
# ---------------------------------------------------------------------------

# Order matters: deterministic tie-break for language-ID argmax.
LANGS: tuple[str, ...] = ("en", "de", "fr", "es", "it")

# Target languages the filter keeps (north_rule: language-ID stage).
TARGET_LANGS: frozenset[str] = frozenset({"en"})

# English stop words (subset of the classic C4/Gopher stop-word lists).
EN_STOPWORDS: tuple[str, ...] = (
    "the", "a", "of", "to", "and", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be",
)

WORDS: dict[str, tuple[str, ...]] = {
    # 48 words each; EN list embeds the 16 stop words (~1/3 of tokens)
    # so clean English text naturally passes the stop-word-fraction rule.
    "en": EN_STOPWORDS + (
        "time", "people", "water", "world", "house", "school", "family",
        "night", "morning", "question", "government", "company", "system",
        "program", "problem", "market", "history", "money", "story",
        "month", "river", "mountain", "window", "garden", "music",
        "letter", "paper", "science", "health", "street", "children",
        "teacher",
    ),
    "de": (
        "der", "die", "das", "und", "nicht", "mit", "sich", "auf", "ein",
        "auch", "wasser", "welt", "haus", "schule", "familie", "nacht",
        "morgen", "frage", "regierung", "firma", "system", "programm",
        "problem", "markt", "geschichte", "geld", "monat", "fluss", "berg",
        "fenster", "garten", "musik", "brief", "papier", "wissenschaft",
        "gesundheit", "strasse", "kinder", "lehrer", "zeit", "leute",
        "abend", "jahr", "woche", "stadt", "land", "buch", "tisch",
    ),
    "fr": (
        "le", "la", "les", "des", "une", "est", "pas", "pour", "dans",
        "avec", "eau", "monde", "maison", "ecole", "famille", "nuit",
        "matin", "question", "gouvernement", "entreprise", "systeme",
        "programme", "probleme", "marche", "histoire", "argent", "mois",
        "riviere", "montagne", "fenetre", "jardin", "musique", "lettre",
        "papier", "science", "sante", "rue", "enfants", "professeur",
        "temps", "gens", "soir", "annee", "semaine", "ville", "pays",
        "livre", "table",
    ),
    "es": (
        "el", "los", "las", "uno", "una", "que", "por", "para", "con",
        "como", "agua", "mundo", "casa", "escuela", "familia", "noche",
        "manana", "pregunta", "gobierno", "empresa", "sistema", "programa",
        "problema", "mercado", "historia", "dinero", "mes", "rio",
        "montana", "ventana", "jardin", "musica", "carta", "papel",
        "ciencia", "salud", "calle", "ninos", "maestro", "tiempo",
        "gente", "tarde", "ano", "semana", "ciudad", "pais", "libro",
        "mesa",
    ),
    "it": (
        "il", "lo", "gli", "uno", "una", "che", "per", "non", "con",
        "come", "acqua", "mondo", "casa", "scuola", "famiglia", "notte",
        "mattina", "domanda", "governo", "azienda", "sistema", "programma",
        "problema", "mercato", "storia", "denaro", "mese", "fiume",
        "montagna", "finestra", "giardino", "musica", "lettera", "carta",
        "scienza", "salute", "strada", "bambini", "maestro", "tempo",
        "gente", "sera", "anno", "settimana", "citta", "paese", "libro",
        "tavolo",
    ),
}

# Successor offsets defining the word-bigram Markov graph per language:
# succ(w_i) = { w_(i+k) mod N : k in SUCC_OFFSETS }.  Clean text is a walk
# on this graph; the LM assigns log(1/4) to graph edges and
# UNSEEN_LOGPROB to everything else, so shuffled text scores ~UNSEEN.
SUCC_OFFSETS: tuple[int, ...] = (1, 3, 7, 13)
SEEN_LOGPROB: float = -math.log(len(SUCC_OFFSETS))  # -1.3863
UNSEEN_LOGPROB: float = -10.0

# ---------------------------------------------------------------------------
# Stage thresholds (the analog of eugl's QA thresholds,
# /root/reference/configs/example.cfg:22-24 and eugl/s2cl.py:27-29)
# ---------------------------------------------------------------------------

MIN_CHARS: int = 80          # too_short below this (on extracted text)
MAX_CHARS: int = 8000        # too_long above this
MAX_AVG_NLL: float = 4.0     # perplexity gate: mean word-bigram NLL
MIN_LANGID_CONFIDENCE: float = 0.30   # trigram match fraction → else "und"
MAX_SYMBOL_RATIO: float = 0.10        # non-alnum-non-space chars / chars
MIN_MEAN_WORD_LEN: float = 2.0
MAX_MEAN_WORD_LEN: float = 12.0
MAX_DUP_LINE_FRACTION: float = 0.30   # 1 - distinct_lines/lines
MIN_STOPWORD_FRACTION: float = 0.06   # C4-style stop-word gate (en)
MIN_WORDS: int = 10

# Gopher-style repetition-profile thresholds (Rae et al. 2021, table
# A1 values for the analogous rules): characters inside repeated
# lines / the single most frequent word-2-gram / repeated word-3-gram
# occurrences. Used by the qf_repetition_profile query only — the
# main verdict keeps the coarser MAX_DUP_LINE_FRACTION gate above.
MAX_DUP_LINE_CHAR_FRACTION: float = 0.20
MAX_TOP_BIGRAM_CHAR_FRACTION: float = 0.20
MAX_DUP_TRIGRAM_FRACTION: float = 0.18

# DSIR-style importance resampling (Xie et al. 2023, hashed-unigram
# variant): bucket count fixes the feature space so the log-ratio LUT
# is a constant-size broadcast regardless of corpus size; alpha is
# the add-alpha smoothing for unseen buckets.
DSIR_BUCKETS: int = 1024
DSIR_ALPHA: float = 0.5
DSIR_TARGET_LANG: str = "en"
DSIR_TOP_K: int = 25

# Bloom-filter decontamination (scale path of the exact 5-gram
# semi-join): the bit-position set is bounded by BLOOM_BITS regardless
# of eval-set size, so the probe side is always broadcastable; 2
# salted hash positions per gram. False positives over-remove
# (decontamination-safe); false negatives are impossible.
BLOOM_BITS: int = 1 << 20
BLOOM_SALTS: tuple[str, ...] = ("bloom1", "bloom2")

# Drop-reason precedence = execution gating order (cheap → expensive;
# mirrors the reference's land/ocean cheap-first branch,
# /root/reference/eugl/gqa/tasks.py:152-163).
DROP_PRECEDENCE: tuple[str, ...] = (
    "no_content",
    "too_short",
    "too_long",
    "symbol_ratio",
    "repetition",
    "too_few_words",
    "word_length",
    "langid",
    "stopword_fraction",
    "perplexity",
)

# ---------------------------------------------------------------------------
# Scrub stage (M8): ordered, deterministic regex chain.
# Patterns are written in the common subset of Java-regex / Python-re /
# RE2 (no backrefs, no lookaround) so Catalyst `regexp_replace`, the
# pandas oracle and the DuckDB oracle produce byte-identical output.
#
# RE_FLAGS: the Python side MUST compile these with re.ASCII. Java
# regex and RE2 give \d/\s/\w/\b their ASCII meaning by default, but
# Python re is Unicode: without the flag, \d matches Arabic-Indic
# digits and \s matches \xa0 ONLY on the kernel/oracle side, so a
# Unicode-digit IP or an nbsp-heavy page gets different scrub/symbol
# verdicts in the relational stack vs the kernel stack. One flag pins
# all four engines to the same (ASCII) semantics.
# ---------------------------------------------------------------------------

RE_FLAGS = re.ASCII

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+?\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]\d{3,4}\b"

# Deliberately fake placeholder terms (synthetic corpus only).
TOXIC_TERMS: tuple[str, ...] = ("grobnak", "zilgur", "vexmor")
TOXIC_RE = r"\b(?:" + "|".join(TOXIC_TERMS) + r")\b"

# Applied strictly in this order (email before phone: emails can embed
# digit runs; IP before phone: dotted quads would half-match phones).
SCRUB_RULES: tuple[tuple[str, str], ...] = (
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_IP_RE, "<IP>"),
    (PII_PHONE_RE, "<PHONE>"),
    (TOXIC_RE, "<BAD>"),
)

# ---------------------------------------------------------------------------
# HTML → text extraction (S-analog of eugl's band normalization M3):
# ordered regex pipeline, same common-regex-subset constraint.
# The per-row invariant (BASELINE.json input_hint): byte-identical
# extracted text per url between engine and oracle.
# ---------------------------------------------------------------------------

HTML_STRIP_RULES: tuple[tuple[str, str], ...] = (
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"(?s)<[^>]+>", " "),
)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so "&amp;lt;" doesn't double-decode
)
WHITESPACE_COLLAPSE_RE = r"[ \t\r\f]+"   # keep \n: line structure feeds
NEWLINE_COLLAPSE_RE = r" ?\n[ \n]*"      # the repetition rule
TRIM_RE = r"^\s+|\s+$"

# Tokenizer shared by langid / perplexity / stop-word stages:
# lowercase alphabetic runs.
TOKEN_RE = r"[a-z]+"
SYMBOL_RE = r"[^A-Za-z0-9\s]"            # symbol-ratio numerator

# Character-trigram profile parameters (langid model).
TRIGRAM_PAD = " "

# ---------------------------------------------------------------------------
# Pipeline / partitioning policy (north_rule skew clause)
# ---------------------------------------------------------------------------

N_BUCKETS: int = 64          # salted host-bucket count at test scale;
                             # production: O(10k) for 10^12 docs.
# Salts per bucket are derived, not set: apply_pipeline hashes rows on
# (bucket, salt) into P partitions with ceil(P / 4) salts. A host with
# share h of the rows then has salts of h / ceil(P/4) ≤ 1/P (an average
# task) while h ≤ 1/4, and a bucket is written by ≤ ceil(P/4) tasks.
# P = 8 (2 salts), 10k crawl pages: 105 files a pass (fixed 64 salts:
# 472) and -34% CPU per doc; largest task 0.21 of a 1.2k-row Zipf crawl.
# O(n²) baseline guard: the brute-force ANN / all-pairs Jaccard ops are
# correctness oracles, not the scale path. Above this many input rows
# they refuse and point at their sub-quadratic twin (LSH / IVF) rather
# than silently launching an n² shuffle. 0 disables the guard;
# overridable per-process via env EUGL_QUADRATIC_ROW_LIMIT.
QUADRATIC_ROW_LIMIT: int = int(
    os.environ.get("EUGL_QUADRATIC_ROW_LIMIT", "200000")
)
ENGINE_VERSION: str = "0.1.0"
STAGE_VERSIONS: dict[str, str] = {
    "extract": "1", "langid": "1", "perplexity": "1",
    "heuristics": "1", "scrub": "1",
}


# ---------------------------------------------------------------------------
# Derived model data (pure functions of the word lists — deterministic)
# ---------------------------------------------------------------------------

def build_trigram_profiles() -> dict[str, frozenset[str]]:
    """Char-trigram profile per language from its word list.

    Each word contributes the trigrams of " word " (space-padded), the
    fastText-style character n-gram idea reduced to a deterministic
    set-membership model.
    """
    profiles: dict[str, frozenset[str]] = {}
    for lang in LANGS:
        grams: set[str] = set()
        for w in WORDS[lang]:
            padded = TRIGRAM_PAD + w + TRIGRAM_PAD
            for i in range(len(padded) - 2):
                grams.add(padded[i : i + 3])
        profiles[lang] = frozenset(grams)
    return profiles


def build_bigram_tables() -> dict[str, frozenset[tuple[str, str]]]:
    """Word-bigram edge set per language (the LM's 'seen' pairs)."""
    tables: dict[str, frozenset[tuple[str, str]]] = {}
    for lang in LANGS:
        vocab = WORDS[lang]
        n = len(vocab)
        edges = {
            (vocab[i], vocab[(i + k) % n])
            for i in range(n)
            for k in SUCC_OFFSETS
        }
        tables[lang] = frozenset(edges)
    return tables


def successors(lang: str, word: str) -> tuple[str, ...]:
    """Graph successors of ``word`` in ``lang`` (corpus-generator use).

    >>> successors("en", "the")[0] == WORDS["en"][1]
    True
    >>> len(successors("en", "water")) == len(SUCC_OFFSETS)
    True
    """
    vocab = WORDS[lang]
    i = vocab.index(word)
    n = len(vocab)
    return tuple(vocab[(i + k) % n] for k in SUCC_OFFSETS)


TRIGRAM_PROFILES: dict[str, frozenset[str]] = build_trigram_profiles()
BIGRAM_TABLES: dict[str, frozenset[tuple[str, str]]] = build_bigram_tables()
