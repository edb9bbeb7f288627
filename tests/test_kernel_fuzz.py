"""Property fuzz for the round-2 Arrow kernels.

Same strategy as tests/test_property_fuzz.py for the QA kernel: each
vectorized batch kernel must equal a deliberately-naive per-document
reference (plain hashlib + Python min/majority, plain sequential
folds), and batching must be invisible (kernel(batch) == concat of
kernel(single-doc batches)) — the Arrow batch size is an execution
detail, never a semantic one.
"""

from __future__ import annotations

import random
from hashlib import md5

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from eugl_spark import constants as C
from eugl_spark import oracle
from eugl_spark.models.doc_kernel import _encode, _langid, _nll
from eugl_spark.models.embedding_kernels import (
    _IVF_W,
    _LSH_W,
    cosine_batch,
    ivf_cell_batch,
    ivf_probes_batch,
    lsh_bucket_batch,
)
from eugl_spark.models.signatures import (
    MH_AB,
    MH_P,
    SIMHASH_BITS,
    minhash_batch,
    simhash_batch,
)

_word = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
_doc = st.lists(_word, min_size=1, max_size=12).map(
    lambda ws: np.asarray(ws, dtype=object)
)
_batch = st.lists(_doc, min_size=1, max_size=8)


def _naive_minhash(doc) -> tuple:
    hs = [
        (int.from_bytes(md5(s.encode()).digest()[:8], "big") >> 4) % MH_P
        for s in doc
    ]
    return tuple(min((a * h + b) % MH_P for h in hs) for a, b in MH_AB)


def _naive_simhash(doc) -> int:
    hs = [int.from_bytes(md5(w.encode()).digest()[:6], "big") for w in doc]
    out = 0
    for b in range(SIMHASH_BITS):
        votes = sum(1 if (h >> b) & 1 else -1 for h in hs)
        if votes > 0:
            out |= 1 << b
    return out


@settings(max_examples=50, deadline=None)
@given(_batch)
def test_minhash_matches_naive_and_batching(docs):
    got = minhash_batch(pd.Series(docs))
    for i, doc in enumerate(docs):
        assert tuple(got.iloc[i]) == _naive_minhash(doc)
    solo = pd.concat(
        [minhash_batch(pd.Series([d])) for d in docs], ignore_index=True
    )
    pd.testing.assert_frame_equal(got, solo)


@settings(max_examples=50, deadline=None)
@given(_batch)
def test_simhash_matches_naive_and_batching(docs):
    got = simhash_batch(pd.Series(docs))
    for i, doc in enumerate(docs):
        assert int(got.iloc[i]) == _naive_simhash(doc)
    solo = pd.concat(
        [simhash_batch(pd.Series([d])) for d in docs], ignore_index=True
    )
    pd.testing.assert_series_equal(got, solo)


_vec = st.lists(
    st.floats(
        min_value=-8, max_value=8, width=32, allow_nan=False, allow_infinity=False
    ),
    min_size=64,
    max_size=64,
).map(lambda xs: np.asarray(xs, dtype=np.float32))
_vecs = st.lists(_vec, min_size=1, max_size=6)


def _fold_dot(a64, w) -> float:
    acc = 0.0
    for i in range(64):
        acc += float(a64[i]) * float(w[i])
    return acc


@settings(max_examples=40, deadline=None)
@given(_vecs)
def test_lsh_bucket_matches_sequential_fold(vs):
    got = lsh_bucket_batch(pd.Series(vs))
    for i, v in enumerate(vs):
        v64 = v.astype(np.float64)
        want = sum(
            (1 << j) if _fold_dot(v64, _LSH_W[:, j]) > 0 else 0
            for j in range(_LSH_W.shape[1])
        )
        assert int(got.iloc[i]) == want


@settings(max_examples=40, deadline=None)
@given(_vecs)
def test_ivf_cell_and_probes_match_sequential_fold(vs):
    cells = ivf_cell_batch(pd.Series(vs))
    probes = ivf_probes_batch(pd.Series(vs), 2)
    for i, v in enumerate(vs):
        v64 = v.astype(np.float64)
        dots = [_fold_dot(v64, _IVF_W[:, c]) for c in range(_IVF_W.shape[1])]
        order = sorted(range(len(dots)), key=lambda c: (-dots[c], c))
        assert int(cells.iloc[i]) == order[0]
        assert list(probes.iloc[i]) == order[:2]


@settings(max_examples=40, deadline=None)
@given(_vecs, _vecs)
def test_cosine_matches_sequential_fold(avs, bvs):
    n = min(len(avs), len(bvs))
    a, b = avs[:n], bvs[:n]
    got = cosine_batch(pd.Series(a), pd.Series(b))
    for i in range(n):
        a64, b64 = a[i].astype(np.float64), b[i].astype(np.float64)
        dot = _fold_dot(a64, b64)
        na = np.sqrt(_fold_dot(a64, a64))
        nb = np.sqrt(_fold_dot(b64, b64))
        want = dot / (na * nb)
        g = float(got.iloc[i])
        # bit-exact when defined (same fold order); NaN==NaN for the
        # zero-vector corner
        assert (np.isnan(g) and np.isnan(want)) or g == want


def _same(a: float, b: float) -> bool:
    return (np.isnan(a) and np.isnan(b)) or a == b


def test_model_functions_match_oracle_at_any_length():
    """_encode/_langid/_nll (the one langid and perplexity
    implementation) equal oracle.detect_lang / oracle.avg_nll doc by
    doc: seeded random token strings, null and empty strings, and a
    doc with over 65,535 trigram hits for one language — more than a
    16-bit counting lane holds, so it fails if the lane sums ever span
    more than a segment."""
    rng = random.Random(11)
    vocab = sorted({w for l in C.LANGS for w in C.WORDS[l]})
    docs = [
        " ".join(
            rng.choice(vocab)
            if rng.random() < 0.8
            else "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(1, 16))
            )
            for _ in range(rng.choice([1, 2, 5, 40, 300]))
        )
        for _ in range(400)
    ]
    long_de = ("der die das und ist nicht " * 20000).strip()
    docs += [None, "", long_de]
    rng.shuffle(docs)
    toks = [(d or "").split() for d in docs]
    buf, lens, starts, _, gid, doc_of = _encode(
        pd.Series(docs, dtype=object).fillna("").tolist()
    )
    langs, conf = _langid(buf, lens, starts)
    for i, t in enumerate(toks):
        want_lang, want_conf = oracle.detect_lang(t)
        assert (langs[i], _same(conf[i], want_conf)) == (want_lang, True), i
    assert langs[docs.index(long_de)] == "de"
    for lang in (*C.LANGS, "und", None):
        nll = _nll(gid, doc_of, len(docs), np.full(len(docs), lang, object))
        for i, t in enumerate(toks):
            assert _same(nll[i], oracle.avg_nll(t, lang)), (lang, i)
