"""MinHash / SimHash signature kernels (one Arrow boundary, one row/doc).

Round 1 built dedup signatures relationally: explode every shingle
(resp. a 48-way bit crossJoin for SimHash) and shuffle |shingles| rows
into a per-doc groupBy. Correct — but the signature build alone was
over half the whole benchmark. These kernels follow the same design as
models/doc_kernel.py (the consolidated-Arrow-kernel pattern the
reference expresses per granule, /root/reference/eugl/fmask.py:592-692):
each document's token/shingle array crosses into Python once, hashing
is hashlib-md5 (bit-identical to Catalyst/DuckDB ``md5``), and the
per-doc min / per-bit majority reductions are numpy ``reduceat`` over
the batch's flattened arrays. Output is ONE row per document — no
explode, no signature shuffle. Band construction and the candidate
band-join stay native Catalyst.

Determinism contract (must keep hash-parity with the DuckDB oracles in
plans/queries.py):
  * minhash row hash  == CAST(concat('0x', substring(md5(s),1,15)) AS
    BIGINT) % P  — the first 15 hex chars are the top 60 bits of the
    digest, so ``int.from_bytes(digest[:8]) >> 4``;
  * simhash token hash == first 12 hex chars == top 48 bits ==
    ``int.from_bytes(digest[:6])``;
  * integer arithmetic throughout (no float order sensitivity).

Caller contract: filter out empty arrays first (``F.size(col) > 0``) —
relationally, a doc with no shingles/tokens vanishes at the explode,
and the kernels mirror that by never seeing such rows.
"""

from __future__ import annotations

from hashlib import md5

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

MH_P = 2147483647
MH_AB: tuple[tuple[int, int], ...] = (
    (1103, 12345),
    (2053, 67891),
    (4099, 13579),
    (8191, 24680),
)
SIMHASH_BITS = 48

def _flatten(arrays: list) -> tuple[np.ndarray, np.ndarray]:
    """(counts, segment starts) for a batch of per-doc string arrays."""
    counts = np.fromiter(
        (len(x) for x in arrays), dtype=np.int64, count=len(arrays)
    )
    starts = np.zeros(len(arrays), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return counts, starts


def minhash_batch(shingles: pd.Series) -> pd.DataFrame:
    """k min-hashes per doc over its (distinct) shingle array."""
    lists = shingles.tolist()
    n = len(lists)
    counts, starts = _flatten(lists)
    hm = (
        np.fromiter(
            (
                int.from_bytes(md5(s.encode("utf-8")).digest()[:8], "big") >> 4
                for x in lists
                for s in x
            ),
            dtype=np.int64,
            count=int(counts.sum()),
        )
        % MH_P
    )
    nonempty = counts > 0
    out: dict[str, np.ndarray] = {}
    for i, (a, b) in enumerate(MH_AB):
        v = (a * hm + b) % MH_P  # ≤ 8191·2^31 ≪ 2^63: no overflow
        mins = np.full(n, -1, dtype=np.int64)
        if hm.size:
            # reduceat over only the nonempty starts: zero-length docs
            # contribute no elements, so each segment is exactly one doc
            mins[nonempty] = np.minimum.reduceat(v, starts[nonempty])
        out[f"mh{i}"] = mins
    df = pd.DataFrame(out)
    if not nonempty.all():  # defensive: caller should have filtered
        df = df.astype(object)
        df[~nonempty] = None
    return df


def simhash_batch(tokens: pd.Series) -> pd.Series:
    """Per-bit majority over token hashes → SIMHASH_BITS-bit signature."""
    lists = tokens.tolist()
    n = len(lists)
    counts, starts = _flatten(lists)
    h = np.fromiter(
        (
            int.from_bytes(md5(w.encode("utf-8")).digest()[:6], "big")
            for x in lists
            for w in x
        ),
        dtype=np.int64,
        count=int(counts.sum()),
    )
    nonempty = counts > 0
    sig = np.zeros(n, dtype=np.int64)
    if h.size:
        ne_starts = starts[nonempty]
        ne_counts = counts[nonempty]
        acc = np.zeros(len(ne_starts), dtype=np.int64)
        for b in range(SIMHASH_BITS):
            set_b = np.add.reduceat((h >> b) & 1, ne_starts)
            # majority vote: sum(±1) > 0  ⇔  2·set > count
            acc |= np.where(2 * set_b > ne_counts, np.int64(1) << b, 0)
        sig[nonempty] = acc
    out = pd.Series(sig)
    if not nonempty.all():
        out = out.astype(object)
        out[~nonempty] = None
    return out


def with_minhash_sig(df, sh_col: str = "sh"):
    """``df`` + mh0..mh{k-1} columns, computed NATIVELY in the JVM —
    no Python boundary at all (guide §4.1: prefer built-ins; measured
    ~2.4× the Arrow kernel on the sf0.1 shingle frame, ArrowEvalPython
    node gone from the plan). Same hash recipe, bit for bit:
    md5-hex-prefix-15 → int64 (% P), then per-permutation (a·h+b) % P
    and a per-doc array_min. The per-shingle hash array is staged as a
    real column so it evaluates once, not once per permutation
    (CollapseProject declines to inline multi-referenced non-cheap
    expressions — the boilerplate-staging lesson).

    Caller contract unchanged from the kernel: filter empty shingle
    arrays first (array_min of an empty array is null, as the kernel's
    defensive branch was)."""
    hm = F.transform(
        sh_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % MH_P,
    )
    def perm(a: int, b: int):
        # closure factory, not default-args: PySpark derives the HOF
        # lambda's arity from the Python signature
        return lambda h: (F.lit(a) * h + F.lit(b)) % MH_P

    out = df.withColumn("_hm", hm)
    for i, (a, b) in enumerate(MH_AB):
        out = out.withColumn(
            f"mh{i}", F.array_min(F.transform("_hm", perm(a, b)))
        )
    return out.drop("_hm")


@F.pandas_udf(T.LongType())
def simhash_udf(tokens: pd.Series) -> pd.Series:
    return simhash_batch(tokens)
