"""Seeded benchmark inputs and the references the output checks use.

Everything here is a pure function of (seed, size, generator version)
and is built once, outside every timed section, into a cache directory
inside the checkout. The references are computed apart from the
program under test: the pandas oracle (``eugl_spark.oracle``) labels
every page, DuckDB runs the registry's oracle SQL over the documents,
and the WARC shard writer records what each source record should
become.

Rebuild every input and reference for one seed:

    python3 perfbench/inputs.py --seed 7
"""

from __future__ import annotations

import argparse
import gzip
import hashlib
import os
import re
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")

# input sizes (README "Inputs" gives the reasoning)
N_PAGES = 10000  # crawl_write
N_SHARDS = 8  # half plain .warc, half per-record-gzip .warc.gz
N_DOCS_BASE = 2000  # corpus_build: seeded base table ...
DOCS_MULT = 2  # ... upscaled by salted replicas

# crawl_write's kept fault: zero-length conversion records in plain
# shards lose their header block in the native splitter and are dropped
# by the parse. A fixed set of them, independent of the seed, rides in
# the plain shards so the failed share is the same on every seed.
N_FIXED_EMPTY = 24
N_BUCKETS = 64  # eugl_spark.constants.N_BUCKETS, restated so a change shows

# the version of this generator: a cached input never outlives an edit
_GEN_VERSION = hashlib.md5(open(__file__, "rb").read()).hexdigest()[:8]


# ---------------------------------------------------------------------------
# Spark's xxhash64 (seed 42), so the bucket of each url is known without Spark
# ---------------------------------------------------------------------------

_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """Reference XXH64 as a signed 64-bit integer (Spark's ``xxhash64``)."""
    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def bucket_of(url: str) -> int | None:
    """The pipeline's output bucket: pmod(xxhash64(host), 64)."""
    from eugl_spark.functions.hosts import HOST_RE

    m = re.match(HOST_RE, url)
    if not m or not m.group(1):
        return None
    return xxh64(m.group(1).encode("utf-8")) % N_BUCKETS


# ---------------------------------------------------------------------------
# cache layout
# ---------------------------------------------------------------------------


def _key(seed: int, tag: str, n: int) -> str:
    from eugl_spark.corpus import _SRC_VERSION

    return os.path.join(CACHE, f"{tag}_s{seed}_n{n}_{_SRC_VERSION}_{_GEN_VERSION}")


def pages_dir(seed: int) -> str:
    return _key(seed, "pages", N_PAGES)


def docs_dir(seed: int) -> str:
    return _key(seed, "docs", N_DOCS_BASE * DOCS_MULT)


def _build_atomically(final: str, build) -> str:
    if os.path.exists(os.path.join(final, "DONE")):
        return final
    tmp = f"{final}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


# ---------------------------------------------------------------------------
# pages + WARC shards (crawl_write)
# ---------------------------------------------------------------------------


def _warc_record(rtype: str, url: str, ts: pd.Timestamp, payload: bytes, ctype: str) -> bytes:
    head = (
        f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
        f"Content-Type: {ctype}\r\nContent-Length: {len(payload)}\r\n\r\n"
    ).encode("ascii")
    return head + payload + b"\r\n\r\n"


def _page_record(url: str, ts, html: bytes | None, text: str | None) -> bytes:
    """One source record per page: a page with text becomes a WET-style
    conversion record, any other page a response record whose payload is
    a full HTTP response around the html (empty for a page with none)."""
    if text is not None:
        return _warc_record("conversion", url, ts, text.encode("utf-8"), "text/plain")
    entity = html or b""
    env = (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"
        f"Content-Length: {len(entity)}\r\n\r\n"
    ).encode("ascii")
    return _warc_record("response", url, ts, env + entity, "application/http; msgtype=response")


def fixed_empty_urls() -> list[str]:
    return [f"https://www.empty-record.example/e/{k}" for k in range(N_FIXED_EMPTY)]


def _build_pages(seed: int, out: str) -> None:
    from eugl_spark.corpus import write_pages_parquet
    from eugl_spark.oracle import label_frame

    path = write_pages_parquet(os.path.join(out, "pages.parquet"), N_PAGES, seed=seed)
    pages = pq.read_table(path).to_pandas()

    # reference labels: the pandas oracle over every source record as
    # the parse should hand it over (a page with neither text nor html
    # becomes a response record with an empty body; a fixed empty record
    # is a conversion record with an empty text)
    urls = fixed_empty_urls()
    records = pd.concat(
        [
            pages.assign(html=[h if t is not None else (h or b"") for t, h in zip(pages["text"], pages["html"])]),
            pd.DataFrame({"url": urls, "html": None, "text": "", "_case": "fixed_empty"}),
        ],
        ignore_index=True,
    )
    ref = label_frame(records)[["url", "keep", "drop_reason", "text_extracted", "scrubbed_text"]]
    ref["bucket"] = [bucket_of(u) for u in ref["url"]]
    ref["case"] = records["_case"].values
    pq.write_table(pa.Table.from_pandas(ref, preserve_index=False), os.path.join(out, "labels.parquet"))

    # WARC shards: records dealt round-robin over the shards; a seeded
    # zero-length conversion record goes to a gzip shard (which frames
    # it by Content-Length), the fixed ones to the plain shards
    shard_recs: list[list[bytes]] = [[] for _ in range(N_SHARDS)]
    plain = [s for s in range(N_SHARDS) if s % 2 == 0]
    gz = [s for s in range(N_SHARDS) if s % 2 == 1]
    n_gz = 0
    for i, r in enumerate(pages.itertuples(index=False)):
        rec = _page_record(r.url, r.warc_ts, r.html, r.text)
        if r.text == "":
            shard_recs[gz[n_gz % len(gz)]].append(rec)
            n_gz += 1
        else:
            shard_recs[i % N_SHARDS].append(rec)
    for k, url in enumerate(urls):
        shard_recs[plain[k % len(plain)]].append(empty_record(url))
    wdir = os.path.join(out, "warc")
    os.makedirs(wdir)
    for s, recs in enumerate(shard_recs):
        write_shard(os.path.join(wdir, f"shard-{s:02d}.warc" + (".gz" if s in gz else "")), recs)


def empty_record(url: str) -> bytes:
    """A zero-length conversion record, as the fixed empty records are."""
    return _warc_record("conversion", url, pd.Timestamp("2024-06-01T00:00:00"), b"", "text/plain")


def write_shard(path: str, recs: list[bytes]) -> None:
    """A plain shard, or (``.gz``) one gzip member per record."""
    with open(path, "wb") as f:
        if path.endswith(".gz"):
            for rec in recs:
                f.write(gzip.compress(rec, mtime=0))
        else:
            f.write(b"".join(recs))



# ---------------------------------------------------------------------------
# documents (corpus_build)
# ---------------------------------------------------------------------------

# the shape of the sf0.1 `documents` test table: 20 equal sources, words
# drawn from a 30-word vocabulary (two of them English stop words),
# 10-100 words per doc, 5% near-duplicates marked by a trailing "dup"
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
_N_SOURCES = 20
_DUP_RATE = 0.05


def generate_documents(seed: int, n_base: int, mult: int) -> pd.DataFrame:
    """Seeded base table, upscaled by ``mult`` salted replicas: replica
    k > 0 has a seeded salt word spliced in after every fifth token, so
    replicas are distinct documents rather than one giant dup family."""
    rng = np.random.RandomState(seed)
    langs = [l for l, _ in _LANGS]
    lw = np.array([w for _, w in _LANGS])
    texts: list[str] = []
    for i in range(n_base):
        if i > 20 and rng.rand() < _DUP_RATE:
            texts.append(texts[rng.randint(i)] + " dup")
        else:
            n = rng.randint(10, 101)
            texts.append(" ".join(_VOCAB[j] for j in rng.randint(len(_VOCAB), size=n)))
    base = pd.DataFrame(
        {
            "doc_id": np.arange(n_base, dtype=np.int64),
            "text": texts,
            "lang": [langs[j] for j in rng.choice(len(langs), size=n_base, p=lw / lw.sum())],
            "source": [f"src{i % _N_SOURCES}" for i in range(n_base)],
        }
    )
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))
    parts = [base]
    for k in range(1, mult):
        salt = "".join(rng.choice(letters, size=6))
        rep = base.copy()
        rep["doc_id"] = rep["doc_id"] + k * 10_000_000
        rep["text"] = [
            " ".join(t for j, w in enumerate(x.split(" ")) for t in ((w, salt) if j % 5 == 4 else (w,)))
            for x in rep["text"]
        ]
        parts.append(rep)
    docs = pd.concat(parts, ignore_index=True)
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    return docs


def _build_docs(seed: int, out: str) -> None:
    import duckdb

    from eugl_spark.plans.queries import REGISTRY

    docs = generate_documents(seed, N_DOCS_BASE, DOCS_MULT)
    dpath = os.path.join(out, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), dpath, row_group_size=8192)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{dpath}')")
        for name in ("qf_verdict", "split_train_val_test", "decontaminate_train"):
            con.execute(REGISTRY[name].sql).df().to_parquet(os.path.join(out, f"ref_{name}.parquet"), index=False)
        # the near-dup oracle's MinHash candidates and exact verify; its
        # recursive-CTE connected components take ~11 s at 4000 docs, so
        # the components are labelled here instead
        sql = REGISTRY["dedup_clusters_lsh"].sql
        pairs = con.execute(sql[: sql.index("), sym AS")] + ") SELECT doc_a, doc_b FROM ver").fetchall()
    finally:
        con.close()
    clusters = min_label_components(pairs)
    pd.DataFrame(
        {"doc_id": list(clusters), "cluster": list(clusters.values()),
         "keep": [d == c for d, c in clusters.items()]}
    ).to_parquet(os.path.join(out, "ref_dedup_clusters_lsh.parquet"), index=False)


def min_label_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """doc -> smallest doc id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# ---------------------------------------------------------------------------


def ensure(workload: str, seed: int) -> str:
    """Build (or reuse) the inputs and references of one workload."""
    os.makedirs(CACHE, exist_ok=True)
    if workload == "crawl_write":
        return _build_atomically(pages_dir(seed), lambda out: _build_pages(seed, out))
    if workload == "corpus_build":
        return _build_atomically(docs_dir(seed), lambda out: _build_docs(seed, out))
    raise ValueError(f"unknown workload {workload!r}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    for tag, d in (("pages", pages_dir(args.seed)), ("docs", docs_dir(args.seed))):
        shutil.rmtree(d, ignore_errors=True)
    for w in ("crawl_write", "corpus_build"):
        t = time.perf_counter()
        print(f"{w}: {ensure(w, args.seed)} ({time.perf_counter() - t:.1f}s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
