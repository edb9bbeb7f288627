"""Output checks, one per workload, against references computed apart
from the program (see inputs.py). Each check takes plain pandas frames
and returns a list of problems (empty when the output is right), so
``test_perfbench.py`` can corrupt one output and see the check fail
without starting Spark.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.dataset as ds

_LABEL_COLS = ["keep", "drop_reason", "text_extracted", "scrubbed_text"]


# --------------------------------------------------------------------------- crawl_write


def read_crawl_output(out_dir: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(written rows, _lineage rows) of a run_with_resume output, read
    with pyarrow so the check shares no code path with Spark."""
    rows = ds.dataset(
        os.path.join(out_dir, "pages_out"), format="parquet", partitioning="hive"
    ).to_table(columns=["url", *_LABEL_COLS, "bucket"]).to_pandas()
    lineage = ds.dataset(os.path.join(out_dir, "_lineage"), format="parquet").to_table().to_pandas()
    return rows, lineage


def check_crawl_write(rows: pd.DataFrame, lineage: pd.DataFrame, labels: pd.DataFrame,
                      n_buckets: int = 64) -> tuple[int, list[str]]:
    """(failed records, problems). ``labels`` holds the oracle label of
    every source record. A record that is missing from the output, or
    whose verdict, extracted text, scrubbed text or output bucket
    differs from the reference, is a failed operation. A url written twice or never in the
    source, or ``_lineage`` counters that disagree with the written
    rows, make the output wrong."""
    problems: list[str] = []
    dup = rows["url"].duplicated()
    if dup.any():
        problems.append(f"{int(dup.sum())} urls written more than once")
    extra = set(rows["url"]) - set(labels["url"])
    if extra:
        problems.append(f"{len(extra)} urls written that no source record holds, e.g. {min(extra)}")
    got = rows.drop_duplicates("url").set_index("url")
    ref = labels.set_index("url")
    common = ref.index.intersection(got.index)
    bad = pd.Series(False, index=common)
    for col in [*_LABEL_COLS, "bucket"]:
        a, b = got.loc[common, col], ref.loc[common, col]
        bad |= ~((a == b) | (a.isna() & b.isna()))
    failed = int(len(ref) - len(common) + bad.sum())
    ok = lineage[lineage["status"] == "ok"]
    if set(ok["bucket"]) != set(range(n_buckets)) or len(ok) != n_buckets:
        problems.append(f"_lineage: {ok['bucket'].nunique()} of {n_buckets} buckets ok in {len(ok)} rows")
    if int(ok["n_input"].sum()) != len(rows):
        problems.append(f"_lineage n_input sums to {int(ok['n_input'].sum())}, {len(rows)} rows written")
    n_kept = int(got["keep"].sum())
    if int(ok["n_kept"].sum()) != n_kept:
        problems.append(f"_lineage n_kept sums to {int(ok['n_kept'].sum())}, {n_kept} kept rows written")
    return failed, problems


# --------------------------------------------------------------------------- corpus_build


def _shingles(text: str) -> frozenset:
    import re

    toks = re.findall(r"[a-z]+", text.lower())
    return frozenset(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))


def near_dup_pairs(texts: dict[int, str], threshold: float = 0.5) -> list[tuple[int, int]]:
    """Pairs meeting the exact near-dup rule: >= 2 shared word-3-gram
    shingles and Jaccard (rounded to 6 places) >= threshold."""
    sh = {d: _shingles(t) for d, t in texts.items() if t is not None}
    ids = sorted(sh)
    # candidate pairs share at least one shingle: index by shingle
    post: dict[str, list[int]] = {}
    for d in ids:
        for s in sh[d]:
            post.setdefault(s, []).append(d)
    seen, out = set(), []
    for docs in post.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                c = len(sh[a] & sh[b])
                if c >= 2 and round(c / (len(sh[a]) + len(sh[b]) - c), 6) >= threshold:
                    out.append((a, b))
    return out


def budget_prefix(nt: pd.DataFrame, budget: int) -> pd.DataFrame:
    """Per-source running token totals in doc_id order, keeping a doc
    iff the budget was not yet spent before it."""
    nt = nt.sort_values(["source", "doc_id"]).copy()
    nt["cum_tokens"] = nt.groupby("source")["ntok"].cumsum()
    before = nt["cum_tokens"] - nt["ntok"]
    return nt[before < budget][["doc_id", "source", "cum_tokens"]]


def check_corpus_build(out: pd.DataFrame, docs: pd.DataFrame, refs: dict[str, pd.DataFrame],
                       budget: int) -> list[str]:
    """``refs`` holds the DuckDB results of qf_verdict,
    split_train_val_test, decontaminate_train and dedup_clusters_lsh."""
    problems: list[str] = []
    if out.empty:
        return ["the corpus is empty"]
    if out["doc_id"].duplicated().any():
        problems.append("a doc_id appears twice in the corpus")
    ids = set(out["doc_id"])
    kept = set(refs["qf_verdict"].loc[refs["qf_verdict"]["keep"].astype(bool), "doc_id"])
    train = set(refs["split_train_val_test"].loc[refs["split_train_val_test"]["split"] == "train", "doc_id"])
    cont = set(refs["decontaminate_train"]["doc_id"])
    for what, bad in (("not kept by the verdict", ids - kept), ("not in the train split", ids - train),
                      ("contaminated", ids & cont)):
        if bad:
            problems.append(f"{len(bad)} corpus docs {what}, e.g. {min(bad)}")

    # near-dups: no two corpus docs may meet the exact rule, except a
    # pair the MinHash banding misses in DuckDB's oracle too (the LSH
    # rule's recall bound, which both engines share by design)
    text = docs.set_index("doc_id")["text"]
    lsh = refs["dedup_clusters_lsh"].set_index("doc_id")["cluster"]
    pairs = near_dup_pairs({d: text[d] for d in ids})
    clustered = [(a, b) for a, b in pairs if a in lsh.index and b in lsh.index and lsh[a] == lsh[b]]
    if clustered:
        problems.append(f"{len(clustered)} near-dup pairs both in the corpus, e.g. {clustered[0]}")

    # budget: recompute the surviving set and the running totals
    dup_drop = set(refs["dedup_clusters_lsh"].loc[~refs["dedup_clusters_lsh"]["keep"].astype(bool), "doc_id"])
    surv = docs[docs["doc_id"].isin(kept & train - cont - dup_drop)].copy()
    surv["ntok"] = surv["text"].str.lower().str.count(r"[a-z]+")
    exp = budget_prefix(surv[["doc_id", "source", "ntok"]], budget)
    m = exp.merge(out, on="doc_id", how="outer", suffixes=("_exp", "_got"), indicator=True)
    if (m["_merge"] != "both").any():
        problems.append(
            f"budget: {int((m['_merge'] == 'left_only').sum())} docs missing, "
            f"{int((m['_merge'] == 'right_only').sum())} docs extra"
        )
    both = m[m["_merge"] == "both"]
    if (both["cum_tokens_exp"] != both["cum_tokens_got"]).any():
        problems.append("budget: running totals differ from the prefix sum")
    return problems


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(root, f))
    return total
