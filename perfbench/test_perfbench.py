"""The benchmark's own tests: the CPU accounting, the Spark-free
reference helpers, every output check against one corrupted output,
the event-log reducer, and the corpus build against its composed
DuckDB oracle. Run from the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import cpu  # noqa: E402
import inputs  # noqa: E402
import layertrace  # noqa: E402


# --------------------------------------------------------------------------- cpu


def test_cpu_counts_a_child_burn():
    cpu.self_test(burn_s=0.3)


_ORPHAN = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
import cpu
assert cpu.become_subreaper()
# the shell exits at once and leaves its background sleep orphaned
subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
orphans = cpu._descendants(os.getpid(), live_only=True)
assert len(orphans) == 1, orphans
assert cpu.reap_descendants(grace_s=0.5) == orphans
assert cpu._descendants(os.getpid(), live_only=False) == []
"""


def test_an_orphaned_grandchild_is_stopped_and_reaped():
    import subprocess

    subprocess.run([sys.executable, "-c", _ORPHAN, HERE], check=True, timeout=60)


def test_steal_share_of_two_readings():
    assert cpu.steal_share((10, 1000), (30, 1200)) == pytest.approx(0.1)
    assert cpu.steal_share((10, 1000), (10, 1000)) == 0.0


# --------------------------------------------------------------------------- inputs


def test_xxh64_reference_vectors():
    m = (1 << 64) - 1
    assert inputs.xxh64(b"", 0) & m == 0xEF46DB3751D8E999
    assert inputs.xxh64(b"abc", 0) & m == 0x44BC2CF5AD770999
    # the >= 32-byte path: every lane and the tail rounds
    assert inputs.xxh64(b"Nobody inspects the spammish repetition", 0) & m == 0xFBCEA83C8A378BF1


def test_min_label_components():
    assert inputs.min_label_components([(5, 7), (3, 5), (1, 2)]) == {5: 3, 7: 3, 3: 3, 1: 1, 2: 1}


def test_documents_are_seeded():
    a = inputs.generate_documents(3, 200, 2)
    b = inputs.generate_documents(3, 200, 2)
    c = inputs.generate_documents(4, 200, 2)
    pd.testing.assert_frame_equal(a, b)
    assert not a["text"].equals(c["text"])
    assert len(a) == 400 and a["doc_id"].is_unique


# --------------------------------------------------------------------------- crawl_write check


def _crawl_case():
    labels = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3"],
            "keep": [True, False, False],
            "drop_reason": [None, "too_short", "no_content"],
            "text_extracted": ["a b c", "x", None],
            "scrubbed_text": ["a b c", "x", None],
            "bucket": [1, 2, 3],
        }
    )
    rows = labels.copy()
    lineage = pd.DataFrame(
        {
            "bucket": range(64),
            "status": "ok",
            "n_input": [3] + [0] * 63,
            "n_kept": [1] + [0] * 63,
        }
    )
    return rows, lineage, labels


def test_crawl_write_check_passes_a_right_output():
    assert checks.check_crawl_write(*_crawl_case()) == (0, [])


def test_crawl_write_check_counts_a_wrong_verdict_as_failed():
    rows, lineage, labels = _crawl_case()
    rows.loc[1, "drop_reason"] = "langid"
    assert checks.check_crawl_write(rows, lineage, labels) == (1, [])


def test_crawl_write_check_counts_a_missing_record_as_failed():
    rows, lineage, labels = _crawl_case()
    rows = rows.iloc[:2]
    lineage.loc[0, "n_input"] = 2
    assert checks.check_crawl_write(rows, lineage, labels) == (1, [])


def test_crawl_write_check_rejects_a_duplicate_and_bad_lineage():
    rows, lineage, labels = _crawl_case()
    _, problems = checks.check_crawl_write(pd.concat([rows, rows.iloc[:1]]), lineage, labels)
    assert any("more than once" in p for p in problems)
    lineage.loc[5, "status"] = "failed"
    _, problems = checks.check_crawl_write(rows, lineage, labels)
    assert any("_lineage" in p for p in problems)
    lineage.loc[5, "status"] = "ok"
    lineage.loc[0, "n_kept"] = 2
    _, problems = checks.check_crawl_write(rows, lineage, labels)
    assert any("n_kept" in p for p in problems)


def test_a_right_engine_output_for_an_empty_record_is_not_failed(tmp_path):
    """A fixed empty record read through the gzip splitter, which keeps
    it, is labelled by the engine as its reference says: once the plain
    splitter keeps it too, it stops counting as failed."""
    from eugl_spark.oracle import label_frame
    from eugl_spark.pipeline import apply_pipeline
    from eugl_spark.session import get_spark
    from eugl_spark.sources.warc import parse_crawl_records, read_warc_drops

    url = inputs.fixed_empty_urls()[0]
    (tmp_path / "warc").mkdir()
    inputs.write_shard(str(tmp_path / "warc" / "shard-01.warc.gz"), [inputs.empty_record(url)])
    spark = get_spark("perfbench-test", cores=2)
    pages = parse_crawl_records(read_warc_drops(spark, str(tmp_path / "warc")))
    rows = apply_pipeline(pages, repartition_to=0).select("url", *checks._LABEL_COLS, "bucket").toPandas()
    labels = label_frame(pd.DataFrame({"url": [url], "html": [None], "text": [""]}))
    labels["bucket"] = [inputs.bucket_of(url)]
    lineage = pd.DataFrame({"bucket": range(64), "status": "ok", "n_input": 0, "n_kept": 0})
    lineage.loc[0, "n_input"] = len(rows)
    assert len(rows) == 1
    assert checks.check_crawl_write(rows, lineage, labels) == (0, [])


# --------------------------------------------------------------------------- corpus_build check


def _corpus_case():
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "the a spark join table query scan",
                "the a spark join table query scan dup",
                "row key batch fast slow merge agg",
                "hash sort order data line part big",
                "value window stream column vector small filter",
            ],
            "source": ["s0", "s0", "s0", "s1", "s1"],
        }
    )
    refs = {
        "qf_verdict": pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "keep": [True, True, True, True, False]}),
        "split_train_val_test": pd.DataFrame(
            {"doc_id": [1, 2, 3, 4, 5], "split": ["train", "train", "train", "train", "test"]}
        ),
        "decontaminate_train": pd.DataFrame({"doc_id": [3]}),
        "dedup_clusters_lsh": pd.DataFrame({"doc_id": [1, 2], "cluster": [1, 1], "keep": [True, False]}),
    }
    # survivors 1 (s0) and 4 (s1), 7 tokens each, budget 10
    out = pd.DataFrame({"doc_id": [1, 4], "source": ["s0", "s1"], "cum_tokens": [7, 7]})
    return out, docs, refs


def test_corpus_check_passes_a_right_output():
    out, docs, refs = _corpus_case()
    assert checks.check_corpus_build(out, docs, refs, budget=10) == []


@pytest.mark.parametrize(
    "corrupt, words",
    [
        (lambda o: pd.concat([o, pd.DataFrame({"doc_id": [5], "source": ["s1"], "cum_tokens": [14]})]), "not kept"),
        (lambda o: pd.concat([o, pd.DataFrame({"doc_id": [3], "source": ["s0"], "cum_tokens": [14]})]), "contaminated"),
        (lambda o: pd.concat([o, pd.DataFrame({"doc_id": [2], "source": ["s0"], "cum_tokens": [15]})]), "near-dup"),
        (lambda o: o.assign(cum_tokens=[7, 8]), "running totals"),
        (lambda o: o.iloc[:1], "missing"),
    ],
)
def test_corpus_check_fails_a_corrupted_output(corrupt, words):
    out, docs, refs = _corpus_case()
    problems = checks.check_corpus_build(corrupt(out), docs, refs, budget=10)
    assert any(words in p for p in problems), problems


def test_near_dup_rule_and_budget_prefix():
    assert checks.near_dup_pairs({1: "a b c d e", 2: "a b c d e f", 3: "x y z w"}) == [(1, 2)]
    nt = pd.DataFrame({"doc_id": [3, 1, 2], "source": ["s", "s", "s"], "ntok": [5, 5, 5]})
    # the doc that crosses the budget is kept, the next one is not
    assert checks.budget_prefix(nt, 7)["doc_id"].tolist() == [1, 2]


# --------------------------------------------------------------------------- event-log reducer


def test_reduce_event_log_attributes_stages(tmp_path):
    d = tmp_path / "eventlog_v2_x"
    d.mkdir()
    task = lambda sid, ms: {  # noqa: E731
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Metrics": {"Executor Run Time": ms, "Executor CPU Time": ms * 10**6, "JVM GC Time": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}},
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pass1", "spark.job.description": "lineage",
                        "spark.sql.execution.id": "7"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 7,
         "physicalPlanDescription": "== Physical Plan ==\n+- Exchange hashpartitioning\n   +- Exchange x\n\n(1) Exchange"},
        task(0, 3000), task(0, 1000), task(1, 500),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Name": "parquet at X", "Submission Time": 0, "Completion Time": 3000,
            "RDD Info": [{"Scope": '{"id":"2","name":"ArrowEvalPython"}'}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Stage Name": "parquet at X", "Submission Time": 3000, "Completion Time": 3500,
            "RDD Info": [{"Scope": '{"id":"5","name":"Exchange"}'}, {"Scope": '{"id":"6","name":"WriteFiles"}'}]}},
        # a job started outside every wrapper
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "pass1"}},
        task(2, 200),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Stage Name": "parquet at X", "Submission Time": 3600, "Completion Time": 3800,
            "RDD Info": [{"Scope": '{"id":"1","name":"Scan parquet "}'}]}},
    ]
    (d / "events_1_x").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = layertrace.reduce_event_log(str(tmp_path))
    assert log["stages"][0]["layer"] == "doc_kernel" and log["stages"][0]["run_s"] == 4.0
    assert log["stages"][1]["layer"] == "lineage.write"
    assert log["stages"][2]["layer"] == "unattributed"
    assert log["exchanges"][7] == 2
    assert layertrace._union_s([(0, 3000), (1000, 3500), (5000, 6000)]) == 4.5


def test_layer_of_names_only_wrapped_work():
    assert layertrace._layer_of("lineage", "collect at x", "Exchange Scan parquet ") == "lineage.readback"
    assert layertrace._layer_of("lineage", "parquet at x", "mapPartitions parallelize") == "lineage"
    assert layertrace._layer_of("corpus.dedup", "x", "") == "corpus.dedup"
    # a description Spark sets itself, or none, names no layer
    assert layertrace._layer_of("Listing leaf files and directories for 60 paths", "x", "") == "unattributed"
    assert layertrace._layer_of(None, "x", "WriteFiles") == "unattributed"


# --------------------------------------------------------------------------- corpus build vs its oracle


def test_corpus_build_matches_composed_duckdb_oracle(tmp_path):
    """The 1x table: build_training_corpus in Spark against the
    registry's composed corpus_build_train SQL in DuckDB."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eugl_spark.plans.queries import REGISTRY, build_training_corpus
    from eugl_spark.session import get_spark

    docs = inputs.generate_documents(5, inputs.N_DOCS_BASE, 1)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path / 'documents.parquet'}')")
    want = con.execute(REGISTRY["corpus_build_train"].sql).df()
    con.close()
    spark = get_spark("perfbench-test", cores=2)
    got = build_training_corpus(spark, str(tmp_path)).toPandas()
    key = ["doc_id", "source", "cum_tokens"]
    pd.testing.assert_frame_equal(
        got[key].sort_values("doc_id").reset_index(drop=True).astype({"cum_tokens": "int64"}),
        want[key].sort_values("doc_id").reset_index(drop=True).astype({"cum_tokens": "int64"}),
    )
    assert len(got) > 100
