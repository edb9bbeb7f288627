"""The workloads: each runs one timed pass through the engine's
public entry points and then checks that pass's output.

A pass is what a user of the engine runs. ``run_pass`` is the timed
part; ``check_pass`` runs after the clock stops.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow.parquet as pq

import checks
import inputs


class Workload:
    name = ""

    def __init__(self, spark, data_dir: str, work_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.problems: list[str] = []
        self.failed = 0  # failed operations over all checked passes

    n_docs = 0  # input documents of one pass

    def ops_per_pass(self) -> int:
        return 1

    def run_pass(self, i: int) -> None:
        raise NotImplementedError

    def check_pass(self, i: int) -> int:
        """Check pass ``i``; returns the bytes of its product."""
        raise NotImplementedError

    def _pass_dir(self, i: int) -> str:
        return os.path.join(self.work_dir, f"pass{i}")

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._pass_dir(i), ignore_errors=True)


class CrawlWrite(Workload):
    """WARC shards → sources.warc.read_warc_drops → parse_crawl_records
    → lineage.run_with_resume (pipeline, bucketed parquet write, counter
    read-back, ``_lineage`` append) into a fresh directory per pass.
    An operation is a source record."""

    name = "crawl_write"

    def __init__(self, spark, data_dir, work_dir):
        super().__init__(spark, data_dir, work_dir)
        # the oracle label of every source record, the fixed empty ones included
        self.labels = pq.read_table(os.path.join(data_dir, "labels.parquet")).to_pandas()
        self.n_docs = len(self.labels)

    def ops_per_pass(self):
        return self.n_docs

    def source_records(self):
        from eugl_spark.sources.warc import read_warc_drops

        return read_warc_drops(self.spark, os.path.join(self.data_dir, "warc"))

    def run_pass(self, i):
        from eugl_spark.lineage import run_with_resume
        from eugl_spark.sources.warc import parse_crawl_records

        pages = parse_crawl_records(self.source_records())
        self.result = run_with_resume(self.spark, pages, self._pass_dir(i), run_id=f"pass{i}")

    def check_pass(self, i):
        rows, lineage = checks.read_crawl_output(self._pass_dir(i))
        failed, problems = checks.check_crawl_write(rows, lineage, self.labels)
        self.failed += failed
        self.problems += problems
        if self.result.get("written") != inputs.N_BUCKETS or self.result.get("failed"):
            self.problems.append(f"run_with_resume returned {self.result}")
        return checks.dir_bytes(os.path.join(self._pass_dir(i), "pages_out"))


class CorpusBuild(Workload):
    """documents → plans.queries.build_training_corpus → parquet corpus."""

    name = "corpus_build"

    def __init__(self, spark, data_dir, work_dir):
        super().__init__(spark, data_dir, work_dir)
        self.docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pandas()
        self.n_docs = len(self.docs)
        self.refs = {
            n: pd.read_parquet(os.path.join(data_dir, f"ref_{n}.parquet"))
            for n in ("qf_verdict", "split_train_val_test", "decontaminate_train", "dedup_clusters_lsh")
        }

    def run_pass(self, i):
        from eugl_spark.plans.queries import build_training_corpus

        build_training_corpus(self.spark, self.data_dir).write.parquet(self._pass_dir(i))

    def check_pass(self, i):
        from eugl_spark.plans.queries import _TOKEN_BUDGET

        out = pq.read_table(self._pass_dir(i)).to_pandas()
        problems = checks.check_corpus_build(out, self.docs, self.refs, _TOKEN_BUDGET)
        # the operation here is the pass: a wrong corpus fails it
        self.failed += bool(problems)
        self.problems += problems
        return checks.dir_bytes(self._pass_dir(i))


WORKLOADS = {w.name: w for w in (CrawlWrite, CorpusBuild)}
