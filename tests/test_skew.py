"""Skew of apply_pipeline's bucketed write, measured on its real output
over the synthetic corpus's Zipf hosts (the hottest host is ~17% of
rows). Hashing on the bucket alone would put that host in one task;
the (bucket, salt) repartition, with ceil(partitions / 4) salts, must
split it across tasks and still write each bucket from a few tasks."""

from __future__ import annotations

import os
import re
from collections import Counter

from pyspark.sql import functions as F

from eugl_spark import constants as C
from eugl_spark.lineage import run_with_resume
from eugl_spark.pipeline import apply_pipeline, host


def _placed(spark, pages_path, n_part):
    """(partition, bucket, host) of every output row; the kernel is
    pruned from this projection, the Exchange that places rows is not."""
    pages = spark.read.parquet(pages_path).drop("_case")
    out = apply_pipeline(pages, repartition_to=n_part).select(
        F.spark_partition_id().alias("p"),
        "bucket",
        host(F.col("url")).alias("h"),
    )
    return [tuple(r) for r in out.collect()]


def _max_partition_fraction(parts) -> float:
    sizes = Counter(parts)
    return max(sizes.values()) / sum(sizes.values())


def test_salting_splits_hot_host(spark, pages_path):
    rows = _placed(spark, pages_path, 8)
    f_salted = _max_partition_fraction(p for p, _, _ in rows)
    # control: the same rows hashed on the bucket alone (no kernel rerun)
    unsalted = spark.createDataFrame(rows, "p int, bucket int, h string")
    f_unsalted = _max_partition_fraction(
        r[0]
        for r in unsalted.repartition(8, "bucket")
        .select(F.spark_partition_id())
        .collect()
    )
    # the hottest host is ~17% of rows (Zipf); unsalted puts it (plus
    # hash collisions) in one partition
    assert f_unsalted > 0.15, f_unsalted
    # salting must materially flatten the hottest partition (small
    # corpus → residual collisions keep it above the 1/8 ideal)
    assert f_salted < f_unsalted * 0.85, (f_salted, f_unsalted)
    assert f_salted < 0.25, f_salted


def test_hot_host_spans_many_partitions(spark, pages_path):
    n_part = 32
    n_salts = -(-n_part // 4)
    rows = _placed(spark, pages_path, n_part)
    hot = Counter(h for _, _, h in rows).most_common(1)[0][0]
    spread = len({p for p, _, h in rows if h == hot})
    # n_salts salt keys spread the hot host across up to
    # min(n_salts, n_partitions) partitions (minus hash collisions)
    expected = min(n_salts, n_part)
    assert spread >= expected // 2, (spread, expected)


def test_pipeline_shuffles_once_on_bucket_and_salt(spark, pages_path):
    """One hash Exchange after the kernel, keyed on the bucket and the
    url salt; range partitioning would sample the plan, running the
    kernel a second time."""
    out = apply_pipeline(spark.read.parquet(pages_path).drop("_case"))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan, plan
    # the kernel runs once, below the Exchange
    assert final.count("ArrowEvalPython") == 1, plan
    assert final.index("Exchange") < final.index("ArrowEvalPython"), plan
    # 8 shuffle partitions → 2 salts
    key = re.search(r"Exchange hashpartitioning\((.*)\), REPARTITION", final)
    assert key and re.fullmatch(
        r"bucket#\d+, cast\(pmod\(xxhash64\(url#\d+, 42\), 2\) as int\), 8",
        key.group(1),
    ), plan


def test_bucketed_write_has_few_files_per_bucket(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path).drop("_case")
    out = str(tmp_path / "files")
    run_with_resume(spark, pages, out, run_id="r1")
    files = [
        f
        for _, _, names in os.walk(os.path.join(out, "pages_out"))
        for f in names
        if f.endswith(".parquet")
    ]
    # 8 shuffle partitions → 2 salts: each bucket from at most 2 tasks
    assert 0 < len(files) <= 2 * C.N_BUCKETS, len(files)
