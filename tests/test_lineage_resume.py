"""Checkpoint/resume semantics (K5/K6: luigi target-existence recast).

Failure-injection: run → fail part-way → lineage records 'failed' rows
(always-write pattern) → resume same run_id → final table identical to
a single clean run (the reference's golden-diff requirement applied to
our own restart path)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eugl_spark import constants as C
from eugl_spark.lineage import done_buckets, read_lineage, run_with_resume


@pytest.fixture()
def pages(spark, pages_path):
    return spark.read.parquet(pages_path).drop("_case")


def _read_out(spark, out_dir) -> pd.DataFrame:
    df = (
        spark.read.parquet(f"{out_dir}/pages_out")
        .select("url", "keep", "drop_reason", "scrubbed_text", "bucket")
        .toPandas()
    )
    return df.sort_values("url").reset_index(drop=True)


def test_clean_run_writes_all_buckets(spark, pages, tmp_path):
    out = str(tmp_path / "clean")
    res = run_with_resume(spark, pages, out, run_id="r1")
    assert res["failed"] == 0
    assert done_buckets(spark, out, "r1") == set(range(C.N_BUCKETS))
    lin = read_lineage(spark, out)
    totals = lin.agg(F.sum("n_input")).collect()[0][0]
    assert totals == pages.count()


def test_fail_then_resume_is_byte_identical(spark, pages, tmp_path):
    clean, broken = str(tmp_path / "c"), str(tmp_path / "b")
    run_with_resume(spark, pages, clean, run_id="r1")

    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_resume(
            spark, pages, broken, run_id="r2",
            buckets_per_batch=16, fail_on_bucket=40,
        )
    lin = read_lineage(spark, broken).toPandas()
    assert (lin.status == "failed").any()
    assert lin[lin.status == "failed"].error.str.contains("injected").all()
    done_before = done_buckets(spark, broken, "r2")
    assert 0 < len(done_before) < C.N_BUCKETS

    res = run_with_resume(spark, pages, broken, run_id="r2")
    assert res["skipped"] == len(done_before)
    assert done_buckets(spark, broken, "r2") == set(range(C.N_BUCKETS))

    a, b = _read_out(spark, clean), _read_out(spark, broken)
    pd.testing.assert_frame_equal(a, b)


def test_rerun_is_noop(spark, pages, tmp_path):
    out = str(tmp_path / "noop")
    run_with_resume(spark, pages, out, run_id="r1")
    res = run_with_resume(spark, pages, out, run_id="r1")
    assert res == {"written": 0, "skipped": C.N_BUCKETS, "failed": 0}


def test_counters_come_from_written_output_not_pipeline_rerun(
    spark, pages, tmp_path
):
    """The pipeline must execute exactly once per batch (the write).

    The counter query's physical plan has to scan the written
    pages_out parquet and must NOT contain the Arrow kernel stage —
    otherwise lineage bookkeeping re-runs the most expensive stage of
    the job (the round-1 3x-recompute bug)."""
    from eugl_spark.lineage import _bucket_stats

    out = str(tmp_path / "stats")
    run_with_resume(spark, pages, out, run_id="r1")
    stats = _bucket_stats(spark, out, list(range(C.N_BUCKETS)), "r1")
    assert all("pages_out" in f for f in stats.inputFiles())
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEval" not in plan and "EvalPython" not in plan

    # and the recorded counters equal a direct recount of the output
    lin = read_lineage(spark, out).toPandas()
    outdf = spark.read.parquet(f"{out}/pages_out").toPandas()
    assert lin.n_input.sum() == len(outdf)
    assert lin.n_kept.sum() == int(outdf.keep.sum())
    reasons_lin: dict[str, int] = {}
    for m in lin.drop_reason_counts:
        for k, v in (m or {}).items():
            reasons_lin[k] = reasons_lin.get(k, 0) + v
    reasons_out = (
        outdf.drop_reason.fillna("KEEP").value_counts().to_dict()
    )
    assert reasons_lin == reasons_out


def test_reused_out_dir_counters_are_exact_per_run(spark, pages, tmp_path):
    """Dynamic overwrite only replaces buckets PRESENT in the new run's
    data: a bucket absent from run 2 keeps run 1's parquet rows. The
    run_id column + read-back filter must keep run 2's counters exact
    (round-3 ADVICE: stale-row inflation on out_dir reuse)."""
    out = str(tmp_path / "reuse")
    run_with_resume(spark, pages, out, run_id="r1")

    subset = pages.limit(5)  # few rows → most buckets absent in run 2
    n_subset = subset.count()
    run_with_resume(spark, subset, out, run_id="r2")

    lin = read_lineage(spark, out).toPandas()
    r2 = lin[lin.run_id == "r2"]
    assert int(r2.n_input.sum()) == n_subset  # not inflated by r1 rows
    assert int(lin[lin.run_id == "r1"].n_input.sum()) == pages.count()


def test_finished_at_is_stamped(spark, pages, tmp_path):
    out = str(tmp_path / "ts")
    run_with_resume(spark, pages, out, run_id="r1")
    lin = read_lineage(spark, out).toPandas()
    assert lin.finished_at.notna().all()


def test_lineage_report(spark, pages, tmp_path):
    from eugl_spark.lineage import lineage_report

    out = str(tmp_path / "rep")
    run_with_resume(spark, pages, out, run_id="r1")
    rep = lineage_report(spark, out).collect()
    ok = [r for r in rep if r["status"] == "ok"]
    assert len(ok) == 1 and ok[0]["run_id"] == "r1"
    assert ok[0]["n_buckets"] == C.N_BUCKETS
    assert ok[0]["n_input"] == pages.count()
    assert ok[0]["n_kept"] + ok[0]["n_dropped"] == ok[0]["n_input"]
    assert ok[0]["last_finished_at"] is not None


def test_counters_survive_pre_run_id_output_files(spark, pages, tmp_path):
    """An out_dir first written by a pre-run_id version mixes files
    with and without the column; the read-back's pinned schema reads
    old rows as run_id NULL and excludes them, instead of failing on an
    unresolvable column or silently counting stale rows."""
    from eugl_spark.lineage import _bucket_stats, _out_path

    out = str(tmp_path / "o")
    run_with_resume(spark, pages, out, run_id="r1")
    n_r1 = pages.count()
    # simulate a legacy directory: rewrite bucket files WITHOUT run_id
    # (materialize first — overwriting a lazily-read source deletes
    # the files mid-scan)
    legacy_df = spark.read.parquet(_out_path(out)).drop("run_id")
    legacy = spark.createDataFrame(legacy_df.toPandas(), legacy_df.schema)
    legacy.write.mode("overwrite").partitionBy("bucket").parquet(_out_path(out))
    # a new run over a half-sized input appends run_id-bearing files
    subset = pages.filter(F.col("url").isNotNull()).limit(40)
    run_with_resume(spark, subset, out, run_id="r2")
    all_buckets = list(range(C.N_BUCKETS))
    stats = _bucket_stats(spark, out, all_buckets, "r2").collect()
    n_r2 = sum(r["n"] for r in stats)
    # only run-2 rows counted; legacy (null run_id) rows excluded
    assert 0 < n_r2 <= 40 < n_r1


def test_counters_sum_over_all_batches(spark, pages, tmp_path):
    """An Observation captures only the FIRST action on its plan, so
    multi-batch runs need one per batch, summed — a single run-level
    observation reported just batch 1's slice."""
    out = str(tmp_path / "multibatch")
    res = run_with_resume(
        spark, pages, out, run_id="r1", buckets_per_batch=16
    )
    assert res["counters"]["n_docs"] == pages.count()
    assert 0 < res["counters"]["n_kept"] <= res["counters"]["n_docs"]


def test_empty_batch_is_ok_not_failed(spark, tmp_path):
    """A successfully-written EMPTY batch (zero rows → parquet dir with
    only _SUCCESS) must mark its buckets 'ok' with zero counters, not
    'failed' via UNABLE_TO_INFER_SCHEMA on the counter read-back."""
    from eugl_spark.sources.pages import PAGES_SCHEMA

    empty = spark.createDataFrame([], PAGES_SCHEMA)
    out = str(tmp_path / "empty_run")
    res = run_with_resume(spark, empty, out, run_id="r1")
    assert res["failed"] == 0
    rows = read_lineage(spark, out).collect()
    assert rows and all(r["status"] == "ok" for r in rows)
    assert all(r["n_input"] == 0 for r in rows)


def test_zero_row_run_over_legacy_output_counts_zero(spark, tmp_path):
    """A directory written entirely before run_id existed: a run that
    writes no rows counts 0 for its buckets (that run's true count), not
    the legacy rows."""
    from eugl_spark.lineage import _bucket_stats, _out_path

    out = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(b, True, None) for b in range(4)],
        "bucket int, keep boolean, drop_reason string",
    ).write.partitionBy("bucket").parquet(_out_path(out))
    assert _bucket_stats(spark, out, list(range(C.N_BUCKETS)), "r2").collect() == []


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lineage_frames_start_no_python_task(spark, tmp_path):
    """The _lineage bookkeeping plans as a LocalTableScan, and the first
    run's resume check starts no Spark job: an RDD scan of a Python list
    starts a Python worker task per partition for every action."""
    from eugl_spark.lineage import _lineage_frame

    row = {"run_id": "r", "bucket": 1, "status": "ok", "n_input": 1}
    out = str(tmp_path / "fresh")
    for df in (_lineage_frame(spark, [row]), read_lineage(spark, out)):
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    sc = spark.sparkContext
    sc.setJobGroup("done_buckets_probe", "done_buckets on a fresh out_dir")
    try:
        assert done_buckets(spark, out, "r") == set()
        assert sc.statusTracker().getJobIdsForGroup("done_buckets_probe") == []
        spark.range(3).collect()  # the probe does see a job
        assert sc.statusTracker().getJobIdsForGroup("done_buckets_probe")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_lineage_rows_match_list_built_rows(spark, tmp_path):
    """_lineage rows for an ok, a failed (null counters, error text) and
    an empty bucket are written with the schema, nullability, map
    contents and values that ``createDataFrame(list, LINEAGE_SCHEMA)``
    gives them. Only the order of a map's entries may differ: the list
    path passes a dict through a Java HashMap."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eugl_spark.lineage import LINEAGE_SCHEMA, _append_lineage

    t = datetime(2024, 3, 1, 12, 0, 0, 123456, tzinfo=timezone.utc)
    sv = dict(C.STAGE_VERSIONS)
    rows = [
        {"run_id": "r", "bucket": 3, "status": "ok", "n_input": 7,
         "n_kept": 5, "n_dropped": 2,
         "drop_reason_counts": {"KEEP": 5, "too_short": 2},
         "stage_versions": sv, "error": None, "finished_at": t},
        {"run_id": "r", "bucket": 4, "status": "failed",
         "stage_versions": sv, "error": "RuntimeError: boom\n  at x",
         "finished_at": t},
        {"run_id": "r", "bucket": 5, "status": "ok", "n_input": 0,
         "n_kept": 0, "n_dropped": 0, "drop_reason_counts": {},
         "stage_versions": sv, "error": None, "finished_at": t},
    ]
    new, ref = str(tmp_path / "new"), str(tmp_path / "ref")
    _append_lineage(spark, new, rows)
    spark.createDataFrame(
        [tuple(r.get(f.name) for f in LINEAGE_SCHEMA.fields) for r in rows],
        LINEAGE_SCHEMA,
    ).coalesce(1).write.parquet(f"{ref}/_lineage")

    a = pq.read_table(f"{new}/_lineage")
    b = pq.read_table(f"{ref}/_lineage")
    assert a.schema.equals(b.schema, check_metadata=True)
    for name in a.column_names:
        x, y = a[name].to_pylist(), b[name].to_pylist()
        if pa.types.is_map(a.schema.field(name).type):
            x, y = ([None if m is None else dict(m) for m in v] for v in (x, y))
        assert x == y, name
    got, want = read_lineage(spark, new), read_lineage(spark, ref)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    failed = [r for r in got.collect() if r["status"] == "failed"][0]
    assert failed["n_input"] is None and failed["drop_reason_counts"] is None
    assert failed["error"].startswith("RuntimeError: boom")


def test_full_batch_adds_no_filter_below_the_kernel(spark, pages):
    """A batch of every bucket is the whole labeled frame: no bucket
    filter, which Catalyst would push below the kernel to run the host
    regex and xxhash64 a second time. A partial batch keeps its filter."""
    from eugl_spark.lineage import _batch_rows
    from eugl_spark.pipeline import apply_pipeline

    labeled = apply_pipeline(pages)

    def hashing_filters(df):
        return [
            line for line in _plan(df).splitlines()
            if "Filter" in line and "xxhash64" in line
        ]

    assert _batch_rows(labeled, list(range(C.N_BUCKETS))) is labeled
    assert hashing_filters(_batch_rows(labeled, list(range(C.N_BUCKETS)))) == []
    assert hashing_filters(_batch_rows(labeled, [0, 1]))
