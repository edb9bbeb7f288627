"""Checkpoint/resume runner with per-partition lineage.

The reference resumes by target-existence: a luigi task is skipped if
its output file exists (GverifyTask.exists,
/root/reference/eugl/gqa/tasks.py:108-109), and ALWAYS writes its
runtime-args record, even on failure
(/root/reference/eugl/gqa/tasks.py:218-233). The Spark recast:

  * output table partitioned by the salted host `bucket`;
  * a `_lineage` table with one row per (run_id, bucket): status,
    input/kept/dropped counters, per-reason counts, stage versions,
    error message — written even when a bucket batch fails;
  * resume = read lineage, skip buckets already 'ok' for this run_id,
    rewrite the rest with dynamic partition overwrite (idempotent —
    a half-written bucket is replaced wholesale, the Iceberg
    overwrite-by-partition analog on plain parquet).

Locally this is Hive-style partitioned parquet; on a cluster with an
Iceberg catalog the same logic runs over `writeTo(tbl).overwritePartitions()`
(jars not present in this environment — sink kept format-agnostic).
"""

from __future__ import annotations

import os
import traceback
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eugl_spark import constants as C
from eugl_spark.pipeline import apply_pipeline

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_input", T.LongType(), True),
        T.StructField("n_kept", T.LongType(), True),
        T.StructField("n_dropped", T.LongType(), True),
        T.StructField("drop_reason_counts", T.MapType(T.StringType(), T.LongType()), True),
        T.StructField("stage_versions", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
    ]
)


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _out_path(out_dir: str) -> str:
    return os.path.join(out_dir, "pages_out")


def _lineage_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """LINEAGE_SCHEMA rows (missing keys → null) as a frame built from
    an Arrow table. It plans as a LocalTableScan, so writing or reading
    it starts no Python task; ``createDataFrame(list)`` plans as an RDD
    scan whose every action starts Python worker tasks, each with a
    fixed CPU cost however few rows it holds."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(LINEAGE_SCHEMA))
    return spark.createDataFrame(table, LINEAGE_SCHEMA)


def _lineage_missing(out_dir: str) -> bool:
    # existence pre-check: avoids Spark logging a FileNotFound stack
    # trace on every first run (local paths; remote FS falls through
    # to the read's try/except)
    path = _lineage_path(out_dir)
    return "://" not in path and not os.path.exists(path)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    if _lineage_missing(out_dir):
        return _lineage_frame(spark, [])
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(_lineage_path(out_dir))
    except Exception:  # first run: no lineage yet
        return _lineage_frame(spark, [])


def done_buckets(spark: SparkSession, out_dir: str, run_id: str) -> set[int]:
    if _lineage_missing(out_dir):  # first run: nothing is done, no job
        return set()
    lin = read_lineage(spark, out_dir)
    rows = (
        lin.filter((F.col("run_id") == run_id) & (F.col("status") == "ok"))
        .select("bucket")
        .distinct()
        .collect()
    )
    return {r["bucket"] for r in rows}


def lineage_report(spark: SparkSession, out_dir: str) -> DataFrame:
    """Operational summary per (run_id, status): bucket counts, row
    totals, and the latest completion time — the queryable form of the
    reference's always-written runtime-args/metrics record
    (/root/reference/eugl/gqa/tasks.py:218-233)."""
    return (
        read_lineage(spark, out_dir)
        .groupBy("run_id", "status")
        .agg(
            # distinct: lineage is append-only and a failing bucket
            # re-appends a row per retry attempt
            F.countDistinct("bucket").alias("n_buckets"),
            F.sum("n_input").alias("n_input"),
            F.sum("n_kept").alias("n_kept"),
            F.sum("n_dropped").alias("n_dropped"),
            F.max("finished_at").alias("last_finished_at"),
        )
    )


def _append_lineage(spark: SparkSession, out_dir: str, rows: list[dict]) -> None:
    _lineage_frame(spark, rows).coalesce(1).write.mode("append").parquet(
        _lineage_path(out_dir)
    )


# the columns the counter read-back needs; `bucket` is the partition column
_STATS_SCHEMA = "run_id string, drop_reason string, keep boolean, bucket int"


def _bucket_stats(
    spark: SparkSession, out_dir: str, buckets: list[int], run_id: str
) -> DataFrame:
    """Per-bucket counters derived from the just-WRITTEN output.

    Reading back `pages_out/bucket=...` (partition-pruned, scalar
    columns only — the fat html column never existed there) costs a
    trivial scan; recomputing the same numbers from the pipeline plan
    would re-run the QA kernel, the most expensive stage, once per
    counter query. One groupBy yields input/kept and the per-reason
    histogram together. Returns the lazy frame so tests can assert the
    plan contains the output scan and NO kernel stage.

    The run_id filter makes counters exact per run when an out_dir is
    reused: dynamic partition overwrite only replaces buckets PRESENT
    in the new run's data, so a bucket absent from run 2 still holds
    run 1's rows — without the filter those stale rows would inflate
    run 2's n_input/n_kept.
    """
    # an explicit schema, not mergeSchema: no job reads every footer to
    # infer one. An out_dir first written by a pre-run_id version mixes
    # files with and without the column; its old rows read as run_id
    # NULL and are excluded, so a zero-row run over a purely old
    # directory counts 0. A successful zero-row write leaves only
    # _SUCCESS, which reads as an empty frame (0 counters, status ok).
    out = spark.read.schema(_STATS_SCHEMA).parquet(_out_path(out_dir))
    return (
        out.filter(F.col("bucket").isin(buckets) & (F.col("run_id") == run_id))
        .select("bucket", "drop_reason", "keep")
        .groupBy("bucket", F.coalesce("drop_reason", F.lit("KEEP")).alias("reason"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
    )


def _batch_rows(labeled: DataFrame, batch: list[int]) -> DataFrame:
    """The rows of ``labeled`` in the buckets of ``batch`` (distinct
    bucket numbers). A batch of every bucket needs no filter: bucket =
    pmod(hash, N_BUCKETS) is never null nor out of range, and Catalyst
    would push the filter below the kernel, running the host regex and
    the hash there a second time."""
    if len(batch) == C.N_BUCKETS:
        return labeled
    return labeled.filter(F.col("bucket").isin(batch))


def run_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    buckets_per_batch: int = 0,
    fail_on_bucket: int | None = None,
) -> dict:
    """Run the pipeline, skipping buckets already completed for run_id.

    buckets_per_batch=0 → one batch (all remaining buckets, one write:
    the efficient path). >0 → smaller commit batches, finer resume
    granularity (and the unit the failure-injection test kills at).
    fail_on_bucket: test hook — raise while processing that bucket's
    batch, exercising the failed-lineage path.
    """
    done = done_buckets(spark, out_dir, run_id)
    all_buckets = list(range(C.N_BUCKETS))
    todo = [b for b in all_buckets if b not in done]
    if not todo:
        return {"written": 0, "skipped": len(done), "failed": 0}

    # run-level counters via observe() — the accumulator/exit-code
    # pattern of the reference's test harness (A12,
    # /root/reference/testing/cmp-fmask-outputs.py:222-229): metrics
    # ride the job itself, no second pass over the data.
    from pyspark.sql import Observation

    # run_id rides the output (a constant dictionary-encoded column):
    # it is the provenance key that makes counter read-back and
    # debugging exact per run when an out_dir is reused
    labeled = apply_pipeline(pages).withColumn("run_id", F.lit(run_id))

    batches = (
        [todo]
        if buckets_per_batch <= 0
        else [
            todo[i : i + buckets_per_batch]
            for i in range(0, len(todo), buckets_per_batch)
        ]
    )
    written = failed = 0
    # one Observation PER BATCH: an Observation captures metrics from
    # the FIRST action on its plan only (subsequent actions never
    # update it), so a single run-level observation would report just
    # batch 1's slice when buckets_per_batch > 0. Read only after a
    # successful write — a failed action completes the observation
    # from partial accumulators.
    counters: dict[str, int] = {}
    for bi, batch in enumerate(batches):
        obs = Observation(f"qa_counters_{run_id}_{bi}")
        subset = _batch_rows(labeled, batch).observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            # octet_length: bytes, not chars — multibyte text made
            # F.length under-report the actual scrubbed volume
            F.sum(F.octet_length("scrubbed_text")).alias("scrubbed_bytes"),
        )
        try:
            if fail_on_bucket is not None and fail_on_bucket in batch:
                raise RuntimeError(f"injected failure on bucket {fail_on_bucket}")
            (
                subset.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(_out_path(out_dir))
            )
            # the pipeline executes exactly ONCE per batch (the write
            # above); counters come from the written parquet, never
            # from re-running the plan
            per_bucket: dict[int, dict] = {}
            for r in _bucket_stats(spark, out_dir, batch, run_id).collect():
                s = per_bucket.setdefault(
                    int(r["bucket"]), {"n_input": 0, "n_kept": 0, "reasons": {}}
                )
                s["n_input"] += r["n"]
                s["n_kept"] += r["n_kept"]
                s["reasons"][r["reason"]] = r["n"]
            finished = datetime.now(timezone.utc)
            rows = [
                {
                    "run_id": run_id,
                    "bucket": int(b),
                    "status": "ok",
                    "n_input": s["n_input"],
                    "n_kept": s["n_kept"],
                    "n_dropped": s["n_input"] - s["n_kept"],
                    "drop_reason_counts": s["reasons"],
                    "stage_versions": dict(C.STAGE_VERSIONS),
                    "error": None,
                    "finished_at": finished,
                }
                # empty buckets in this batch are complete too (0 rows)
                for b in batch
                for s in [
                    per_bucket.get(
                        int(b), {"n_input": 0, "n_kept": 0, "reasons": {}}
                    )
                ]
            ]
            _append_lineage(spark, out_dir, rows)
            written += len(batch)
            for k, v in obs.get.items():
                # `v or 0`: a sum() over an all-null slice observes
                # None — coerce so the run total stays an int, but
                # RECORD the null batch in a sibling counter so "no
                # scrubbed bytes in this batch" stays distinguishable
                # from "batch of zero-length scrubs" (ADVICE r3)
                counters[k] = counters.get(k, 0) + (v or 0)
                if v is None:
                    nk = f"{k}_null_batches"
                    counters[nk] = counters.get(nk, 0) + 1
        except Exception as e:  # noqa: BLE001 — always-write-lineage pattern
            _append_lineage(
                spark,
                out_dir,
                [
                    {
                        "run_id": run_id,
                        "bucket": int(b),
                        "status": "failed",
                        "stage_versions": dict(C.STAGE_VERSIONS),
                        "error": f"{type(e).__name__}: {e}\n"
                        + traceback.format_exc()[-500:],
                        "finished_at": datetime.now(timezone.utc),
                    }
                    for b in batch
                ],
            )
            failed += len(batch)
            if fail_on_bucket is not None:
                raise
    result = {"written": written, "skipped": len(done), "failed": failed}
    if counters:  # observed metrics summed over successful batches
        result["counters"] = counters
    return result
