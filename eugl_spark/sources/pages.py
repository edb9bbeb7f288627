"""Input connectors for the pages table (S1/S2 in SURVEY.md §2.1).

The reference abstracts its archive layouts behind FileArchive
(zip/tar/dir, /root/reference/eugl/fmask.py:477-554); ours abstracts
the table source: Iceberg catalog table in production (snapshot
isolation, partition-level overwrite for resume), partitioned parquet
locally, and a binaryFile scan for raw WARC-ish drops. Iceberg jars
are not in this environment, so that path is import-gated.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# THE canonical pages-table schema (BASELINE.json input_hint). Defined
# in the batch source layer; the streaming module imports it from
# here — not the reverse, which made every batch read transitively
# load the streaming surface.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        # Class.forName: py4j package attribute access is lazy and
        # never raises, so it can't be used as an existence probe
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Load the pages table from an Iceberg table name or a parquet path.

    `catalog.db.tbl` (no slash) → Iceberg table read (predicate and
    partition pruning via table metadata); anything path-like →
    schema-pinned parquet (no inference at 10^12 rows).

    A table-NAME source on a cluster without the Iceberg runtime is a
    hard error, not a silent fall-through to a parquet read of a
    directory literally named 'catalog.db.tbl' (best case a confusing
    PATH_NOT_FOUND, worst case reading stray local data).
    """
    if "/" not in source:
        if not iceberg_available(spark):
            raise RuntimeError(
                f"read_pages({source!r}): looks like an Iceberg table "
                "name but the Iceberg runtime is not on the classpath "
                "(add iceberg-spark-runtime to --packages/--jars, or "
                "pass a parquet path)"
            )
        return spark.read.format("iceberg").load(source)
    return spark.read.schema(PAGES_SCHEMA).parquet(source)


def read_raw_drops(spark: SparkSession, path: str, pattern: str = "*.warc") -> DataFrame:
    """Raw-file scan (S1 analog of the archive scan): one row per file,
    content as binary + path metadata; the glob filter is the
    fnmatch-extract pattern of FileArchive.extract_file
    (/root/reference/eugl/fmask.py:508-554)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
        .select(
            F.col("path"),
            F.col("modificationTime").alias("mtime"),
            F.col("length").alias("n_bytes"),
            F.col("content"),
        )
    )


def extract_single(spark: SparkSession, path: str, pattern: str) -> DataFrame:
    """The reference's FileArchive.extract_file contract (S2/F11).

    A member pattern must resolve to EXACTLY one archive member — zero
    matches and multiple matches are both caller errors, raised eagerly
    (/root/reference/eugl/fmask.py:529-547, pinned by its most
    unit-tested suite, /root/reference/eugl/test_fmask.py:45-81). The
    check is listing-only (two paths, no content scan); the returned
    frame still carries the lazy binary content column.
    """
    df = read_raw_drops(spark, path, pattern)
    matches = [r["path"] for r in df.select("path").take(2)]
    if not matches:
        raise FileNotFoundError(
            f"no member matches {pattern!r} under {path}"
        )
    if len(matches) > 1:
        raise ValueError(
            f"pattern {pattern!r} matches multiple members under {path}"
        )
    return df


def compact_bucket(
    spark: SparkSession,
    out_dir: str,
    bucket: int,
    target_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """K4 finalize/compaction (the COG-finalize analog,
    /root/reference/eugl/fmask.py:695-756): rewrite ONE bucket
    partition's small files into ≈target_bytes files.

    A pass writes ≤ ceil(P/4) files per bucket (one per salt of
    apply_pipeline's P-partition write); resume batches and streaming
    epochs pile them up and scans pay per-file open cost. This is the
    plain-parquet local analog of Iceberg's rewrite_data_files.
    The compacted copy is written to an underscore-prefixed sibling
    (Spark's partition discovery ignores `_*` paths), then the live
    directory is renamed ASIDE before the new one is renamed in, and
    only then deleted — at no point does only a half-written copy
    exist; a crash mid-swap leaves the data recoverable in `_compact_*`
    or `_old_*`. Two directory renames are still not one atomic
    operation: on an object store / Iceberg catalog this step is a
    metadata commit instead. Returns (files_before, files_after).
    """
    root = os.path.join(out_dir, "pages_out")
    bdir = os.path.join(root, f"bucket={bucket}")
    files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
    total = sum(os.path.getsize(os.path.join(bdir, f)) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    if n_out >= len(files):
        return (len(files), len(files))
    tmp = os.path.join(root, f"_compact_bucket={bucket}")
    old = os.path.join(root, f"_old_bucket={bucket}")
    shutil.rmtree(tmp, ignore_errors=True)  # stale crash leftovers
    shutil.rmtree(old, ignore_errors=True)
    spark.read.parquet(bdir).coalesce(n_out).write.mode("overwrite").parquet(tmp)
    os.rename(bdir, old)
    os.rename(tmp, bdir)
    shutil.rmtree(old)
    n_after = len([f for f in os.listdir(bdir) if f.endswith(".parquet")])
    return (len(files), n_after)


def compact_all(
    spark: SparkSession, out_dir: str, target_bytes: int = 128 * 1024 * 1024
) -> dict[int, tuple[int, int]]:
    """Finalize pass: compact every bucket partition (the run-end
    analog of the reference's per-granule finalize step). Returns
    {bucket: (files_before, files_after)} for buckets that changed."""
    root = os.path.join(out_dir, "pages_out")
    results: dict[int, tuple[int, int]] = {}
    if not os.path.isdir(root):
        # a run whose every batch failed never created the output dir;
        # finalize is then a no-op, not a traceback that hides the
        # lineage table explaining the failure
        return results
    for name in sorted(os.listdir(root)):
        if not name.startswith("bucket="):
            continue
        bucket = int(name.split("=", 1)[1])
        before, after = compact_bucket(spark, out_dir, bucket, target_bytes)
        if after < before:
            results[bucket] = (before, after)
    return results


def write_pages(df: DataFrame, target: str) -> None:
    """Partitioned write: Iceberg overwrite-partitions when the target
    is a table, dynamic-overwrite parquet otherwise (same semantics the
    lineage runner relies on). Table-name target without the Iceberg
    runtime errors rather than writing a parquet DIRECTORY named like
    the table (same hard-error contract as read_pages)."""
    if "/" not in target:
        if not iceberg_available(df.sparkSession):
            raise RuntimeError(
                f"write_pages({target!r}): looks like an Iceberg table "
                "name but the Iceberg runtime is not on the classpath"
            )
        df.writeTo(target).overwritePartitions()
        return
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(target)
    )
