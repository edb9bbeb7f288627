"""Bucketed corpus layout: shuffle-free host-key joins and rollups.

The recurring cost of a 10^12-document corpus is not any single query
— it is that EVERY host-keyed operation (per-host quality rollups,
spam-host gating, leakage-safe host splits, web-graph joins) re-pays a
full-corpus shuffle to co-locate rows by host. Storing the corpus
bucketed by host pays that shuffle ONCE at write time; every later
host join or aggregation then reads pre-co-located buckets and the
Exchange disappears from the plan (gated in tests/test_bucketed.py).

The bucket function is Spark's own shuffle hash (Murmur3 via
``bucketBy``), which is exactly why downstream joins line up: a scan
of bucket *i* contains precisely the rows a shuffle on the same key
would have routed to reducer *i*. On a production deployment this
layout is the Iceberg ``bucket(N, host)`` partition transform (plus
storage-partitioned joins); Iceberg jars are absent here (see
sources/pages.py), so the local evidence uses Spark datasource
bucketed tables — same hash, same shuffle-elimination machinery, and
the layout contract (N buckets on the host key) transfers verbatim.

Reference anchor: the reference packages per-granule outputs once so
every downstream QA task reads them without re-keying
(/root/reference/eugl/fmask.py:695-756, the COG finalize step); this
module is that idea applied to the shuffle instead of the file format.

Salting interplay: the PIPELINE's transient salt
(pipeline.py::_salt, url-hash within a host bucket) defuses hot-host
skew inside one job's tasks and is dropped before output; THIS layout
is about the durable table. A pathologically hot host still lands in
one bucket here — bucket counts should be sized like shuffle
partitions (hundreds to thousands at 100 TB), and per-host rollups on
a bucketed read still get map-side partial aggregation within the
bucket, so the skew exposure is one bucket's scan, not a shuffle
straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eugl_spark.functions.hosts import host_of

# Default bucket count for durable tables. At test scale it matches
# the shuffle-partition default; at 100 TB size it like you would size
# shuffle partitions (the write is one full shuffle either way, so
# there is no reason to under-bucket a table joined for months).
DEFAULT_BUCKETS: int = 32


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach the canonical ``host`` column (THE shared derivation,
    functions/hosts.py — one definition across pipeline, oracles and
    this layout; a second regex here would eventually disagree)."""
    return df.withColumn("host", host_of(F.col(url_col)))


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    key: str = "host",
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as an external parquet table bucketed by ``key``.

    External (``option("path", ...)``) so callers — tests, bench,
    multi-job pipelines — control the storage location instead of the
    session-static warehouse dir; the catalog entry carries the bucket
    spec, the files carry their bucket id in the name, and
    ``attach_bucketed`` can re-register the same files after a session
    restart. ``sort_cols`` additionally sorts within each bucket file
    (merge-joins skip their sort when bucket files are single and
    sorted; we don't rely on that, it's a free bonus when compaction
    leaves one file per bucket).
    """
    if key not in df.columns:
        raise ValueError(
            f"write_bucketed: bucket key {key!r} not in columns {df.columns}"
        )
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, key)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.option("path", path).saveAsTable(name)


def attach_bucketed(
    spark: SparkSession,
    name: str,
    path: str,
    schema_ddl: str,
    n_buckets: int = DEFAULT_BUCKETS,
    key: str = "host",
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Re-register an existing bucketed layout in a fresh session.

    The in-memory catalog forgets tables at session end but the files
    and their bucket ids survive; this is the resume contract for the
    LAYOUT (the data-level resume contract lives in lineage.py). The
    bucket spec in the DDL must match the spec the files were written
    with — Spark trusts the catalog entry, so a wrong ``n_buckets``
    here would silently mis-route bucket-pruned reads; callers should
    treat (path, n_buckets, key) as one versioned unit. On Iceberg the
    table metadata carries this and the problem disappears.
    """
    sorted_clause = (
        f"SORTED BY ({', '.join(sort_cols)})" if sort_cols else ""
    )
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {name} ({schema_ddl})
        USING PARQUET
        CLUSTERED BY ({key}) {sorted_clause} INTO {n_buckets} BUCKETS
        LOCATION '{path}'
        """
    )


def schema_ddl(df: DataFrame) -> str:
    """DDL column list for ``attach_bucketed`` from a frame's schema."""
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def drop_table(spark: SparkSession, name: str) -> None:
    """Drop the catalog entry (external files stay on disk)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
