"""Ingest manifest: the ``sdf_file`` table (reference utils.py:222-227).

One row per fully-ingested file — the bookkeeping that makes builds
incremental and resumable. The reference keeps it in SQLite and anti-joins
in Python (utils.py:272-282); here it is a small Parquet table and the
anti-join is a broadcast ``left_anti`` — at 100 TB the manifest stays tiny
(one row per input shard), so pruning already-ingested files never
shuffles the data side.

Schema parity (utils.py:222-227, 327-332): filename is the basename
(primary key), lowest_cid / highest_cid are parsed from the filename
pattern ``<stem>_<low>_<high>.<ext>`` (the reference inserts the split
strings and lets SQLite affinity coerce; we cast explicitly),
date_added = DATE('now') in UTC, n_compounds = rows actually written after
the NOT-NULL skip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from local_pubchem_db_spark.operators.util import driver_rows_df, read_parquet

MANIFEST_SCHEMA = StructType(
    [
        StructField("filename", StringType(), nullable=False),
        StructField("lowest_cid", LongType(), nullable=True),
        StructField("highest_cid", LongType(), nullable=True),
        StructField("date_added", StringType(), nullable=False),
        StructField("n_compounds", LongType(), nullable=False),
    ]
)


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Read the manifest table; empty DataFrame when absent. Streaming
    builds add an ingest_batch partition column (idempotent batch replay,
    streaming/ingest.py) — sink bookkeeping, dropped here."""
    if _exists(manifest_path):
        df = read_parquet(spark, manifest_path)
        if "ingest_batch" in df.columns:
            df = df.drop("ingest_batch")
        return df.select(*[f.name for f in MANIFEST_SCHEMA.fields])
    return driver_rows_df(spark, [], MANIFEST_SCHEMA)


def pending_files(
    spark: SparkSession, manifest_path: str, candidate_files: list[str]
) -> list[str]:
    """Files whose basename is not yet in the manifest, sorted.

    Reference parity: get_sdf_files_not_in_db (utils.py:272-282) + the
    sorted-order processing guarantee (utils.py:282). The file list is tiny
    metadata (one entry per shard) so the anti-join is a broadcast join; at
    scale this is the partition-pruning analog — ingested shards are never
    re-read.
    """
    if not candidate_files:
        return []
    if not _exists(manifest_path):
        # fresh build / post-reset: nothing is ingested yet — skip the
        # anti-join entirely (the empty-manifest join is semantically a
        # no-op but costs the session's first-job startup, ~4 s cold)
        return sorted(candidate_files)
    manifest = read_manifest(spark, manifest_path).select("filename")
    files_df = driver_rows_df(
        spark,
        [(f, os.path.basename(f)) for f in candidate_files],
        "path string, filename string",
    )
    rows = (
        files_df.join(F.broadcast(manifest), on="filename", how="left_anti")
        .select("path")
        .collect()
    )
    return sorted(r["path"] for r in rows)


def manifest_rows_for(
    compounds_with_file: DataFrame, filenames: list[str]
) -> DataFrame:
    """Compute manifest rows from ingested data: one row per source file.

    ``compounds_with_file`` must carry a ``source_file`` basename column.
    lowest/highest cid come from the *filename* (reference utils.py:330-331
    parses ``Compound_<low>_<high>.sdf.gz``), n_compounds from the data.
    Files that produced zero surviving rows still get a manifest row (the
    reference inserts n_inserted=0 rows too).
    """
    spark = compounds_with_file.sparkSession
    counts = (
        compounds_with_file.groupBy("source_file")
        .agg(F.count(F.lit(1)).alias("n_compounds"))
    )
    all_files = driver_rows_df(
        spark,
        [(os.path.basename(f),) for f in filenames],
        "source_file string",
    )
    stem = F.split(F.col("source_file"), r"\.").getItem(0)
    return (
        all_files.join(counts, on="source_file", how="left")
        .select(
            F.col("source_file").alias("filename"),
            F.split(stem, "_").getItem(1).cast(LongType()).alias("lowest_cid"),
            F.split(stem, "_").getItem(2).cast(LongType()).alias("highest_cid"),
            F.date_format(F.current_date(), "yyyy-MM-dd").alias("date_added"),
            F.coalesce(F.col("n_compounds"), F.lit(0)).cast(LongType()).alias("n_compounds"),
        )
    )


def _exists(path: str) -> bool:
    if "://" not in path:
        return os.path.exists(path)
    return True  # remote paths: let the reader raise if truly absent
