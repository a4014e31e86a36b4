"""Build pipeline: the Spark-native equivalent of the reference's
``build_db`` (reference utils.py:292-365) plus a query layer.

Lifecycle parity:
  glob *.sdf[.gz]              → path glob            (utils.py:307-308)
  manifest anti-join           → broadcast left_anti   (utils.py:272-282)
  per-record extract/cast/
  transform/NOT-NULL skip      → one declarative select + na.drop
                                                       (utils.py:59-155)
  INSERT INTO compounds        → parquet append        (utils.py:136-159)
  manifest row per file        → manifest append       (utils.py:327-332)
  deferred CREATE INDEX        → sorted covering
                                 projections           (utils.py:334-341)
  error taxonomy → exit code   → build_db return code  (utils.py:343-365)

Scale design notes:
- ALL pending files are processed in ONE Spark job (the reference loops
  file-by-file in Python). Parallelism is per-file for .gz and per-split
  for plain text; the manifest is computed from the same DataFrame with a
  map-side-combinable count per source file.
- The NOT-NULL filter runs before the sink (filter-before-sink,
  utils.py:140-155) and Catalyst pushes it toward the scan.
- Secondary indexes (WITH_INDEX) have no SQLite analog in Spark; the
  equivalent physical designs, all built-in: the main table is written
  range-partitioned + sorted by the primary key (parquet min/max row-group
  stats → point/range lookups prune), and each indexed column gets a
  sorted covering projection ``idx_<col>`` (col + pk) — the columnar
  analog of CREATE INDEX (utils.py:334-341), enabling stats-pruned
  lookups on that column at a small storage cost.
- Exactly-once: batch mode writes each file's rows into an
  ``ingest_batch=<file>`` partition under dynamic partition overwrite and
  commits the manifest LAST. A crash between the two writes leaves orphan
  partitions with no manifest row; the retry re-selects exactly those
  files and OVERWRITES their partitions instead of appending duplicates —
  the no-duplicates guarantee of the reference's per-file transaction
  (utils.py:322-332) without a transactional store.
  ``local_pubchem_db_spark.streaming.ingest`` adds checkpointed file
  tracking on the same sink contract.
- Serving: every table read goes through ``operators.util.read_parquet``,
  which memoizes the parquet schema per (path, directory mtime). After the
  first read of a table state, a ``PubChemDB`` lookup is plan-only: one
  Spark job (its collect), no schema-inference job. Only the schema is
  memoized, never a DataFrame, so the file listing is fresh on every call,
  and a rebuild changes the directory mtime, so it is re-inferred.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import traceback
from timeit import default_timer as _timer
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from local_pubchem_db_spark.operators.util import driver_rows_df, read_parquet
from local_pubchem_db_spark.plans.layout import (
    CompiledLayout,
    compile_layout,
    select_exprs,
)
from local_pubchem_db_spark.sources.manifest import (
    MANIFEST_SCHEMA,
    manifest_rows_for,
    pending_files,
    read_manifest,
)
from local_pubchem_db_spark.sources.sdf import read_sdf


def compounds_plan(sdf: DataFrame, layout: CompiledLayout) -> DataFrame:
    """The logical plan for the compounds table from parsed SDF records.

    select(coalesce → strict cast → transform) per layout column, then the
    NOT-NULL row skip (utils.py:140-155) as na.drop.
    """
    projected = sdf.select(
        F.col("source_file"), *select_exprs(layout, F.col("tags"))
    )
    if layout.not_null_cols:
        projected = projected.na.drop(subset=layout.not_null_cols)
    return projected


class PubChemDB:
    """Query layer over a built database directory.

    Directory layout: ``<base>/db/compounds`` (parquet),
    ``<base>/db/sdf_file`` (parquet manifest), ``<base>/db/idx_<col>``
    (sorted covering projections for WITH_INDEX columns).

    Lookups are plan-only after the first read of a table state: the
    tables are read through ``read_parquet``, whose memo supplies the
    schema, so each lookup runs one Spark job and ``register_views`` none.
    The memo holds the schema and not the DataFrame, so every call lists
    the files again and sees rows appended by a later build, and a
    rebuild (new directory mtime) re-infers the schema.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.db_dir = os.path.join(base_dir, "db")
        self.compounds_path = os.path.join(self.db_dir, "compounds")
        self.manifest_path = os.path.join(self.db_dir, "sdf_file")

    # -- tables ---------------------------------------------------------
    def compounds(self) -> DataFrame:
        df = read_parquet(self.spark, self.compounds_path)
        # Streaming builds partition by ingest_batch for idempotent batch
        # replay (streaming/ingest.py); it is sink bookkeeping, not data.
        return df.drop("ingest_batch") if "ingest_batch" in df.columns else df

    def sdf_file(self) -> DataFrame:
        return read_manifest(self.spark, self.manifest_path)

    def register_views(self) -> None:
        """Register compounds / sdf_file as temp views for spark.sql."""
        self.compounds().createOrReplaceTempView("compounds")
        self.sdf_file().createOrReplaceTempView("sdf_file")

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)

    # -- reference lookup workloads (README.md:76, tier B) --------------
    def by_cid(self, cid: int) -> DataFrame:
        """Point lookup on the primary key (unittests_utils.py:256)."""
        return self.compounds().filter(F.col("cid") == cid)

    def by_inchikey(self, inchikey: str) -> DataFrame:
        return self.compounds().filter(F.col("InChIKey") == inchikey)

    def by_inchikey_prefix(self, prefix: str) -> DataFrame:
        """Prefix lookup — the InChIKey_1 blocking-key workload."""
        return self.compounds().filter(F.col("InChIKey_1") == prefix)

    def mass_window(self, center: float, ppm: float = 5.0) -> DataFrame:
        """Mass-window range query on exact_mass (README.md:76)."""
        tol = center * ppm / 1e6
        return self.compounds().filter(
            F.col("exact_mass").between(center - tol, center + tol)
        )

    def by_formula(self, formula: str) -> DataFrame:
        return self.compounds().filter(F.col("molecular_formula") == formula)


def build_db(
    base_dir: str,
    use_gzip: bool,
    reset: bool,
    db_specs: dict[str, Any],
    spark: Optional[SparkSession] = None,
    allow_python_transforms: bool = False,
) -> int:
    """Spark-native ``build_db`` with the reference's signature and return
    code contract (utils.py:292-365): 0 on success, 1 on any failure.

    ``allow_python_transforms`` defaults False: a layout file is data, not
    code, and every CREATE_LIKE in the shipped default layout translates
    to native expressions anyway. The eval-based pandas-UDF fallback is an
    explicit opt-in (the CLI passes True for drop-in parity with the
    reference, which evals layout lambdas unconditionally).
    """
    from local_pubchem_db_spark.session import get_spark

    spark = spark or get_spark()
    db = PubChemDB(spark, base_dir)
    try:
        layout = compile_layout(db_specs, allow_python_transforms=allow_python_transforms)

        if reset:
            for path in (db.compounds_path, db.manifest_path):
                if os.path.exists(path):
                    shutil.rmtree(path)
            for idx in _glob.glob(os.path.join(db.db_dir, "idx_*")):
                shutil.rmtree(idx)
        os.makedirs(db.db_dir, exist_ok=True)

        pattern = "*.sdf.gz" if use_gzip else "*.sdf"
        sdf_files = _glob.glob(os.path.join(base_dir, "sdf", pattern))
        print("Sdf-files to process (before filtering): %d" % len(sdf_files))
        sdf_files = pending_files(spark, db.manifest_path, sdf_files)
        print("Sdf-files to process (after filtering): %d" % len(sdf_files))

        if sdf_files:
            start = _timer()
            parsed = read_sdf(spark, sdf_files)
            rows = compounds_plan(parsed, layout)
            # Cache the batch so compounds write + manifest count share one
            # materialization (two actions over the same plan).
            rows.persist()
            try:
                # Idempotent retry (the batch twin of streaming/ingest.py):
                # per-source-file partitions + dynamic overwrite + manifest
                # last. See the module docstring's exactly-once note.
                (
                    rows.withColumn("ingest_batch", F.col("source_file"))
                    .drop("source_file")
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("ingest_batch")
                    .parquet(db.compounds_path)
                )
                # The manifest rows are computed once (one row per file, a
                # tiny collect) and the same rows are written and logged,
                # so current_date() is evaluated once per build.
                logged = (
                    manifest_rows_for(rows.select("source_file"), sdf_files)
                    .orderBy("filename")
                    .collect()
                )
                driver_rows_df(spark, logged, MANIFEST_SCHEMA).write.mode(
                    "append"
                ).parquet(db.manifest_path)
                # A17 parity (utils.py:319,324,134,162-163): per-file
                # progress + row counts, then the batch wall time. Files
                # ingest concurrently in ONE job here (the reference loops
                # them serially), so the wall time is per batch, not per
                # file.
                for ii, r in enumerate(logged):
                    print(
                        "Processed sdf-file: %s (%d/%d): %d compounds"
                        % (r["filename"], ii + 1, len(logged), r["n_compounds"])
                    )
                print(
                    "Extraction and insertion of the information took %.3fsec"
                    % (_timer() - start)
                )
            finally:
                rows.unpersist()

        build_indexes(spark, db, layout)
        return 0
    except Exception as err:  # noqa: BLE001 - reference-parity error taxonomy
        print(err.args[0] if err.args else repr(err))
        traceback.print_exc()
        return 1


def build_indexes(spark: SparkSession, db: PubChemDB, layout: CompiledLayout) -> None:
    """Deferred 'index' build after bulk load (utils.py:334-341).

    For each WITH_INDEX column, write a covering projection (indexed col +
    primary key) range-partitioned and sorted by the indexed column —
    parquet min/max stats then prune point/range lookups to a handful of
    row groups, the columnar analog of a B-tree index. Built after the full
    load, like the reference's deferred CREATE INDEX bulk-load pattern.
    """
    if not layout.indexed_cols or not os.path.exists(db.compounds_path):
        return
    pk = layout.primary_key
    # one cached scan feeds every index projection instead of re-reading
    # the table once per WITH_INDEX column
    needed = set(layout.indexed_cols) | ({pk} - {None})
    compounds = db.compounds().select(*sorted(needed)).persist()
    try:
        for colname in layout.indexed_cols:
            idx_path = os.path.join(db.db_dir, f"idx_{colname}")
            if os.path.exists(idx_path):
                shutil.rmtree(idx_path)
            cols = [colname] if pk in (None, colname) else [colname, pk]
            (
                compounds.select(*cols)
                .repartitionByRange(F.col(colname))
                .sortWithinPartitions(colname)
                .write.mode("overwrite")
                .parquet(idx_path)
            )
            print("Create index on '%s'." % colname)
    finally:
        compounds.unpersist()
