"""End-to-end build_db parity tests.

Goldens from the reference (unittests_utils.py:207-334): 8 compounds,
point lookups, NOT_NULL tightening → 5 rows with specific CIDs skipped,
transform applied end-to-end, incremental manifest behavior.
"""

import os
import shutil

import pytest

from local_pubchem_db_spark.pipeline import PubChemDB, build_db

GOLD_INCHI_31040 = (
    "InChI=1S/C5H6O5.2Na/c6-3(5(9)10)1-2-4(7)8;;/h1-2H2,(H,7,8)(H,9,10);;/q;2*+1/p-2"
)


def make_base(tmp_path, sdf_dir):
    base = tmp_path / "base"
    (base / "sdf").mkdir(parents=True)
    for f in os.listdir(sdf_dir):
        shutil.copy(os.path.join(sdf_dir, f), base / "sdf" / f)
    return str(base)


def specs(xlogp3_not_null=False, xlogp3_create_like=None):
    s = {
        "columns": {
            "cid": {
                "SD_TAG": ["PUBCHEM_COMPOUND_CID"],
                "DTYPE": "integer",
                "NOT_NULL": True,
                "PRIMARY_KEY": True,
            },
            "inchikey": {
                "SD_TAG": ["PUBCHEM_IUPAC_INCHIKEY"],
                "DTYPE": "varchar",
                "NOT_NULL": True,
            },
            "InChI": {
                "SD_TAG": ["PUBCHEM_IUPAC_INCHI"],
                "DTYPE": "varchar",
                "NOT_NULL": True,
            },
            "xlogp3": {
                "SD_TAG": ["PUBCHEM_XLOGP3", "PUBCHEM_XLOGP3_AA"],
                "DTYPE": "real",
                "NOT_NULL": xlogp3_not_null,
            },
        }
    }
    if xlogp3_create_like:
        s["columns"]["xlogp3"]["CREATE_LIKE"] = xlogp3_create_like
    return s


def test_db_import(spark, sdf_dir, tmp_path):
    # unittests_utils.py:223-260
    base = make_base(tmp_path, sdf_dir)
    assert build_db(base, use_gzip=True, reset=True, db_specs=specs(), spark=spark) == 0

    db = PubChemDB(spark, base)
    assert db.compounds().count() == 8
    assert (
        db.sql("SELECT inchikey FROM compounds WHERE cid == 34516").collect()[0][0]
        == "SISXGVIKZQKGLA-UHFFFAOYSA-N"
    )
    assert (
        db.sql("SELECT xlogp3 FROM compounds WHERE cid == 31038").collect()[0][0]
        == 6.6
    )
    assert (
        db.sql("SELECT InChI FROM compounds WHERE cid == 31040").collect()[0][0]
        == GOLD_INCHI_31040
    )


def test_db_import_not_null_tightening(spark, sdf_dir, tmp_path):
    # unittests_utils.py:264-277 — 8 → 5 rows; 34516/31040/46774 skipped
    base = make_base(tmp_path, sdf_dir)
    assert (
        build_db(base, use_gzip=True, reset=True,
                 db_specs=specs(xlogp3_not_null=True), spark=spark) == 0
    )
    db = PubChemDB(spark, base)
    assert db.compounds().count() == 5
    cids = {r["cid"] for r in db.compounds().select("cid").collect()}
    assert cids == {31038, 31039, 34517, 34518, 46773}


def test_db_import_with_transform(spark, sdf_dir, tmp_path):
    # unittests_utils.py:279-334 — xlogp3 ** 2 end-to-end
    base = make_base(tmp_path, sdf_dir)
    assert (
        build_db(base, use_gzip=True, reset=True,
                 db_specs=specs(xlogp3_create_like="lambda __x: __x ** 2"),
                 spark=spark) == 0
    )
    db = PubChemDB(spark, base)
    assert db.compounds().count() == 8
    assert db.sql(
        "SELECT xlogp3 FROM compounds WHERE cid == 31038"
    ).collect()[0][0] == pytest.approx(6.6 ** 2)
    assert (
        db.sql("SELECT inchikey FROM compounds WHERE cid == 34516").collect()[0][0]
        == "SISXGVIKZQKGLA-UHFFFAOYSA-N"
    )


def test_manifest_and_incremental_resume(spark, sdf_dir, tmp_path):
    # utils.py:272-282,327-332 — second build ingests nothing new
    base = make_base(tmp_path, sdf_dir)
    assert build_db(base, use_gzip=True, reset=True, db_specs=specs(), spark=spark) == 0
    db = PubChemDB(spark, base)
    manifest = {r["filename"]: r for r in db.sdf_file().collect()}
    assert set(manifest) == {
        "cmps_00_02.sdf.gz", "cmps_03_05.sdf.gz", "cmps_06_07.sdf.gz",
    }
    # lowest/highest parsed from the filename (utils.py:330-331)
    assert manifest["cmps_00_02.sdf.gz"]["lowest_cid"] == 0
    assert manifest["cmps_00_02.sdf.gz"]["highest_cid"] == 2
    assert manifest["cmps_00_02.sdf.gz"]["n_compounds"] == 3
    assert manifest["cmps_06_07.sdf.gz"]["n_compounds"] == 2

    # Re-run without reset: anti-join prunes everything, counts unchanged.
    assert build_db(base, use_gzip=True, reset=False, db_specs=specs(), spark=spark) == 0
    assert db.compounds().count() == 8
    assert db.sdf_file().count() == 3


def test_indexes_built(spark, sdf_dir, tmp_path):
    base = make_base(tmp_path, sdf_dir)
    s = specs()
    s["columns"]["inchikey"]["WITH_INDEX"] = True
    assert build_db(base, use_gzip=True, reset=True, db_specs=s, spark=spark) == 0
    idx_path = os.path.join(base, "db", "idx_inchikey")
    assert os.path.exists(idx_path)
    idx = spark.read.parquet(idx_path)
    assert idx.columns == ["inchikey", "cid"]
    assert idx.count() == 8


def test_strict_cast_fails_on_malformed_int(spark, sdf_dir, tmp_path):
    # Python int("3.3") raises (utils.py:47-48); Spark's default cast would
    # truncate — the engine must fail the build instead (exit code 1,
    # utils.py:343-365).
    base = make_base(tmp_path, sdf_dir)
    bad_specs = {
        "columns": {
            "cid": {
                "SD_TAG": ["PUBCHEM_COMPOUND_CID"],
                "DTYPE": "integer",
                "PRIMARY_KEY": True,
            },
            # exact mass is a float string like "252.245..." — declaring it
            # integer must fail the build, like int("252.245") would.
            "exact_mass": {
                "SD_TAG": ["PUBCHEM_EXACT_MASS"],
                "DTYPE": "integer",
            },
        }
    }
    assert (
        build_db(base, use_gzip=True, reset=True, db_specs=bad_specs, spark=spark)
        == 1
    )


def test_crash_between_data_and_manifest_does_not_duplicate(
    spark, sdf_dir, tmp_path
):
    # The batch twin of tests/test_streaming.py's replay test: a crash
    # AFTER the compounds write but BEFORE the manifest commit leaves data
    # partitions with no manifest rows. The retry must re-select those
    # files and OVERWRITE their ingest_batch partitions — never append
    # duplicates (reference utils.py:322-332 rolls the file back; here the
    # partition is rewritten instead).
    base = make_base(tmp_path, sdf_dir)
    assert build_db(base, use_gzip=True, reset=True, db_specs=specs(), spark=spark) == 0
    db = PubChemDB(spark, base)
    assert db.compounds().count() == 8

    # simulate the crash: the manifest write never happened
    shutil.rmtree(db.manifest_path)
    assert (
        build_db(base, use_gzip=True, reset=False, db_specs=specs(), spark=spark) == 0
    )
    cids = sorted(r["cid"] for r in db.compounds().select("cid").collect())
    assert cids == [31038, 31039, 31040, 34516, 34517, 34518, 46773, 46774]
    assert db.sdf_file().count() == 3

    # and a normal incremental re-run after recovery stays a no-op
    assert (
        build_db(base, use_gzip=True, reset=False, db_specs=specs(), spark=spark) == 0
    )
    assert db.compounds().count() == 8


def lookup_specs(with_formula=True, xlogp3_not_null=False):
    """Columns for all five PubChemDB lookups; no indexes (keeps it quick)."""
    s = specs(xlogp3_not_null=xlogp3_not_null)
    cols = s["columns"]
    cols["InChIKey_1"] = {
        "SD_TAG": ["PUBCHEM_IUPAC_INCHIKEY"],
        "CREATE_LIKE": "lambda __x: __x.split('-')[0]",
        "DTYPE": "varchar",
    }
    cols["exact_mass"] = {"SD_TAG": ["PUBCHEM_EXACT_MASS"], "DTYPE": "real"}
    if with_formula:
        cols["molecular_formula"] = {
            "SD_TAG": ["PUBCHEM_MOLECULAR_FORMULA"],
            "DTYPE": "varchar",
        }
    return s


def _jobs_run_by(spark, fn):
    """(Spark jobs ``fn`` runs, its result). Jobs are counted with the
    status tracker under a job group of their own: a group left set on
    this thread by an earlier test would hide them from a count over the
    ungrouped jobs."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-run-by-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def test_lookups_are_plan_only_after_first_read(spark, sdf_dir, tmp_path):
    # After one read of a table state, the memoized schema makes every
    # lookup a single job (its collect) with no schema-inference job, and
    # register_views() runs no job at all.
    base = make_base(tmp_path, sdf_dir)
    assert (
        build_db(base, use_gzip=True, reset=True, db_specs=lookup_specs(), spark=spark)
        == 0
    )
    db = PubChemDB(spark, base)
    row = db.compounds().filter("cid = 31038").collect()[0]
    db.sdf_file().count()

    lookups = {
        "by_cid": lambda: db.by_cid(31038),
        "by_inchikey": lambda: db.by_inchikey(row["inchikey"]),
        "by_inchikey_prefix": lambda: db.by_inchikey_prefix(row["InChIKey_1"]),
        "mass_window": lambda: db.mass_window(row["exact_mass"]),
        "by_formula": lambda: db.by_formula(row["molecular_formula"]),
    }
    for name, lookup in lookups.items():
        n, rows = _jobs_run_by(spark, lambda: lookup().select("cid").collect())
        assert n == 1, f"{name} must run exactly one job"
        assert 31038 in {r["cid"] for r in rows}, name

    n, _ = _jobs_run_by(spark, db.register_views)
    assert n == 0, "register_views must not run a job"


def test_rebuild_under_live_db_reinfers_schema(spark, sdf_dir, tmp_path):
    # A reset rebuild with a layout that drops a column (and tightens
    # NOT-NULL) under the same PubChemDB: the memoized schema of the old
    # table state must not be served for the new one.
    base = make_base(tmp_path, sdf_dir)
    assert (
        build_db(base, use_gzip=True, reset=True, db_specs=lookup_specs(), spark=spark)
        == 0
    )
    db = PubChemDB(spark, base)
    assert "molecular_formula" in db.compounds().columns
    assert db.by_cid(34516).count() == 1

    new_specs = lookup_specs(with_formula=False, xlogp3_not_null=True)
    assert (
        build_db(base, use_gzip=True, reset=True, db_specs=new_specs, spark=spark)
        == 0
    )
    assert sorted(db.compounds().columns) == sorted(new_specs["columns"])
    assert db.by_cid(34516).count() == 0  # NOT-NULL xlogp3 drops it now
    got = [r.asDict() for r in db.by_cid(31038).collect()]
    assert len(got) == 1
    assert set(got[0]) == set(new_specs["columns"])
    assert got[0]["xlogp3"] == 6.6


def test_schema_memo_holds_one_entry_per_path(spark, sdf_dir, tmp_path):
    # Each rebuild is a new table state (new directory mtime); inserting
    # its schema drops the path's older states.
    from local_pubchem_db_spark.operators.util import _SCHEMA_MEMO

    base = make_base(tmp_path, sdf_dir)
    db = PubChemDB(spark, base)
    seen = set()
    for _ in range(3):
        assert (
            build_db(base, use_gzip=True, reset=True, db_specs=specs(), spark=spark)
            == 0
        )
        assert db.compounds().count() == 8
        seen.add(os.path.getmtime(db.compounds_path))
    assert len(seen) == 3, "each rebuild must be a distinct table state"
    keys = [k for k in _SCHEMA_MEMO if k[0] == db.compounds_path]
    assert keys == [(db.compounds_path, os.path.getmtime(db.compounds_path))]
