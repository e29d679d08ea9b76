"""Ingest-layer tests: header inference (metadata path), parse semantics,
heterogeneous union, and the staging≡clean materialization invariant
(SURVEY §3.3)."""

from __future__ import annotations

import pytest

from healthcare_aihw_etl_pipeline_spark.sources import fixtures
from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
    clean_aggregate,
    compile_sheets,
    header_row,
    infer_schema,
    load_two_tier,
    norm_state_py,
    parse_sheet,
)


def test_norm_state_py():
    assert norm_state_py("nsw") == "NSW"
    assert norm_state_py(" N.S.W. ") == "NSW"
    assert norm_state_py("Vic") == "VIC"
    assert norm_state_py("Total") is None
    assert norm_state_py(None) is None
    assert norm_state_py(123) is None


def test_header_row_detection():
    rows, _ = fixtures.SHEET1
    assert header_row(rows) == 2
    rows2, _ = fixtures.SHEET2
    assert header_row(rows2) == 1
    bad, _ = fixtures.SHEET3_INVALID
    assert header_row(bad) is None
    # bound: a state row beyond 40 rows is not found
    deep = [["x"]] * 41 + [["NSW", "VIC"]]
    assert header_row(deep) is None


def test_infer_schema_roles():
    schema = infer_schema(fixtures.SHEET1[0])
    assert schema is not None
    assert schema.id_cols == ["category", "principal_diagnosis", "care_type"]
    assert schema.state_cols == ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT", "AUST"]
    assert "total" not in schema.colmap  # helper column dropped

    schema2 = infer_schema(fixtures.SHEET2[0])
    assert schema2.id_cols == ["category", "hospital_type"]

    assert infer_schema(fixtures.SHEET3_INVALID[0]) is None


def test_infer_schema_duplicate_columns_keep_first():
    rows = [["", "NSW", "nsw ", "VIC", "Care type", "care type"], ["a", "1", "2", "3", "b", "c"]]
    schema = infer_schema(rows)
    assert schema.state_cols == ["NSW", "VIC"]
    # duplicate normalized names are dropped positionally
    assert schema.colmap == ["category", "NSW", None, "VIC", "care_type", None]


def test_parse_sheet_semantics(spark):
    tidy = parse_sheet(spark, *fixtures.SHEET1)
    rows: dict[tuple, float] = {}
    for r in tidy.collect():
        key = (r.category, r.principal_diagnosis, r.state)
        rows[key] = rows.get(key, 0.0) + r.separations
    # dirty tuple artifacts cleaned: both Injury spellings merge to one key
    assert rows[("Injury", "S00-T98", "NSW")] == 12.0  # 10 + 2
    assert rows[("Injury", "S00-T98", "QLD")] == 4.0  # 'n.p.' dropped, 4 kept
    assert rows[("Cancer", "C00-D48", "TAS")] == 0.5
    # pandas parity: within-sheet missing id cell → literal "nan"
    assert rows[("Mental health", "nan", "NSW")] == 5.0
    # null first-id row dropped entirely
    assert not any(k[1] == "X40" for k in rows)
    # year stamped
    assert tidy.select("year").distinct().collect()[0][0] == 2022


def test_parse_sheet_invalid_returns_none(spark):
    assert parse_sheet(spark, *fixtures.SHEET3_INVALID) is None


def test_compile_heterogeneous_union(spark):
    tidy = compile_sheets(spark, fixtures.SHEETS)
    cols = set(tidy.columns)
    assert {"category", "principal_diagnosis", "care_type", "hospital_type",
            "state", "separations", "year"} == cols
    # sheet2 rows have NULL principal_diagnosis (union fill), not "nan"
    s2 = tidy.where("year = 2023")
    assert s2.where("principal_diagnosis IS NULL").count() == s2.count()
    # sheet1 rows have NULL hospital_type
    s1 = tidy.where("year = 2022")
    assert s1.where("hospital_type IS NULL").count() == s1.count()


def test_compile_no_valid_sheets_raises(spark):
    with pytest.raises(RuntimeError):
        compile_sheets(spark, [fixtures.SHEET3_INVALID])


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(map(repr, (tuple(r) for r in df.select(*cols).collect())))


def test_staging_clean_invariant(spark, tmp_path):
    """SURVEY §3.3: clean computed at load time must equal on-the-fly
    aggregation of staging read back from storage (both fill-then-group)."""
    tidy = compile_sheets(spark, fixtures.SHEETS)
    staging_path, clean_path = load_two_tier(tidy, str(tmp_path))

    clean_loaded = spark.read.parquet(clean_path)
    staging_loaded = spark.read.parquet(staging_path)
    assert _sorted_rows(clean_loaded) == _sorted_rows(clean_aggregate(staging_loaded))


@pytest.mark.parametrize("shape", ["all_null_dim", "no_dims"])
def test_load_two_tier_dim_edge_cases(spark, tmp_path, shape):
    """Staging keeps every tidy column, an all-null dim included; clean
    drops the all-null dim, still gets written when there are no dims,
    and equals the aggregation of staging read back."""
    from pyspark.sql import functions as F

    tidy = compile_sheets(spark, fixtures.SHEETS)
    if shape == "all_null_dim":
        tidy = tidy.withColumn("ghost_dim", F.lit(None).cast("string"))
    else:
        tidy = tidy.select("state", "separations", "year")
    staging_path, clean_path = load_two_tier(tidy, str(tmp_path))
    staging = spark.read.parquet(staging_path)
    clean = spark.read.parquet(clean_path)
    assert _sorted_rows(staging) == _sorted_rows(tidy)
    assert "ghost_dim" not in clean.columns
    assert _sorted_rows(clean) == _sorted_rows(clean_aggregate(staging))


def test_parse_sheet_header_only(spark):
    """A sheet with a header and no body rows parses to an empty frame
    with the schema a non-empty sheet of the same header gets."""
    header = ["", "NSW", "VIC"]
    empty = parse_sheet(spark, [header], 2020)
    full = parse_sheet(spark, [header, ["a", 1, 2]], 2020)
    assert empty.collect() == []
    assert empty.schema == full.schema


@pytest.mark.parametrize(
    "rows, expected",
    [
        # an all-null state column yields no measures, not a type change
        (
            [["", "NSW", "VIC"], ["a", None, 1], ["b", None, "2"]],
            [("a", "VIC", 1.0, 2020), ("b", "VIC", 2.0, 2020)],
        ),
        # short rows pad with NULL; cells past the header are ignored
        (
            [["", "NSW", "VIC"], ["a", 1], ["b", 2.5, "x", "extra"]],
            [("a", "NSW", 1.0, 2020), ("b", "NSW", 2.5, 2020)],
        ),
    ],
    ids=["all_null_state", "ragged_rows"],
)
def test_parse_sheet_sparse_cells(spark, rows, expected):
    tidy = parse_sheet(spark, rows, 2020)
    assert dict(tidy.dtypes)["separations"] == "double"
    assert sorted(tuple(r) for r in tidy.collect()) == expected


def test_parse_sheet_runs_no_python_worker(spark):
    """The sheet frame is built from Arrow on the driver: its scan is a
    JVM-only local relation, with no PythonRDD re-pickling rows."""
    lineage = parse_sheet(spark, *fixtures.SHEET1)._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage


def test_compile_and_load_job_count(spark, tmp_path):
    """compile + load computes tidy once: the staging write (which also
    counts non-null dims), the staged table's footer read, and clean's
    shuffle map and write — 4 jobs."""
    sc = spark.sparkContext
    group = f"ingest-job-count-{id(tmp_path)}"
    sc.setJobGroup(group, "compile_sheets + load_two_tier")
    try:
        load_two_tier(compile_sheets(spark, fixtures.SHEETS), str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_clean_aggregate_drops_all_null_dims(spark):
    from pyspark.sql import functions as F

    tidy = compile_sheets(spark, fixtures.SHEETS).withColumn(
        "ghost_dim", F.lit(None).cast("string")
    )
    clean = clean_aggregate(tidy)
    # an all-null dim is excluded from grouping (main.py:160 notna().any())
    assert "ghost_dim" not in clean.columns


def test_distributed_compile_matches_driver_compile(spark):
    """SURVEY §4.2 extension #2: the mapInPandas landing-zone path must
    produce exactly the rows of the driver-side compile (same columns,
    same multiset of values) on the fixture corpus — every quirk (junk
    preamble, unnamed headers, total drop, tuple artifacts, coerce-casts,
    ragged rows, invalid sheet, heterogeneous dims) included."""
    from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
        compile_sheets_distributed,
    )

    driver = compile_sheets(spark, fixtures.SHEETS)
    dist = compile_sheets_distributed(spark, fixtures.SHEETS, partitions=4)
    assert sorted(driver.columns) == sorted(dist.columns)
    cols = sorted(driver.columns)
    a = sorted(map(repr, (tuple(r) for r in driver.select(*cols).collect())))
    b = sorted(map(repr, (tuple(r) for r in dist.select(*cols).collect())))
    assert a == b


def test_distributed_compile_no_valid_sheets_raises(spark):
    from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
        compile_sheets_distributed,
    )

    with pytest.raises(RuntimeError):
        compile_sheets_distributed(spark, [fixtures.SHEET3_INVALID])
