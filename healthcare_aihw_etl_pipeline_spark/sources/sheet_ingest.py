"""Header-sniffing, dynamic-schema wide-sheet ingestion (SURVEY §1.4) —
the reference's `parse_sheet` pipeline (/root/reference/main.py:48-131)
re-expressed as driver-side schema inference + distributed DataFrame
algebra.

Split of responsibilities, chosen for the Spark execution model:
- *Schema inference* (header-row detection, column-role classification,
  positional renames, validity predicate) runs on the driver over the
  first ≤40 rows of each sheet — metadata-sized work, pure Python,
  unit-testable.
- *Data transformation* (clean-text regexes, numeric coercion, unpivot,
  null filtering, year stamping, heterogeneous union, fill-then-group
  aggregation) is lazy DataFrame algebra — Catalyst expressions only, so
  the same code path scales from one worksheet to a 100 TB landing zone
  of wide files (each sheet's rows can come from any distributed source;
  inference needs only the tiny header slice).

Pandas-quirk parity (deliberately reproduced, per SURVEY §7.3 hard part 1):
- empty header cells are named ``Unnamed: N`` before slugging (pandas
  read_excel behavior);
- duplicate columns keep the first occurrence (/root/reference/main.py:79);
- `_clean_text` stringifies missing id-cells to the literal ``"nan"``
  (pandas ``astype(str)`` on NaN, /root/reference/main.py:60-68) — nulls
  introduced *later* by the heterogeneous union stay NULL and are filled
  to ``""`` before grouping (/root/reference/main.py:161-162).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.functions.scalar import (
    STATE_CODES,
    clean_text,
    slug,
    try_double,
)
from healthcare_aihw_etl_pipeline_spark.operators.relational import (
    dynamic_agg,
    union_by_name,
)
from healthcare_aihw_etl_pipeline_spark.sources.sinks import (
    write_table,
    write_table_observed,
)

# Fixed output columns of the tidy fact table (/root/reference/README.md:93-105).
FIXED = {"year", "state", "separations"}

HEADER_SCAN_ROWS = 40  # /root/reference/main.py:50


def norm_state_py(cell: object) -> str | None:
    """Driver-side twin of functions.scalar.norm_state
    (/root/reference/main.py:42-45)."""
    s = re.sub(r"[^A-Z]", "", str(cell).upper())
    return s if s in STATE_CODES else None


def header_row(rows: Sequence[Sequence[object]]) -> int | None:
    """F8 — first of the top 40 rows containing ≥2 recognizable state codes
    (/root/reference/main.py:48-53)."""
    for i, row in enumerate(rows[:HEADER_SCAN_ROWS]):
        if sum(1 for v in row if v is not None and norm_state_py(v)) >= 2:
            return i
    return None


@dataclass
class SheetSchema:
    """Inferred roles for one sheet's columns."""

    header_idx: int
    id_cols: list[str] = field(default_factory=list)
    state_cols: list[str] = field(default_factory=list)
    # positional mapping raw-column-index -> output name (None = dropped)
    colmap: list[str | None] = field(default_factory=list)

    @property
    def valid(self) -> bool:
        """F9 — ≥2 state columns and ≥1 id column
        (/root/reference/main.py:115-116)."""
        return len(self.state_cols) >= 2 and len(self.id_cols) >= 1


def infer_schema(rows: Sequence[Sequence[object]]) -> SheetSchema | None:
    """Column-role inference (/root/reference/main.py:78-116).

    Header cells that normalize to a state code become value columns;
    everything else becomes a slugged id column, with positional renaming
    of unnamed columns (first → ``category``, next → ``principal_diagnosis``
    then ``dimension_N``) and the helper column ``total`` dropped.
    """
    hdr = header_row(rows)
    if hdr is None:
        return None
    header = list(rows[hdr])

    # pandas-style naming of empty header cells: "Unnamed: N".
    raw_names = [
        f"Unnamed: {i}" if (c is None or str(c).strip() == "") else str(c)
        for i, c in enumerate(header)
    ]

    schema = SheetSchema(header_idx=hdr)
    seen: set[str] = set()
    names: list[str | None] = []
    for name in raw_names:
        st = norm_state_py(name)
        out: str | None
        if st:
            out = st
        else:
            out = slug(name)
        if out in seen:  # P1: duplicate columns keep first occurrence
            names.append(None)
            continue
        seen.add(out)
        names.append(out)
        if st:
            schema.state_cols.append(st)
        else:
            schema.id_cols.append(out)

    # P3: positional semantic renames of unnamed id columns.
    renames: dict[str, str] = {}
    if schema.id_cols and schema.id_cols[0].startswith("unnamed"):
        renames[schema.id_cols[0]] = "category"
        schema.id_cols[0] = "category"
    for idx in range(1, len(schema.id_cols)):
        col = schema.id_cols[idx]
        if col.startswith("unnamed"):
            new = (
                "principal_diagnosis"
                if "principal_diagnosis" not in schema.id_cols
                else f"dimension_{idx}"
            )
            renames[col] = new
            schema.id_cols[idx] = new
    names = [renames.get(n, n) if n else None for n in names]

    # P4: drop the helper column "total" (/root/reference/main.py:111-113).
    if "total" in schema.id_cols:
        schema.id_cols.remove("total")
        names = [None if n == "total" else n for n in names]

    schema.colmap = names
    return schema if schema.valid else None


def _cell_str(row: Sequence[object], i: int) -> str | None:
    """Cell ``i`` of a possibly ragged row as a string; missing → None."""
    v = row[i] if i < len(row) else None
    return None if v is None else str(v)


def parse_sheet(
    spark: SparkSession,
    rows: Sequence[Sequence[object]],
    year: int,
) -> DataFrame | None:
    """Parse one wide sheet into the tidy long form
    (/root/reference/main.py:72-131): returns columns
    ``*id_cols, state, separations, year`` or None for invalid sheets.

    The rows below the inferred header become a string-typed wide frame
    built from an Arrow table (one ``string`` column per kept column,
    cells stringified with ``str``, None stays NULL, ragged rows padded
    with NULL), so the scan is a JVM-only local relation: no Python
    worker re-pickles rows the driver already holds. Everything after it
    runs as DataFrame algebra:
    F1 null-drop on the first id column → X2 clean-text on id columns
    (missing → literal "nan", pandas parity) → X3 coerce-cast on state
    columns → R1 unpivot → F2 drop null measures → P6 year stamp.
    """
    schema = infer_schema(rows)
    if schema is None:
        return None

    kept = [(i, n) for i, n in enumerate(schema.colmap) if n is not None]
    body = rows[schema.header_idx + 1 :]
    columns = [
        pa.array([_cell_str(r, i) for r in body], type=pa.string()) for i, _ in kept
    ]
    wide = spark.createDataFrame(
        pa.Table.from_arrays(columns, names=[n for _, n in kept])
    )

    first_id = schema.id_cols[0]
    wide = wide.where(F.col(first_id).isNotNull())  # F1

    cleaned_cols = []
    for c in wide.columns:
        if c in schema.id_cols:
            # pandas astype(str) turns NaN into the literal "nan".
            cleaned_cols.append(
                F.when(F.col(c).isNull(), F.lit("nan"))
                .otherwise(clean_text(F.col(c)))
                .alias(c)
            )
        else:
            cleaned_cols.append(try_double(c).alias(c))  # X3
    wide = wide.select(*cleaned_cols)

    tidy = (
        wide.unpivot(  # R1
            schema.id_cols,
            schema.state_cols,
            "state",
            "separations",
        )
        .where(F.col("separations").isNotNull())  # F2
        .withColumn("year", F.lit(int(year)))  # P6
    )
    return tidy


def compile_sheets(
    spark: SparkSession,
    sheets: Sequence[tuple[Sequence[Sequence[object]], int]],
) -> DataFrame:
    """U1 — parse every (rows, year) sheet and union by name, NULL-filling
    missing columns (`pd.concat`, /root/reference/main.py:135-151)."""
    frames = [
        df
        for rows, year in sheets
        if (df := parse_sheet(spark, rows, year)) is not None
    ]
    if not frames:
        raise RuntimeError("No valid data extracted - parsing rules may need an update.")
    return union_by_name(frames)


# ---------------------------------------------------------------------------
# Distributed ingest (SURVEY §4.2 extension #2): the same parse, but with
# the per-sheet work running ON EXECUTORS via mapInPandas. compile_sheets
# above builds each sheet's rows driver-side (fine for metadata-sized
# workbooks); for a landing zone of thousands of wide files the (sheet,
# rows) pairs themselves must be a distributed dataset and each task must
# parse its own shard. The dynamic id-columns problem (mapInPandas needs a
# fixed output schema) is solved by emitting dims as map<string,string>
# and widening to real columns afterwards with one metadata-sized
# key-union pass.

# Java \s (regex 1-3 of clean_text) is NOT Python \s: Python's includes
# the Unicode space category. The executor-side twin must reproduce the
# JAVA class for those regexes, then Python str.strip() for the final
# whitespace strip (which IS the engine semantic — see clean_text).
_JAVA_WS = "[ \\t\\n\\x0b\\f\\r]"
_RE_LEAD = re.compile(r'^\("?' + _JAVA_WS + "*")
_RE_TRAIL = re.compile(r'"?\)$')
_RE_NUM_TAIL = re.compile("," + _JAVA_WS + r"*[-+]?[0-9]*\.?[0-9]+$")


def clean_text_py(s: object) -> str:
    """Executor/driver-side twin of functions.scalar.clean_text —
    equality with the Catalyst chain is asserted by the distributed-vs-
    driver parity test (tests/test_ingest.py)."""
    t = str(s)
    t = _RE_LEAD.sub("", t)
    t = _RE_TRAIL.sub("", t)
    t = _RE_NUM_TAIL.sub("", t)
    return t.strip().strip('"')


def _try_double_py(s: object) -> float | None:
    """Twin of functions.scalar.try_double (trim → try_cast double)."""
    if s is None:
        return None
    try:
        return float(str(s).strip())
    except ValueError:
        return None


def sheets_to_distributed(
    spark: SparkSession,
    sheets: Sequence[tuple[Sequence[Sequence[object]], int]],
) -> DataFrame:
    """Lift (rows, year) sheets into a distributed (sheet_id, year, rows)
    DataFrame — the landing-zone shape. Cells are stringified exactly as
    parse_sheet does (None stays NULL)."""
    data = [
        (
            i,
            int(year),
            [[None if c is None else str(c) for c in row] for row in rows],
        )
        for i, (rows, year) in enumerate(sheets)
    ]
    return spark.createDataFrame(
        data, "sheet_id long, year int, rows array<array<string>>"
    )


def iter_tidy_records(year, rows):
    """Pure-Python per-sheet parse: yield tidy long records
    ``(year, state, separations, dim_keys, dim_vals)`` from one raw
    sheet. The single executor-side parse core shared by the
    mapInPandas kernel below and the ``aihw_sheets`` Python
    DataSource (sources/sheet_datasource.py); invalid sheets yield
    nothing."""
    rows = [list(r) for r in rows]
    schema = infer_schema(rows)
    if schema is None:
        return
    kept = [(i, n) for i, n in enumerate(schema.colmap) if n is not None]
    first_id = schema.id_cols[0]
    for r in rows[schema.header_idx + 1 :]:
        cells = {n: (r[i] if i < len(r) else None) for i, n in kept}
        if cells.get(first_id) is None:  # F1
            continue
        vals = [
            "nan" if cells.get(c) is None else clean_text_py(cells[c])
            for c in schema.id_cols
        ]  # X2 (+ pandas astype(str) NaN → "nan" parity)
        for st in schema.state_cols:
            v = _try_double_py(cells.get(st))  # X3
            if v is None:  # F2
                continue
            yield int(year), st, v, list(schema.id_cols), vals


def _parse_sheets_batch(batches):
    """mapInPandas kernel: parse each sheet's rows into tidy long records
    with dims packed as a map. Runs entirely executor-side."""
    import pandas as pd

    for pdf in batches:
        years: list[int] = []
        states: list[str] = []
        seps: list[float] = []
        # Arrow cannot convert pandas dict cells to map<string,string>;
        # emit parallel key/value arrays and map_from_arrays them JVM-side.
        dim_keys: list[list[str]] = []
        dim_vals: list[list[str]] = []
        for year, rows in zip(pdf["year"], pdf["rows"]):
            for yr, st, v, dk, dv in iter_tidy_records(year, rows):
                years.append(yr)
                states.append(st)
                seps.append(v)
                dim_keys.append(dk)
                dim_vals.append(dv)
        # Explicit dtypes: a partition with zero valid rows would default
        # its empty columns to float64, which Arrow cannot convert to
        # list<string>.
        yield pd.DataFrame(
            {
                "year": pd.Series(years, dtype="int64"),
                "state": pd.Series(states, dtype="object"),
                "separations": pd.Series(seps, dtype="float64"),
                "dim_keys": pd.Series(dim_keys, dtype="object"),
                "dim_vals": pd.Series(dim_vals, dtype="object"),
            }
        )


def compile_sheets_distributed(
    spark: SparkSession,
    sheets: Sequence[tuple[Sequence[Sequence[object]], int]],
    *,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed twin of :func:`compile_sheets`: same tidy output (dims
    as real columns, asserted equal by tests), but every sheet parses on
    an executor. One metadata-sized pass discovers the dim-key union
    (the U1 union-by-name step of the driver path); rows whose sheet
    lacks a dim get NULL there, exactly like unionByName's NULL-fill."""
    sdf = sheets_to_distributed(spark, sheets)
    if partitions:
        sdf = sdf.repartition(partitions, "sheet_id")
    mapped = sdf.mapInPandas(
        _parse_sheets_batch,
        schema="year int, state string, separations double, "
        "dim_keys array<string>, dim_vals array<string>",
    )
    # localCheckpoint (not persist): consumed twice (key discovery + the
    # returned frame), and checkpoint blocks free on GC instead of
    # accumulating in the CacheManager across repeated ingests.
    mapped = mapped.withColumn(
        "dims", F.map_from_arrays("dim_keys", "dim_vals")
    ).localCheckpoint(eager=True)
    keys = sorted(
        r[0]
        for r in mapped.select(F.explode("dim_keys").alias("k")).distinct().collect()
    )
    if not keys and mapped.isEmpty():
        raise RuntimeError("No valid data extracted - parsing rules may need an update.")
    return mapped.select(
        *[F.col("dims").getItem(k).alias(k) for k in keys],
        "state",
        "separations",
        "year",
    )


def dim_candidates(tidy: DataFrame) -> list[str]:
    """Every column outside {year, state, separations}: a dim if it holds
    at least one value."""
    return [c for c in tidy.columns if c not in FIXED]


def non_null_dims(tidy: DataFrame) -> list[str]:
    """The dims of `tidy` that contain at least one non-null value
    (/root/reference/main.py:160 ``notna().any()``), found by one
    metadata-sized aggregation."""
    candidate = dim_candidates(tidy)
    if not candidate:
        return []
    counts = tidy.agg(*[F.count(F.col(c)).alias(c) for c in candidate]).first()
    return [c for c in candidate if counts[c] > 0]


def fill_group(tidy: DataFrame, dims: Sequence[str]) -> DataFrame:
    """Fill NULL `dims` to "" *before* grouping (pandas drops NaN group
    keys — the fill is load-bearing for parity), then one hash
    aggregation (one shuffle) summing separations per (year, state,
    *dims) (/root/reference/main.py:161-164)."""
    return dynamic_agg(tidy, ["year", "state", *dims], "separations", fill_dims=dims)


def clean_aggregate(tidy: DataFrame) -> DataFrame:
    """A1 — the staging→clean contract (/root/reference/main.py:160-164):
    group by every non-null dim after filling NULL dims to ""."""
    return fill_group(tidy, non_null_dims(tidy))


def load_two_tier(tidy: DataFrame, base_path: str) -> tuple[str, str]:
    """S7/C3 — two-tier materialization: full-replace staging (raw tidy)
    and clean (pre-aggregated) tables (/root/reference/main.py:155-165),
    as parquet instead of JDBC. Partitioned by year: every dashboard
    filter includes year (/root/reference/streamlit_app.py:57-63), so
    partition pruning serves the interactive path at scale.

    `tidy` is computed once: staging is written in one pass that also
    counts each candidate dim's non-null values (``df.observe``), and
    clean is the fill-then-group of the staged table read back from
    disk, over the dims that count found. No separate count job runs and
    `tidy`'s lineage is not recomputed for clean.
    """
    staging = f"{base_path}/staging_admissions"
    clean = f"{base_path}/clean_admissions"
    candidate = dim_candidates(tidy)
    if candidate:
        counts = write_table_observed(
            tidy,
            staging,
            {c: F.count(F.col(c)) for c in candidate},
            partition_by=["year"],
        )
    else:
        write_table(tidy, staging, partition_by=["year"])
        counts = {}
    dims = [c for c in candidate if counts[c] > 0]
    staged = tidy.sparkSession.read.parquet(staging)
    write_table(fill_group(staged, dims), clean, partition_by=["year"])
    return staging, clean
