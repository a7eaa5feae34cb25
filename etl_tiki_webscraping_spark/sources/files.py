"""File-format ingest with corrupt-record quarantine.

The reference ingests scraped JSON records straight into pandas frames
(dags/etl.py:69-113) — a malformed record throws away the batch.  At
scale, ingest must instead SPLIT: parse what parses, quarantine the
raw bytes of what doesn't (for alerting and replay), and never abort a
100 TB load over one bad line.

Spark shape: the file is read as raw text LINES and parsed per-line
with ``from_csv`` / ``from_json`` in PERMISSIVE mode carrying a
corrupt-record column.  Parsing at the expression layer (instead of
the CSV/JSON scan's own schema) side-steps Spark's restriction on
filtering the scan-level corrupt column (SPARK-38523: requires a
cache), keeps the ORIGINAL line for the quarantine sink, and works
identically on a streaming text source.  Everything is codegen'd
JVM-side; no Python touches the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CORRUPT = "_corrupt_record"


def parse_lines_quarantine(
    lines: DataFrame,
    schema: str | T.StructType,
    fmt: str = "csv",
    options: dict[str, str] | None = None,
    line_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """Parse a text-line DataFrame into ``(good, quarantine)``.

    ``good`` carries the typed schema columns of every line that parsed
    cleanly; ``quarantine`` carries the RAW line (``_raw``) of every
    line that did not — short rows, type mismatches, truncated JSON —
    ready to write to a quarantine path for replay.  A line is
    quarantined iff the permissive parser set the corrupt-record field
    OR produced an all-null struct (from_json returns null for
    hopeless input instead of populating the corrupt column).

    LIMITATION (inherent to line-delimited parsing): a CSV field with a
    QUOTED EMBEDDED NEWLINE spans two text lines and both halves
    quarantine.  Data interchange files at scale are line-delimited
    precisely so they split; for the rare multiline-quoted export, use
    :func:`read_csv_multiline_quarantine` (tested in
    tests/test_files_ingest.py::TestMultilineCsv), which keeps the
    good/quarantine contract on Spark's native ``multiLine`` reader at
    the cost of splittability and the streaming twin.
    """
    if fmt not in ("csv", "json"):
        raise ValueError(f"fmt must be 'csv' or 'json', got {fmt!r}")
    struct = (
        T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    if _CORRUPT not in struct.fieldNames():
        struct = T.StructType(
            [*struct.fields, T.StructField(_CORRUPT, T.StringType())]
        )
    opts = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": _CORRUPT,
        **(options or {}),
    }
    parser = F.from_csv if fmt == "csv" else F.from_json
    parsed = lines.select(
        F.col(line_col).alias("_raw"),
        parser(F.col(line_col), struct.simpleString(), opts).alias("rec"),
    )
    bad_pred = F.col("rec").isNull() | F.col(f"rec.{_CORRUPT}").isNotNull()
    data_cols = [f"rec.{f.name}" for f in struct.fields if f.name != _CORRUPT]
    good = parsed.filter(~bad_pred).select(*data_cols)
    quarantine = parsed.filter(bad_pred).select("_raw")
    return good, quarantine


def read_csv_quarantine(
    spark, path: str, schema: str | T.StructType, **options: str
) -> tuple[DataFrame, DataFrame]:
    """CSV ingest with quarantine: ``spark.read.text`` + per-line
    ``from_csv``.  Pass csv options (sep, quote, ...) as kwargs; no
    header handling — headerless data files are the 100 TB norm (a
    header would differ per file split anyway)."""
    return parse_lines_quarantine(
        spark.read.text(path), schema, fmt="csv", options=options
    )


def read_csv_multiline_quarantine(
    spark, path: str, schema: str | T.StructType, **options: str
) -> tuple[DataFrame, DataFrame]:
    """CSV ingest with quarantine for files containing QUOTED EMBEDDED
    NEWLINES — the escape hatch for :func:`read_csv_quarantine`'s
    documented line-delimited limitation.

    Uses Spark's native ``multiLine`` CSV scan in PERMISSIVE mode with
    a corrupt-record column, so a quoted record spanning physical lines
    parses as ONE row with the newline preserved inside the field.
    Costs vs the line-delimited path, accepted knowingly: each file is
    read by a single task (a quote state machine can't start
    mid-split), there is no streaming twin, and the scan must be
    materialized before the corrupt-column filter (SPARK-38523: Spark
    forbids filtering a scan-level corrupt column on the raw scan) —
    use it for the rare multiline-quoted export, not the 100 TB norm.
    The materialization is a lazy local checkpoint of the bare scan:
    it runs no job here, the first action on either side parses the
    files once, and it leaves no session-wide cache entry behind.

    Returns ``(good, quarantine)`` with the same contract as the
    line-delimited readers: ``good`` carries the typed schema columns,
    ``quarantine`` carries the raw text (``_raw``) of each record the
    parser rejected."""
    struct = (
        T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    if _CORRUPT not in struct.fieldNames():
        struct = T.StructType(
            [*struct.fields, T.StructField(_CORRUPT, T.StringType())]
        )
    reader_opts = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": _CORRUPT,
        "multiLine": "true",
        **options,
    }
    parsed = (
        spark.read.options(**reader_opts).schema(struct).csv(path)
    ).localCheckpoint(eager=False)  # SPARK-38523
    data_cols = [f.name for f in struct.fields if f.name != _CORRUPT]
    good = parsed.filter(F.col(_CORRUPT).isNull()).select(*data_cols)
    quarantine = parsed.filter(F.col(_CORRUPT).isNotNull()).select(
        F.col(_CORRUPT).alias("_raw")
    )
    return good, quarantine


def read_jsonl_quarantine(
    spark, path: str, schema: str | T.StructType, **options: str
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingest with quarantine: ``spark.read.text`` +
    per-line ``from_json``."""
    return parse_lines_quarantine(
        spark.read.text(path), schema, fmt="json", options=options
    )
