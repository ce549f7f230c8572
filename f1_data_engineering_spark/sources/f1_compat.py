"""EP2 compatibility transform — the reference's normalizing CSV
round-trip (src/transform/f1_dataTransformer.py:96-207) as one lazy
Spark dataflow.

Semantics reproduced exactly:

* duration-string columns parse format-agnostically (F9) and re-emit
  in the TARGET format of the column map — e.g. session_results
  Q1/Q2/Q3 arrive ``MM:SS:mmm`` from the extractor
  (f1_dataExtractor.py:188-189) and leave ``HH:MM:SS:mmm``
  (f1_dataTransformer.py:101);
* ISO strings → timestamps (coerce-to-null);
* numeric-seconds columns (Interval, TelemetryLapStartTime_seconds) →
  seconds, re-emitted ``HH:MM:SS:mmm``;
* formatters TRUNCATE (F10/F11, ``int(total_seconds()*1000)``);
* a file with no mapped columns is skipped entirely (work elision,
  f1_dataTransformer.py:199-200).

Architecture note: in the lakehouse design this stage is the
bronze→silver hop — the typed frame (double seconds / timestamps) is
the real product and lands in Parquet (:func:`typed_table`, what the
ingest writes); the formatted CSV is a compatibility sink for
consumers of the reference's file format (:func:`compat_table`, built
only where :func:`transform_csv_tree` writes it).

Plan shape: duration columns parse in the two stacked projections of
``timefmt.parse_f1_duration_columns`` — the string work once per
column, then the shape dispatch — which keeps ``laps_data``'s 11 of
them inside whole-stage codegen; every column tree is built once per
process (``memo_col``).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import memo_col
from ..functions.timefmt import fmt_hhmmssms, fmt_mmssms, parse_f1_duration_columns
from .csvio import read_csv_all_string

__all__ = [
    "STRING_COLUMNS_TO_TIMEDELTA",
    "ISO_STRING_COLUMNS_TO_DATETIME",
    "NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA",
    "compat_table",
    "transform_table",
    "typed_table",
    "transform_csv_tree",
]

#: table → {duration-string column: OUTPUT format key}
#: (f1_dataTransformer.py:98-110; keys are output formats — inputs are
#: auto-detected by the parser)
STRING_COLUMNS_TO_TIMEDELTA: dict[str, dict[str, str]] = {
    "session_results": {
        "Time": "hhmmssms",
        "Q1": "hhmmssms",
        "Q2": "hhmmssms",
        "Q3": "hhmmssms",
    },
    "laps_data": {
        "LapTime": "mmssms",
        "Sector1Time": "mmssms",
        "Sector2Time": "mmssms",
        "Sector3Time": "mmssms",
        "Time": "hhmmssms",
        "PitInTime": "hhmmssms",
        "PitOutTime": "hhmmssms",
        "Sector1SessionTime": "hhmmssms",
        "Sector2SessionTime": "hhmmssms",
        "Sector3SessionTime": "hhmmssms",
        "LapStartTime": "hhmmssms",
    },
    "weather_data": {"Time": "hhmmssms"},
}

#: (f1_dataTransformer.py:114-116)
ISO_STRING_COLUMNS_TO_DATETIME: dict[str, list[str]] = {
    "event_info": ["EventDate", "SessionStartDateLocalISO", "SessionStartDateUTCISO"],
}

#: (f1_dataTransformer.py:119-122); output defaults to hhmmssms
NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA: dict[str, list[str]] = {
    "session_results": ["Interval"],
    "lap_telemetry_summary": ["TelemetryLapStartTime_seconds"],
}

_FORMATTERS = {"hhmmssms": fmt_hhmmssms, "mmssms": fmt_mmssms}


@memo_col
def _timestamp(name: str) -> Column:
    # try_to_timestamp = pd.to_datetime(errors='coerce'): ANSI
    # to_timestamp would throw on malformed input
    return F.try_to_timestamp(F.col(name))


@memo_col
def _seconds(name: str) -> Column:
    return F.col(name).try_cast("double")


@memo_col
def _formatted(name: str, fmt_key: str) -> Column:
    """Compat re-serialization of one typed column (truncating, F10/F11)."""
    return _FORMATTERS[fmt_key](F.col(name), rounding="trunc").alias(name)


def typed_table(df: DataFrame, table: str) -> tuple[DataFrame, dict[str, str], int]:
    """All-string frame → (typed frame, {column: compat output format},
    #columns transformed).

    Duration columns parse in the two stacked projections of
    :func:`parse_f1_duration_columns`; timestamp and numeric-seconds
    columns are one ``withColumns`` above them."""
    present = set(df.columns)
    out_formats = {
        c: fmt for c, fmt in STRING_COLUMNS_TO_TIMEDELTA.get(table, {}).items() if c in present
    }
    typed = parse_f1_duration_columns(df, list(out_formats))
    n = len(out_formats)
    others = {c: _timestamp(c) for c in ISO_STRING_COLUMNS_TO_DATETIME.get(table, []) if c in present}
    for c in NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA.get(table, []):
        if c in present:
            others[c] = _seconds(c)
            out_formats.setdefault(c, "hhmmssms")
    if others:
        typed = typed.withColumns(others)
    return typed, out_formats, n + len(others)


def compat_table(typed: DataFrame, out_formats: dict[str, str]) -> DataFrame:
    """Typed frame → the reference transformer's output strings."""
    return typed.select(
        *(_formatted(c, out_formats[c]) if c in out_formats else c for c in typed.columns)
    )


def transform_table(df: DataFrame, table: str) -> tuple[DataFrame, DataFrame, int]:
    """All-string frame → (typed silver frame, compat-formatted frame,
    #columns transformed).

    The typed frame holds double seconds / timestamps (the engine's
    canonical representation); the compat frame re-serializes exactly
    as the reference's transformer writes its output CSVs.
    """
    typed, out_formats, n = typed_table(df, table)
    return typed, compat_table(typed, out_formats), n


def transform_csv_tree(
    spark: SparkSession, input_dir: str, output_dir: str
) -> dict[str, int]:
    """S6 + EP2: walk the ``<year>/<event>/<session>/<table>.csv`` tree
    (recursive lookup replaces os.walk, f1_dataTransformer.py:219-228),
    transform each known table, mirror the layout to ``output_dir``.
    Files with no mapped columns are skipped (reference behavior).

    Returns {table: columns_transformed}.
    """
    stats: dict[str, int] = {}
    tables = (
        set(STRING_COLUMNS_TO_TIMEDELTA)
        | set(ISO_STRING_COLUMNS_TO_DATETIME)
        | set(NUMERIC_SECONDS_COLUMNS_TO_TIMEDELTA)
    )
    for table in sorted(tables):
        pattern = os.path.join(input_dir, "*", "*", "*", f"{table}.csv")
        try:
            raw = read_csv_all_string(spark, pattern)
        except Exception:
            continue
        typed, out_formats, n = typed_table(raw, table)
        if n == 0:
            continue
        stats[table] = n
        (
            compat_table(typed, out_formats)
            .write.mode("overwrite")
            .option("header", True)
            .csv(os.path.join(output_dir, table))
        )
    return stats
