"""End-to-end F1 lakehouse pipeline — EP1/EP2 orchestration
(SURVEY.md §7.7) as idempotent Spark jobs.

The reference's triple-nested driver loop (year → event → session,
f1_dataExtractor.py:363-405) with a 5 s sleep per session becomes:
land raw → one lazy transform per table → dynamic-partition-overwrite
parquet.  Re-running a session overwrites exactly that session's
partitions (idempotent); sibling sessions are untouched.

Each table is two Spark jobs, the CSV header read and the write; the
rows written are counted by an ``Observation`` on the written frame,
which the write job fills in, instead of a second scan and parse of
the CSV.  The plan is the same for every ingest of a table (partition
keys come from the path's last three directories, not from a pattern
holding ``raw_dir``), so its generated code is compiled once per
process, and its column trees are built once (``memo_col``).

The network fetch itself (FastF1) stays outside the engine — sources
here are landed CSV trees, which is also what this container has.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions.text import memo_col
from .sources.csvio import read_csv_all_string
from .sources.f1_compat import typed_table
from .sources.parquetio import write_partitioned

__all__ = ["ingest_table", "ingest_session_tree", "SESSION_KEYS"]

SESSION_KEYS = ("Year", "EventName", "SessionKey")


def ingest_table(
    spark: SparkSession,
    raw_glob: str,
    table: str,
    lake_dir: str,
    partition_values: dict[str, str] | None = None,
) -> DataFrame:
    """bronze CSV → typed silver parquet for one table.

    ``partition_values`` supplies (Year, EventName, SessionKey) when the
    raw files don't carry them as columns (the reference encodes them
    only in the directory path).
    """
    typed, _, _ = typed_table(read_csv_all_string(spark, raw_glob), table)
    if partition_values:
        typed = typed.withColumns({k: F.lit(v) for k, v in partition_values.items()})
    write_partitioned(typed, os.path.join(lake_dir, table), SESSION_KEYS)
    return typed


@memo_col
def _path_keys() -> dict[str, Column]:
    """(Year, EventName, SessionKey) from the last three directories of
    each row's file path, ``<year>/<event>/<session>/<table>.csv``.
    Counting from the end needs neither ``raw_dir`` nor its spelling in
    the file URI, and no literal of the ingest's own makes the generated
    code differ between ingests.  The URI percent-encodes a space or a
    ``%`` in a directory name, so the names are decoded; a literal
    ``+`` is escaped first, since URL decoding reads it as a space."""
    parts = F.split(F.input_file_name(), "/")
    return {
        "Year": F.element_at(parts, -4).try_cast("int"),
        "EventName": _uri_decode(F.element_at(parts, -3)),
        "SessionKey": _uri_decode(F.element_at(parts, -2)),
    }


def _uri_decode(segment: Column) -> Column:
    return F.url_decode(F.regexp_replace(segment, r"\+", "%2B"))


def ingest_session_tree(
    spark: SparkSession, raw_dir: str, lake_dir: str, tables: tuple[str, ...]
) -> dict[str, int]:
    """Ingest every ``<year>/<event>/<session>/<table>.csv`` under
    ``raw_dir`` into the partitioned silver lake; returns {table: rows
    written}.

    Partition columns are derived from the file path (`input_file_name`),
    replacing the reference's per-directory Python loop with one
    distributed write per table; the counts are observed on the writes.
    """
    counts: dict[str, int] = {}
    for table in tables:
        pattern = os.path.join(raw_dir, "*", "*", "*", f"{table}.csv")
        raw = read_csv_all_string(spark, pattern).withColumns(_path_keys())
        typed, _, _ = typed_table(raw, table)
        rows = Observation()
        written = typed.observe(rows, F.count(F.lit(1)).alias("rows"))
        write_partitioned(written, os.path.join(lake_dir, table), SESSION_KEYS)
        counts[table] = rows.get["rows"]
    return counts
