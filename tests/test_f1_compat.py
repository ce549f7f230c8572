"""Golden round-trip test of the EP2 compat transform (SURVEY.md §5.2
item 4): extractor-shaped strings in → transformer-normalized strings
out, byte-compared against the reference's semantics."""

from __future__ import annotations

import pytest

from f1_data_engineering_spark.sources.csvio import read_csv_all_string
from f1_data_engineering_spark.sources.f1_compat import transform_table


def test_session_results_normalizing_roundtrip(spark):
    df = spark.createDataFrame(
        [
            # Time: HH:MM:SS:mmm (extractor F4); Q1: MM:SS:mmm (F2);
            # Interval: raw numeric seconds string
            ("VER", "01:30:45:123", "01:05:123", "12.345"),
            ("HAM", "-00:00:05:500", "123:05:999", "0.5004"),
            ("LEC", "nan", "", None),
        ],
        schema="Driver string, Time string, Q1 string, Interval string",
    )
    typed, compat, n = transform_table(df, "session_results")
    assert n == 3  # Time, Q1, Interval

    t = {r["Driver"]: r for r in typed.collect()}
    assert t["VER"]["Time"] == 5445.123
    assert t["VER"]["Q1"] == 65.123
    assert t["VER"]["Interval"] == 12.345
    assert t["LEC"]["Time"] is None and t["LEC"]["Q1"] is None

    c = {r["Driver"]: r for r in compat.collect()}
    # Q1 promoted MM:SS:mmm -> HH:MM:SS:mmm (f1_dataTransformer.py:101)
    assert c["VER"]["Q1"] == "00:01:05:123"
    # >99-minute Q1 rolls into hours
    assert c["HAM"]["Q1"] == "02:03:05:999"
    # Time round-trips identically (same format in and out)
    assert c["VER"]["Time"] == "01:30:45:123"
    # negative sign preserved through parse+format
    assert c["HAM"]["Time"] == "-00:00:05:500"
    # Interval numeric -> formatted, TRUNCATING (0.5004 -> 500 ms)
    assert c["VER"]["Interval"] == "00:00:12:345"
    assert c["HAM"]["Interval"] == "00:00:00:500"
    # nulls stay null
    assert c["LEC"]["Time"] is None


def test_laps_data_formats_not_promoted(spark):
    df = spark.createDataFrame(
        [("VER", "01:05:123", "00:10:00:000")],
        schema="Driver string, LapTime string, Time string",
    )
    _, compat, n = transform_table(df, "laps_data")
    assert n == 2
    row = compat.collect()[0]
    # LapTime keeps MM:SS:mmm (map key 'mmssms')
    assert row["LapTime"] == "01:05:123"
    assert row["Time"] == "00:10:00:000"


def test_event_info_iso_datetime(spark):
    df = spark.createDataFrame(
        [("2024-03-02T15:00:00", "garbage")],
        schema="EventDate string, SessionStartDateUTCISO string",
    )
    typed, _, n = transform_table(df, "event_info")
    assert n == 2
    row = typed.collect()[0]
    assert row["EventDate"] is not None
    assert row["SessionStartDateUTCISO"] is None  # coerce-to-null


def test_unmapped_table_skipped(spark):
    df = spark.createDataFrame([("x",)], schema="a string")
    _, _, n = transform_table(df, "tyre_stints_summary")
    assert n == 0


def test_transform_csv_tree(spark, tmp_path):
    """EP2 tree walk: year/event/session CSVs → normalized output CSVs
    (mapped tables transformed, unmapped skipped)."""
    import os

    from f1_data_engineering_spark.sources.f1_compat import transform_csv_tree

    raw = tmp_path / "in"
    d = raw / "2024" / "Spa" / "R"
    d.mkdir(parents=True)
    (d / "session_results.csv").write_text(
        "Driver,Q1,Interval\nVER,01:05:123,12.345\n"
    )
    (d / "tyre_stints_summary.csv").write_text("Driver,StintNumber\nVER,1\n")
    out = str(tmp_path / "out")

    stats = transform_csv_tree(spark, str(raw), out)
    assert stats == {"session_results": 2}  # Q1 + Interval; stints skipped
    assert not os.path.exists(os.path.join(out, "tyre_stints_summary"))

    back = (
        spark.read.option("header", True)
        .csv(os.path.join(out, "session_results"))
        .collect()[0]
    )
    assert back["Q1"] == "00:01:05:123"        # promoted to HH:MM:SS:mmm
    assert back["Interval"] == "00:00:12:345"  # numeric -> formatted


@pytest.mark.parametrize("table", ["laps_data", "session_results", "weather_data"])
def test_season_tables_compile_without_codegen_fallback(spark, tmp_path, table):
    """Both frames of every season table run in whole-stage codegen: with
    the fallback off, a generated class past the JVM's 64 KB method
    limit fails the query instead of running it interpreted."""
    from perfbench import datagen

    datagen.write_season(str(tmp_path), 2021, 7, events=1)
    raw = read_csv_all_string(spark, str(tmp_path / "*" / "*" / "*" / f"{table}.csv"))
    typed, compat, n = transform_table(raw, table)
    assert n > 0
    key = "spark.sql.codegen.fallback"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for frame in (typed, compat):
            frame.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set(key, before)
