"""End-to-end ingest test: raw CSV session tree → partitioned typed
silver lake, idempotent re-runs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from f1_data_engineering_spark.pipeline import ingest_session_tree


def _write_session(root, year, event, session, rows):
    d = root / str(year) / event / session
    d.mkdir(parents=True, exist_ok=True)
    (d / "session_results.csv").write_text(
        "Driver,Time,Q1,Interval\n" + "\n".join(rows) + "\n"
    )


def test_ingest_session_tree(spark, tmp_path):
    raw = tmp_path / "raw"
    lake = tmp_path / "lake"
    _write_session(raw, 2024, "Bahrain_Grand_Prix", "R",
                   ["VER,01:30:45:123,01:05:123,12.345",
                    "HAM,01:30:50:000,01:06:000,17.222"])
    _write_session(raw, 2024, "Bahrain_Grand_Prix", "Q",
                   ["VER,00:20:00:000,01:04:000,0.0"])

    counts = ingest_session_tree(
        spark, str(raw), str(lake), tables=("session_results",)
    )
    assert counts["session_results"] == 3

    back = spark.read.parquet(os.path.join(str(lake), "session_results"))
    assert back.count() == 3
    # typed silver: Time is double seconds, partition cols present
    row = back.filter(
        (F.col("Driver") == "VER") & (F.col("SessionKey") == "R")
    ).collect()[0]
    assert row["Time"] == 5445.123
    assert row["Q1"] == 65.123
    assert row["Interval"] == 12.345
    assert row["Year"] == 2024 and row["EventName"] == "Bahrain_Grand_Prix"

    # idempotent re-run of ONE session leaves the other intact
    _write_session(raw, 2024, "Bahrain_Grand_Prix", "R",
                   ["VER,01:30:45:123,01:05:123,99.0"])
    ingest_session_tree(spark, str(raw), str(lake), tables=("session_results",))
    back2 = spark.read.parquet(os.path.join(str(lake), "session_results"))
    q_rows = back2.filter(F.col("SessionKey") == "Q").count()
    assert q_rows == 1  # Q partition untouched


def test_ingest_raw_dir_with_space(spark, tmp_path):
    # file URIs percent-encode the space; the partition keys come from
    # the path's last three directories, so raw_dir is never matched
    raw = tmp_path / "raw with space"
    _write_session(raw, 2023, "Monaco_Grand_Prix", "Q",
                   ["LEC,01:10:00:000,01:10:270,0.0"])
    counts = ingest_session_tree(
        spark, str(raw), str(tmp_path / "lake"), tables=("session_results",)
    )
    assert counts == {"session_results": 1}
    row = spark.read.parquet(str(tmp_path / "lake" / "session_results")).collect()[0]
    assert (row["Year"], row["EventName"], row["SessionKey"]) == (
        2023, "Monaco_Grand_Prix", "Q"
    )
    assert row["Q1"] == 70.27


def test_ingest_event_names_read_back_verbatim(spark, tmp_path):
    # the file URI percent-encodes ' ' and '%' but leaves '+' alone;
    # the partition keys come back as the directory names
    raw = tmp_path / "raw"
    for event in ("Bahrain Grand Prix", "A+B 100%"):
        _write_session(raw, 2024, event, "Sprint Q",
                       ["VER,01:30:45:123,01:05:123,12.345"])
    lake = tmp_path / "lake"
    counts = ingest_session_tree(
        spark, str(raw), str(lake), tables=("session_results",)
    )
    assert counts == {"session_results": 2}
    back = spark.read.parquet(str(lake / "session_results"))
    assert sorted((r["EventName"], r["SessionKey"]) for r in back.collect()) == [
        ("A+B 100%", "Sprint Q"),
        ("Bahrain Grand Prix", "Sprint Q"),
    ]


def test_ingest_jobs_py4j_and_observed_counts(spark, tmp_path):
    """Per table: one header job and one write job; the row count is
    observed on the write.  A warm ingest builds its plans from
    memoized column trees, so it needs few py4j calls."""
    from perfbench import datagen
    from perfbench.harness import Py4jCounter

    raw = tmp_path / "season"
    truth = datagen.write_season(str(raw), 2021, 7, events=1)
    for f in raw.glob("*/*/*/weather_data.csv"):  # header-only table
        f.write_text(f.read_text().splitlines()[0] + "\n")
    expected = dict(truth["rows"], weather_data=0)
    lake = str(tmp_path / "lake")
    dag = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001

    first = dag.nextJobId()
    counts = ingest_session_tree(spark, str(raw), lake, datagen.SEASON_TABLES)
    assert dag.nextJobId() - first <= 6
    assert counts == expected
    for table in ("laps_data", "session_results"):
        assert spark.read.parquet(os.path.join(lake, table)).count() == counts[table]

    counter = Py4jCounter()
    counter.install()
    try:
        again = ingest_session_tree(spark, str(raw), lake, datagen.SEASON_TABLES)
    finally:
        counter.uninstall()
    assert again == expected
    assert counter.read() <= 2000


def test_only_the_file_stream_sink_logger_is_quieted(spark):
    # every glob read (one per ingested table) made FileStreamSink log a
    # FileNotFoundException stack trace at WARN
    manager = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager  # noqa: SLF001

    def level(name):
        return manager.getLogger(name).getLevel().toString()

    assert level("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink") == "ERROR"
    assert level("org.apache.spark.sql.execution.streaming.FileStreamSink") == "ERROR"
    assert level("org.apache.spark.sql.execution.WholeStageCodegenExec") == "WARN"
