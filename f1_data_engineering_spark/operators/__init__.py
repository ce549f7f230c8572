"""Query layer — every operator family from SURVEY.md §2 as a named
DataFrame function over the driver's test tables, plus the F1-native
dashboard/telemetry queries and the beyond-reference training-data ops.

Each public function takes ``(spark, sf_dir)`` and returns a lazy
DataFrame.  A module that owns registered queries ends with a
``QUERIES`` table mapping each query function to its DuckDB oracle SQL;
``__spark_entry__.queries()`` and ``oracle_sql()`` serve those tables
(listed in ``__spark_entry__.QUERY_MODULES``) under each function's
name for the driver's DuckDB-oracle differential check.
"""
