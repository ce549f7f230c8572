"""CSV scan layer — SURVEY.md S7/S8.

The reference reads CSV two ways:

* all-string with an explicit null-token list, to suppress pandas
  auto-coercion before its own typed parse
  (reference: src/transform/f1_dataTransformer.py:132-134);
* schema-inferring with defaults for the dashboard
  (reference: streamlit_app.py:14-31).

Both are reproduced as thin wrappers over ``spark.read.csv``.  Spark's
CSV ``nullValue`` option accepts one token, so the 16-token list is
applied as a post-scan normalization (still whole-stage-codegen'd —
no Python in the loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import memo_col

__all__ = ["NULL_TOKENS", "read_csv_all_string", "read_csv_inferred"]

#: Null spellings the reference treats as missing — the EXACT,
#: CASE-SENSITIVE na_values list passed to pd.read_csv at
#: src/transform/f1_dataTransformer.py:132-134.  Values like '?',
#: 'NONE' or 'Nat' are ordinary data there and survive the scan, so
#: they survive here too (an earlier case-insensitive superset was a
#: silent divergence).
NULL_TOKENS = (
    "",
    "#N/A",
    "#N/A N/A",
    "#NA",
    "-1.#IND",
    "-1.#QNAN",
    "-NaN",
    "-nan",
    "1.#IND",
    "1.#QNAN",
    "<NA>",
    "N/A",
    "NULL",
    "NaN",
    "None",
    "nan",
    "null",
)


@memo_col
def _null_token(name: str) -> Column:
    """One column with the reference's token spellings (case-sensitive,
    untrimmed — matching pandas na_values semantics) mapped to SQL
    NULL; memo_col: the 16-literal ``isin`` is built once per name."""
    c = F.col(name)
    cond = c.isNull() | c.isin([t for t in NULL_TOKENS if t]) | (c == "")
    return F.when(cond, None).otherwise(c).alias(name)


def _nullify(df: DataFrame) -> DataFrame:
    """:func:`_null_token` over every column."""
    return df.select(*(_null_token(name) for name in df.columns))


def read_csv_all_string(
    spark: SparkSession, path: str, recursive: bool = False
) -> DataFrame:
    """S7: every column StringType, null tokens → NULL; no inference.

    ``recursive=True`` also covers S6 (the transformer's ``os.walk`` over
    the year/event/session tree, f1_dataTransformer.py:219-228) via
    Spark's recursiveFileLookup.
    """
    reader = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("recursiveFileLookup", str(recursive).lower())
    )
    return _nullify(reader.csv(path))


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """S8: header + inferSchema read (dashboard-style, streamlit_app.py:19)."""
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


def read_csv_typed(
    spark: SparkSession, path: str, schema: T.StructType, recursive: bool = False
) -> DataFrame:
    """Preferred production scan: explicit schema, no inference pass."""
    return (
        spark.read.option("header", True)
        .option("recursiveFileLookup", str(recursive).lower())
        .schema(schema)
        .csv(path)
    )
