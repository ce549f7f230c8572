"""Python UDTF surface (SURVEY.md §2.10): table functions that emit a
variable number of rows per input row.

Policy mirror of ``pandas_ops``: the parity path never needs a UDTF —
`explode` over an expression-built array covers fixed transforms
JVM-side and is what every other query here uses.  A real UDTF earns
its place when the row expansion needs imperative state or a Python
library (a parser, a tokenizer, a decoder); ``split_sentences`` pins
the machinery — registration, LATERAL join, ordering, Arrow transfer
(``spark.sql.execution.pythonUDTF.arrow.enabled``) — on semantics a
SQL oracle can replicate.

Scale note: UDTF ``eval`` is invoked per input ROW (Arrow batches the
I/O, not the calls), so at 100 TB this path is reserved for genuinely
imperative expansions; splitting on a regex like here would ship as
``explode(split(...))`` — see ORACLE twin and the cross-check test.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from ..sources.registry import load_table

#: Sentence boundary + the whitespace set trimmed from each sentence.
#: Explicit (not str.strip's unicode set) so the DuckDB twin can name
#: the identical characters.
_BOUNDARY = r"[.!?]+"
_WS = " \t\r\n"


@udtf(returnType="sentence_idx: bigint, sentence: string, n_tokens: bigint")
class SplitSentences:
    """text → one row per non-empty sentence, with its index (over
    kept sentences) and whitespace token count."""

    def eval(self, text: str):  # noqa: D102 — contract in class doc
        if text is None:
            return
        idx = 0
        for raw in re.split(_BOUNDARY, text):
            s = raw.strip(_WS)
            if not s:
                continue
            yield idx, s, len(s.split())
            idx += 1


def sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence table via a LATERAL-joined Python UDTF."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    spark.udtf.register("split_sentences", SplitSentences)
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence, s.n_tokens
        FROM _docs_udtf d, LATERAL split_sentences(d.text) s
        """
    )


ORACLE_SENTENCES = """
WITH parts AS (
  SELECT doc_id,
    list_filter(
      list_transform(string_split_regex(text, '[.!?]+'),
                     x -> trim(x, ' ' || chr(9) || chr(13) || chr(10))),
      x -> x <> '') AS ss
  FROM documents
)
SELECT doc_id,
  unnest(range(len(ss))) AS sentence_idx,
  unnest(ss) AS sentence,
  unnest(list_transform(ss,
    x -> CAST(len(list_filter(string_split_regex(x, '\\s+'), t -> t <> '')) AS BIGINT)))
    AS n_tokens
FROM parts
"""


# ---------------------------------------------------------------------------
# dynamic-schema UDTF (analyze() — Spark 4 polymorphic table function)
# ---------------------------------------------------------------------------


class TokenMetrics:
    """Polymorphic table function: ``token_metrics(text, 'len,alpha')``
    emits one row per token with ONLY the requested metric columns —
    the output schema is computed at PLAN TIME by ``analyze`` from the
    constant metrics argument.

    This is the Spark 4 answer to "one UDTF per column combination":
    callers select the metrics, the planner gets an exact static
    schema (so downstream pruning/codegen work normally), and eval
    emits tuples matching it.
    """

    METRICS = ("len", "alpha", "digit")

    @staticmethod
    def analyze(text, metrics):
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.types import LongType, StringType, StructType

        requested = [
            m.strip() for m in (metrics.value or "").split(",") if m.strip()
        ]
        bad = set(requested) - set(TokenMetrics.METRICS)
        if bad:
            raise ValueError(f"unknown token metrics: {sorted(bad)}")
        schema = StructType().add("token", StringType())
        for m in requested:
            schema = schema.add(m, LongType())
        return AnalyzeResult(schema=schema)

    def __init__(self, analyze_result=None) -> None:
        self._requested: list[str] | None = None

    def eval(self, text: str, metrics: str):
        requested = [
            m.strip() for m in (metrics or "").split(",") if m.strip()
        ]
        if text is None:
            return
        for tok in text.split():
            row = [tok]
            for m in requested:
                if m == "len":
                    row.append(len(tok))
                elif m == "alpha":
                    row.append(sum(c.isalpha() for c in tok))
                elif m == "digit":
                    row.append(sum(c.isdigit() for c in tok))
            yield tuple(row)


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    sentence_split: ORACLE_SENTENCES,
}
