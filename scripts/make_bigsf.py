"""Synthesize an sf1-equivalent dataset (10× sf0.1) for scale probes.

The driver only ships sf0.001/0.01/0.1; the scale posture claims need
at least one more decade of evidence.  This script unions 10
key-shifted copies of every sf0.1 table into
``benchdata/sf1`` in the checkout (gitignored), preserving the properties
the queries depend on:

* fact/dim FK integrity — every key column in a copy shifts by
  i × (its table's key range), applied consistently on both sides of
  each FK edge, so join selectivities and per-key cardinalities match
  the original and only the KEY COUNT grows 10×;
* region/nation stay fixed (TPC-H semantics: dims invariant with SF);
* document text gets a per-copy prefix — near-identical, not
  byte-identical, so the dedup family sees realistic near-dup volume
  instead of a degenerate 10-way exact-dup explosion;
* embeddings are rotated by i positions — norms (and thus cosine
  geometry per copy) are preserved while LSH buckets decorrelate;
* event user_ids shift per copy: per-user event counts stay constant,
  user count grows 10× — the grouped/windowed queries scale by GROUP
  COUNT, not per-group size, which is how real traffic grows.

Run: python scripts/make_bigsf.py   (~1 min, ~400 MB)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from f1_data_engineering_spark.session import get_spark
from f1_data_engineering_spark.sources.registry import load_table

SRC = "/root/testdata/sf0.1"
DST = os.path.join(ROOT, "benchdata", "sf1")
COPIES = 10


def main() -> None:
    spark = get_spark(app_name="make-bigsf", master="local[32]", shuffle_partitions=32)

    # key ranges from the source (next power-of-10 above max, so offset
    # arithmetic is stable and debuggable by eye)
    def key_span(table: str, col: str) -> int:
        hi = load_table(spark, SRC, table).agg(F.max(col)).collect()[0][0]
        span = 1
        while span <= hi:
            span *= 10
        return span

    spans = {
        "c": key_span("customer", "c_custkey"),
        "s": key_span("supplier", "s_suppkey"),
        "p": key_span("part", "p_partkey"),
        "o": key_span("orders", "o_orderkey"),
        "e": key_span("events", "event_id"),
        "d": key_span("documents", "doc_id"),
        "v": key_span("embeddings", "vec_id"),
    }
    print("key spans:", spans)

    shifts = {  # table -> {column: span key}
        "customer": {"c_custkey": "c"},
        "supplier": {"s_suppkey": "s"},
        "part": {"p_partkey": "p"},
        "orders": {"o_orderkey": "o", "o_custkey": "c"},
        "lineitem": {"l_orderkey": "o", "l_partkey": "p", "l_suppkey": "s"},
        # user_id shifts by the CUSTOMER span: events.user_id joins
        # c_custkey (stream_static_join), so both sides of that FK edge
        # must move together or copy-i events match copy-0 customers
        "events": {"event_id": "e", "user_id": "c"},
        "documents": {"doc_id": "d"},
        "embeddings": {"vec_id": "v"},
    }

    os.makedirs(DST, exist_ok=True)
    for table in ("region", "nation"):
        load_table(spark, SRC, table).write.mode("overwrite").parquet(
            os.path.join(DST, f"{table}.parquet")
        )
        print(f"{table}: copied unchanged")

    for table, cols in shifts.items():
        base = load_table(spark, SRC, table)
        parts = []
        for i in range(COPIES):
            c = base
            for col, span_key in cols.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * spans[span_key]))
            if table == "documents" and "text" in base.columns:
                # near-dup (prefix), not exact-dup: copy 0 keeps the
                # original bytes so planted fixtures survive verbatim
                if i > 0:
                    c = c.withColumn(
                        "text", F.concat(F.lit(f"c{i}: "), F.coalesce("text", F.lit("")))
                    )
            if table == "embeddings" and i > 0:
                n = 64
                c = c.withColumn(
                    "embedding",
                    F.concat(
                        F.slice("embedding", i + 1, n - i),
                        F.slice("embedding", 1, i),
                    ),
                )
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # events.ts stays a native timestamp: load_table sniffs the
        # parquet footer per file, so Spark's TIMESTAMP(MICROS) output
        # reads back directly (no raw-nanos workaround needed).
        out.write.mode("overwrite").parquet(os.path.join(DST, f"{table}.parquet"))
        n = spark.read.parquet(os.path.join(DST, f"{table}.parquet")).count()
        print(f"{table}: {n} rows")


if __name__ == "__main__":
    main()
