"""Pages-table schema + the canonical `extract_text` UDF.

Reference mapping: PubTator corpus scan + title/abstract concat
(data_preprocessing.py:17,31-45) becomes: read the pages table, derive
`text` from `html` ONCE with one canonical vectorized UDF, store it, and
never re-extract downstream — that is how the per-row invariant
'byte-identical extracted text per url' (BASELINE.json input_hint) is
guaranteed across stages and Arrow round-trips (SURVEY.md §7c).

On a production cluster the read is
``spark.read.format("iceberg").load("warehouse.pages")`` with partition
spec ``bucket(1024, url)`` / ``days(warc_ts)``; in this sandbox we read
parquet with the same schema.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

_TAG_RE = r"<[^>]*>"


@F.pandas_udf(T.StringType())
def extract_text(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """html binary → visible text.  Vectorized pandas str ops (tag strip +
    entity-free template unwrap).  This is THE one extraction function —
    every stage that needs text reads the stored column produced by it."""
    for html in batches:
        s = html.map(lambda b: b.decode("utf-8", "replace") if b is not None else "")
        yield s.str.replace(_TAG_RE, "", regex=True)


def verify_text_invariant(pages: DataFrame) -> int:
    """Count rows violating text == extract_text(html); 0 required."""
    return (
        pages.filter(F.col("html").isNotNull())
        .filter(extract_text(F.col("html")) != F.col("text"))
        .count()
    )
