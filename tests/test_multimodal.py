"""Multimodal plumbing: typed metadata over an opaque binary column."""

import pytest
from pyspark.sql import functions as F

from biomedical_el_spark.plans.catalog import binary_metadata


@pytest.fixture(scope="module")
def payloads(spark):
    return spark.range(50).select(
        F.col("id"),
        F.encode(F.concat(F.lit("payload-"), F.col("id").cast("string")), "utf-8").alias("payload"),
    ).cache()


def test_binary_metadata(spark, payloads):
    meta = binary_metadata(payloads, "id", "payload")
    rows = {r["id"]: r for r in meta.collect()}
    assert rows[7]["n_bytes"] == len(b"payload-7")
    assert rows[7]["media_type"] in {"image", "audio", "video"}
    assert len(rows[7]["content_hash"]) == 32
