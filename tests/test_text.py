"""Text kernels: WordPiece greedy longest-match (reference
tokenization_bert.py:436-493 semantics) and accent stripping."""

import pandas as pd
from pyspark.sql import functions as F

from biomedical_el_spark.functions.text import (
    strip_accents_batch,
    wordpiece_tokens,
)

VOCAB = ["un", "##aff", "##able", "##ffa", "aff", "runn", "##ing", "run",
         "[UNK]", "the", "##n"]


def test_wordpiece_reference_semantics(spark):
    df = spark.createDataFrame(
        [("unaffable",), ("running",), ("unknownword",), ("the un",), ("",)],
        "text string",
    )
    rows = df.select(wordpiece_tokens(F.col("text"), VOCAB).alias("t")).collect()
    got = [r["t"] for r in rows]
    # greedy longest match: "unaffable" -> un ##aff ##able (reference's
    # canonical example); any unmatchable word -> whole word [UNK]
    assert got[0] == ["un", "##aff", "##able"]
    assert got[1] == ["runn", "##ing"]  # longest-first: runn beats run
    assert got[2] == ["[UNK]"]
    assert got[3] == ["the", "un"]
    assert got[4] == []


def test_wordpiece_long_word_unk(spark):
    df = spark.createDataFrame([("a" * 101,)], "text string")
    rows = df.select(
        wordpiece_tokens(F.col("text"), VOCAB, max_word_chars=100).alias("t")
    ).collect()
    assert rows[0]["t"] == ["[UNK]"]


def test_strip_accents_batch_pure():
    out = strip_accents_batch(
        pd.Series(["élan", "ascii only", "caf\u00e9", "cafe\u0301", "naïve Über", None])
    )
    # the precomposed and the decomposed form strip alike; None -> ""
    assert list(out) == ["elan", "ascii only", "cafe", "cafe", "naive Uber", ""]
