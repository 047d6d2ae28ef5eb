"""The query catalog's correctness gate in the suite: every query that has
a DuckDB oracle returns the oracle's rows (row count, sorted column names
and `tools/check_oracles.py`'s value hash), and `_fanout` adds no
exchange over a scan that already plans enough splits."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb
import pytest

from biomedical_el_spark.plans import catalog

SF_DIR = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location(
    "check_oracles",
    Path(__file__).resolve().parent.parent / "tools" / "check_oracles.py",
)
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)

QUERY_NAMES = {
    "er_exact_dedup", "er_minhash_blocks", "er_candidate_pairs", "er_min2_pairs",
    "er_capped_star_pairs", "er_tfidf_blocks", "er_ngram_jaccard",
    "er_jaro_winkler", "er_simhash", "er_fingerprint", "ann_cosine_topk",
    "ann_lsh_topk", "ann_multiprobe_topk", "ann_ivf_topk", "ann_ivf_kmeans_topk",
    "ann_label_top1", "cc_customer_nation_region", "q1_pricing_summary",
    "q3_order_revenue", "w_running_total", "w_topk_per_user",
    "j_interval_overlap", "a_group_concat", "a_value_histogram",
    "p_filter_project", "f_string_scalar", "f_node_id128",
    "so_never_ordered_parts", "so_dedup_first_event", "so_distinct_pairs",
    "t_quality_score", "t_lang_id", "mm_binary_meta", "d_near_dup_pairs",
    "er_near_dup_clusters", "w_hard_negative_shape", "a_cube_metrics",
    "s_deterministic_sample", "w_sessionize", "w_bio_decode",
    "a_count_distinct", "stream_linkage_clusters", "w_bio_decode_subword",
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in check_oracles.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="module", autouse=True)
def _release_pair_cache():
    yield
    catalog.clear_pair_cache()


def test_catalog_declares_the_same_queries():
    assert set(catalog.QUERIES) == QUERY_NAMES
    assert set(catalog.ORACLES) == QUERY_NAMES - {"stream_linkage_clusters"}


@pytest.mark.parametrize("name", list(catalog.ORACLES))
def test_query_matches_its_oracle(spark, duck, name):
    sdf = catalog.QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(catalog.ORACLES[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert check_oracles.value_hash(srows, sdf.columns) == check_oracles.value_hash(
        orows, ocols
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fanout_skips_multi_split_scans(spark, tmp_path):
    """On a fixture with defaultParallelism files per table the scan
    already plans that many splits: the fanned-out queries carry no
    REPARTITION_BY_NUM and return the single-file fixture's rows.  The
    scan (`_t`) and its split count run no Spark job."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    for t in ("documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").repartition(n).write.parquet(
            str(tmp_path / f"{t}.parquet")
        )
        assert len(list((tmp_path / f"{t}.parquet").glob("*.parquet"))) >= n
    multi = str(tmp_path)

    sc.setJobGroup("fanout", "split count")
    try:
        for sf in (SF_DIR, multi):
            catalog._fanout(catalog._t(spark, sf, "embeddings"), "vec_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("fanout") == []

    for name in ("er_fingerprint", "ann_cosine_topk", "ann_label_top1"):
        single_df = catalog.QUERIES[name](spark, SF_DIR)
        multi_df = catalog.QUERIES[name](spark, multi)
        assert "REPARTITION_BY_NUM" in _plan(single_df), name
        assert "REPARTITION_BY_NUM" not in _plan(multi_df), name
        assert sorted(multi_df.collect()) == sorted(single_df.collect()), name
