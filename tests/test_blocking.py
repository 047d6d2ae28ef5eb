"""Blocking + pair generation: recall on near-dup clusters, block-size
caps reported, pair generators checked against a brute-force reference."""

import itertools

from pyspark.sql import functions as F

from biomedical_el_spark.operators import blocking as B
from biomedical_el_spark.operators import pairs as P


def _python_pairs(rows, cap):
    """Brute-force reference: every C(b,2) pair of each block of size
    <= cap, from collected (url, block_key) rows."""
    by_key: dict = {}
    for u, k in rows:
        by_key.setdefault(k, []).append(u)
    return {
        (a, b)
        for us in by_key.values()
        if len(us) <= cap
        for a, b in itertools.combinations(sorted(us), 2)
    }


def test_near_duplicates_share_blocks(spark, pages):
    """The flagship's two channels, built the way run_linkage builds
    them: band keys from the feature signature plus hyperplane buckets
    from the feature embedding."""
    from biomedical_el_spark.functions.embedder import hyperplane_lsh_udf
    from biomedical_el_spark.operators.features import band_keys_from_sig
    from biomedical_el_spark.plans.linkage import LinkageConfig, featurize

    feats = featurize(pages, LinkageConfig()).cache()
    blocks = band_keys_from_sig(feats, bands=16, rows_per_band=2).unionByName(
        feats.select(
            "url",
            (F.lit(1 << 40) + hyperplane_lsh_udf(12)(F.col("vec")).cast("bigint"))
            .alias("block_key"),
        )
    )
    cand, _ = P.candidate_pairs_grouped(blocks, 64)
    ent = pages.select("url", "entity_id")
    j = (
        cand.join(ent.withColumnRenamed("url", "url_a").withColumnRenamed("entity_id", "ea"), "url_a")
        .join(ent.withColumnRenamed("url", "url_b").withColumnRenamed("entity_id", "eb"), "url_b")
    )
    intra = j.filter(F.col("ea") == F.col("eb")).count()
    gold = (
        pages.groupBy("entity_id").count().select((F.col("count") * (F.col("count") - 1) / 2).alias("p"))
        .agg(F.sum("p")).collect()[0][0]
    )
    assert intra / gold >= 0.97  # dual-channel blocking recall on true pairs


def test_tfidf_channel_recall_delta(spark):
    """Pairs sharing only ONE rare distinctive shingle (overall Jaccard
    far below the banding threshold) are invisible to MinHash banding but
    MUST be caught by the rare-shingle TF-IDF channel — the measured
    recall delta that justifies the third channel (reference
    --use_tfidf_candidates)."""
    # 20 filler docs of common tokens; 2 pairs that share only a unique
    # 3-shingle ("zq{i} zr{i} zs{i}") inside otherwise-disjoint text
    common = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(f"f{i:02d}", f"{common} filler{i} note{i} extra{i}") for i in range(20)]
    rows += [
        ("pa1", "alpha beta gamma zq1 zr1 zs1 delta epsilon zeta eta theta iota"),
        ("pa2", "kappa lambada mu zq1 zr1 zs1 nu xi omicron pi rho sigma"),
        ("pb1", "tau upsilon phi zq2 zr2 zs2 chi psi omega one two three"),
        ("pb2", "four five six zq2 zr2 zs2 seven eight nine ten eleven twelve"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    gold = {("pa1", "pa2"), ("pb1", "pb2")}

    minhash = B.shingle_blocks(docs, num_hashes=32, bands=16, rows_per_band=2)
    cand_mh, _ = P.candidate_pairs_grouped(minhash, 64)
    got_mh = {tuple(r) for r in cand_mh.collect()} & gold

    tf = B.tfidf_blocks(docs, k_shingle=3, top_w=2).select("url", "block_key")
    cand_tf, _ = P.candidate_pairs_grouped(tf, 64)
    got_tf = {tuple(r) for r in cand_tf.collect()} & gold

    assert got_mh == set(), f"fixture too similar — banding already catches {got_mh}"
    assert got_tf == gold, f"tfidf channel missed {gold - got_tf}"


def test_tfidf_blocks_shape(spark, pages):
    blk = B.tfidf_blocks(pages, top_w=2)
    assert set(blk.columns) == {"url", "block_key", "df"}
    per_url = blk.groupBy("url").count().agg(F.max("count")).collect()[0][0]
    assert per_url <= 2


def test_oversized_blocks_reported_not_silent(spark, pages):
    blocks = B.shingle_blocks(pages)
    _, oversized = P.candidate_pairs_grouped(blocks, max_block_size=3)
    assert oversized.count() > 0
    assert set(oversized.columns) == {"block_key", "block_size"}


def test_star_escape_bounds_oversized_blocks(spark):
    """Cap-escape semantics: an oversized block contributes b−1 hub pairs
    (min member ↔ each other member), a capped block its full C(b,2);
    escape=None reproduces the round-3 exclusion behavior."""
    rows = [(f"u{i}", "big") for i in range(10)] + [("a", "small"), ("b", "small")]
    blocks = spark.createDataFrame(rows, "url string, block_key string")

    star, over = P.candidate_pairs_grouped(blocks, max_block_size=4, escape="star")
    got = {tuple(r) for r in star.collect()}
    expect = {("a", "b")} | {("u0", f"u{i}") for i in range(1, 10)}
    assert got == expect
    assert {tuple(r) for r in over.collect()} == {("big", 10)}

    excl, over2 = P.candidate_pairs_grouped(blocks, max_block_size=4, escape=None)
    assert {tuple(r) for r in excl.collect()} == {("a", "b")}
    assert {tuple(r) for r in over2.collect()} == {("big", 10)}


def test_grouped_capped_matches_python_pairs(spark, pages):
    """The two-pass capped grouped generator (sizes → anti-join →
    collect) must emit exactly the brute-force pairs of the same blocks
    at the same cap (escape off)."""
    blocks = B.shingle_blocks(pages).cache()
    want = _python_pairs([tuple(r) for r in blocks.collect()], cap=3)
    got, _ = P.candidate_pairs_grouped(blocks, max_block_size=3, escape=None)
    assert {tuple(r) for r in got.collect()} == want


def test_star_escape_recovers_cluster_via_cc(spark):
    """The recall claim behind escape="star": a hot block of genuine
    duplicates, evicted under the cap, still ends up ONE cluster because
    the hub edges pass scoring and transitive closure merges them."""
    from biomedical_el_spark.operators.cc import connected_components

    rows = [(f"u{i}", "hot") for i in range(8)]
    blocks = spark.createDataFrame(rows, "url string, block_key string")
    pairs, _ = P.candidate_pairs_grouped(blocks, max_block_size=4, escape="star")
    comp = connected_components(pairs, src_col="url_a", dst_col="url_b")
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 8


def test_pairs_are_canonical_and_distinct(spark, pages):
    blocks = B.shingle_blocks(pages)
    cand, _ = P.candidate_pairs_grouped(blocks)
    assert cand.filter(F.col("url_a") >= F.col("url_b")).count() == 0
    assert cand.count() == cand.distinct().count()


def test_pair_generators_agree_on_random_block_tables(spark):
    """Property check over 20 seeded random block tables (varying key
    skew and cap): the two-pass and single-exchange grouped plans emit
    the same pair set as the brute-force python reference, and
    star-escape output equals (capped pairs) ∪ (hub pairs of oversized
    blocks) computed independently."""
    import random

    for seed in range(20):
        rng = random.Random(seed)
        n_urls = rng.randint(2, 40)
        n_keys = rng.randint(1, 8)
        cap = rng.randint(2, 6)
        rows = sorted(
            {
                (f"u{rng.randrange(n_urls):02d}", f"k{rng.randrange(n_keys)}")
                for _ in range(rng.randint(1, 120))
            }
        )
        blocks = spark.createDataFrame(rows, "url string, block_key string")

        by_key: dict[str, list[str]] = {}
        for u, k in rows:
            by_key.setdefault(k, []).append(u)
        want_capped = _python_pairs(rows, cap)
        want_star = want_capped | {
            (min(us), u)
            for k, us in by_key.items()
            if len(us) > cap
            for u in us
            if u != min(us)
        }

        g, _ = P.candidate_pairs_grouped(blocks, max_block_size=cap, escape=None)
        st, _ = P.candidate_pairs_grouped(blocks, max_block_size=cap, escape="star")
        se, se_ov = P.candidate_pairs_grouped(
            blocks, max_block_size=cap, escape=None, single_exchange=True
        )
        se_st, _ = P.candidate_pairs_grouped(
            blocks, max_block_size=cap, escape="star", single_exchange=True
        )
        assert {tuple(r) for r in g.collect()} == want_capped, seed
        assert {tuple(r) for r in st.collect()} == want_star, seed
        assert {tuple(r) for r in se.collect()} == want_capped, seed
        assert {tuple(r) for r in se_st.collect()} == want_star, seed
        want_oversized = {k for k, us in by_key.items() if len(us) > cap}
        assert {r.block_key for r in se_ov.collect()} == want_oversized, seed

        # evidence-count gate: pairs sharing >= 2 distinct (capped) blocks
        pair_blocks: dict[tuple[str, str], int] = {}
        for k, us in by_key.items():
            if len(us) <= cap:
                for a, b in itertools.combinations(sorted(us), 2):
                    pair_blocks[(a, b)] = pair_blocks.get((a, b), 0) + 1
        want_min2 = {p for p, n in pair_blocks.items() if n >= 2}
        m2, _ = P.candidate_pairs_grouped(
            blocks, max_block_size=cap, escape=None, min_matches=2
        )
        m2se, _ = P.candidate_pairs_grouped(
            blocks, max_block_size=cap, escape=None,
            single_exchange=True, min_matches=2,
        )
        assert {tuple(r) for r in m2.collect()} == want_min2, seed
        assert {tuple(r) for r in m2se.collect()} == want_min2, seed
        if seed % 5 == 0:
            # star hub pairs are exempt from the gate
            want_min2_star = want_min2 | (want_star - want_capped)
            m2st, _ = P.candidate_pairs_grouped(
                blocks, max_block_size=cap, escape="star", min_matches=2
            )
            m2stse, _ = P.candidate_pairs_grouped(
                blocks, max_block_size=cap, escape="star",
                single_exchange=True, min_matches=2,
            )
            assert {tuple(r) for r in m2st.collect()} == want_min2_star, seed
            assert {tuple(r) for r in m2stse.collect()} == want_min2_star, seed


def test_node_id_is_md5_and_key_safe(spark):
    """`node_id` packs md5(url) into struct<h:bigint,l:bigint> — verify
    bit-exactness against hashlib and that the struct works as a join/
    group key (the properties its docstring promises)."""
    import hashlib

    from biomedical_el_spark.functions.hashing import node_id

    urls = [
        "https://example.com/a",
        "https://example.com/a/very/long/path?q=1&r=2",
        "http://xn--bcher-kva.example/ümlaut/ページ",
        "",
        "x" * 500,
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: (r["nid"]["h"], r["nid"]["l"]) for r in
           df.select("url", node_id(F.col("url")).alias("nid")).collect()}

    def expect(u: str) -> tuple[int, int]:
        d = hashlib.md5(u.encode("utf-8")).digest()
        to_i64 = lambda b: int.from_bytes(b, "big", signed=True)
        return to_i64(d[:8]), to_i64(d[8:])

    assert got == {u: expect(u) for u in urls}

    # struct key round-trips through a shuffle: self-join on nid re-pairs
    # every url with itself exactly once
    keyed = df.select("url", node_id(F.col("url")).alias("nid"))
    j = keyed.join(keyed.withColumnRenamed("url", "url2"), "nid")
    assert sorted((r["url"], r["url2"]) for r in j.collect()) == sorted((u, u) for u in urls)


def test_band_keys_match_column_formula(spark):
    """The SQL-string band keys are bit-identical to the Column form
    they replaced, on random int32 signatures with negatives and
    INT_MIN."""
    import random

    from biomedical_el_spark.operators.features import band_keys_from_sig

    rng = random.Random(7)
    bands, rows = 16, 2
    edge = [-(2**31), 2**31 - 1, -1, 0]
    sigs = [[rng.randint(-(2**31), 2**31 - 1) for _ in range(bands * rows)] for _ in range(60)]
    sigs += [[edge[(i + j) % 4] for j in range(bands * rows)] for i in range(4)]
    feats = spark.createDataFrame(
        [(f"u{i}", s) for i, s in enumerate(sigs)], "url string, sig array<int>"
    )
    column_keys = F.array(*[
        F.xxhash64(F.lit(b), *[F.col("sig").getItem(b * rows + i) for i in range(rows)])
        for b in range(bands)
    ])
    want = feats.select("url", F.explode(column_keys).alias("block_key"))
    got = band_keys_from_sig(feats, bands, rows)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == len(sigs) * bands
